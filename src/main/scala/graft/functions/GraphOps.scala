package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the step that turns near-duplicate
  * PAIRS (LSH / cosine candidates) into duplicate GROUPS, i.e. the tail of
  * every dedup pipeline: label each doc with its group's canonical (min)
  * id, keep one representative per group.
  *
  * Min-label propagation, Pregel-style: every node starts labeled with its
  * own id; each round takes the min of its own and its neighbors' labels;
  * stop when the global label sum stops falling (labels only decrease, so
  * equal sum == fixpoint — an O(1)-row action per round, no row-level
  * diff). Rounds needed = max BFS distance from a component's min node —
  * for LSH graphs (overlapping near-cliques) a handful. Each round is one
  * shuffle join + partial-agg min; intermediate labels persist and the
  * previous round unpersists, so memory stays one label table.
  *
  * Measured and rejected: disabling AQE for the loop (3.7x SLOWER — AQE's
  * shuffle-partition coalescing is what keeps the tiny per-round shuffles
  * from fanning out to full-width task waves), an f³ pointer
  * composition (saves ~1 round on chain-like graphs, pays a join every
  * round), and large-star/small-star contraction (Kiveris et al.; lost
  * the bench-off because the partition-local pre-contraction in
  * [[connectedComponents]] already shrinks the edge set below its
  * working set, PLANS.md q92).
  */
object GraphOps {

  /** edges: DataFrame with two integral id columns; returns (id, label)
    * with label = min id reachable. Isolated nodes (absent from edges) are
    * absent from the output — union them in upstream if needed.
    *
    * Two-level: a partition-LOCAL union-find pre-contraction (mapPartitions
    * over the edges as partitioned — no shuffle, memory bounded by
    * partition size) collapses every within-partition subgraph to its min
    * root; the global loop then propagates only over the contracted "star"
    * graph (one edge per (node, extra-root) crossing a partition
    * boundary). Cross-partition connectivity survives because a node
    * appearing in several partitions links all its local roots. At sf0.1
    * this shrinks the rp graph from ~8k edges / max-distance 8 to ~0.5k
    * edges / max-distance 3 (6 propagation rounds -> 3); at 100 TB it is
    * the difference between re-shuffling the full edge set every round and
    * shuffling only partition-boundary roots. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).persist()
    import e.sparkSession.implicits._
    // per-partition union-find with path compression + min-root union;
    // emits one (node, local root) pair per node per partition
    val nodeRoots = e.as[(Long, Long)].mapPartitions { it =>
      val par = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (par(x) != x) { par(x) = par(par(x)); x = par(x) }
        x
      }
      it.foreach { case (a, b) =>
        par.getOrElseUpdate(a, a); par.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) par(rb) = ra else if (rb < ra) par(ra) = rb
      }
      par.keysIterator.map(n => (n, find(n))).toList.iterator
    }.toDF("id", "root")
    // one eager checkpoint materializes the (possibly expensive) edge
    // pipeline + contraction; everything downstream reads this tiny table.
    // roots-per-node is bounded by the partition count. The observe()
    // metric rides the same job: if no node straddles partitions (the
    // whole edge set landed in one partition — common after AQE coalesces
    // a small pipeline), the contraction IS the answer and the loop is
    // skipped outright.
    val (nm, nmMetrics) = Scale.checkpointObserved(
      nodeRoots.groupBy("id")
        .agg(min("root").as("m"), collect_set("root").as("roots")),
      sum(when(size(col("roots")) > 1, 1L).otherwise(0L)).as("multi"))
    val anyCross = nmMetrics("multi") > 0L
    e.unpersist()
    if (!anyCross) return nm.select(col("id"), col("m").as("lbl"))
    // contracted star edges (min root -> each other root), symmetrized
    val star = nm.select(col("m").as("src"), explode(col("roots")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val und = star.union(star.select(col("dst").as("src"),
      col("src").as("dst")))
    // localCheckpoint (eager), NOT persist: each round's plan references
    // the previous labels twice (union + join), so lineage doubles per
    // round — by round ~10 the planner itself OOMs. Checkpointing cuts the
    // plan to a LogicalRDD of constant size; superseded checkpoint blocks
    // are reclaimed by the ContextCleaner when the DataFrame is GC'd.
    // Init folds the FIRST neighbor-propagation step into the node-set
    // aggregation (min over self + direct neighbors), saving one round.
    // The convergence sum rides the eager-checkpoint job itself, so each
    // round is ONE blocking driver action (Scale.checkpointObserved).
    def checkpointWithSum(df: DataFrame): (DataFrame, Long) = {
      val (out, m) = Scale.checkpointObserved(df, sum("lbl").as("s"))
      (out, m("s"))
    }
    var (labels, lblSum) = checkpointWithSum(
      und.groupBy(col("src").as("id"))
        .agg(least(min(col("src")), min(col("dst"))).as("lbl")))
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // ONE join per round: union the label table in as pointer edges
      // (id -> lbl), then a single equi-join against labels-keyed-by-dst
      // computes BOTH the neighbor step (via real edges: lbl(nbr)) and the
      // pointer jump (via the pointer edge: lbl(lbl(x))) in the same
      // shuffle. The self label survives through the pointer edge
      // (lbl(lbl(x)) <= lbl(x), labels are a total map over the node set),
      // so no third union branch. Self-joining `labels` is safe because it
      // is a checkpointed LogicalRDD, not a shared live subtree. Same
      // fixpoint as the two-join form; ~2 fewer stage barriers per round
      // (measured: the loop is fixed-overhead-bound at small SF). A deeper
      // f³ composition was measured and reverted earlier — saved ~1 round,
      // paid a join every round.
      val ptrEdges = und.union(
        labels.select(col("id").as("src"), col("lbl").as("dst")))
      val (updated, newSum) = checkpointWithSum(
        ptrEdges.join(labels.select(col("id").as("dst"),
            col("lbl").as("nlbl")), "dst")
          .groupBy(col("src").as("id")).agg(min("nlbl").as("lbl")))
      labels = updated
      converged = newSum == lblSum
      lblSum = newSum
      i += 1
    }
    // compose: every node's final label is the global label of its min
    // local root (roots without a star edge keep themselves)
    nm.select(col("id"), col("m"))
      .join(labels.select(col("id").as("lid"), col("lbl")),
        col("m") === col("lid"), "left")
      .select(col("id"), coalesce(col("lbl"), col("m")).as("lbl"))
  }

  /** Deterministic fixed-iteration PageRank in INTEGER fixed-point — the
    * graph-centrality reducer of the family (CC gives membership, this
    * gives importance: source/document authority weighting for corpus
    * curation). All arithmetic is scaled-long floor division, so the
    * result is bit-identical across engines and partitionings (a double
    * PageRank is summation-order-dependent — never gate-checkable):
    * total mass `totScale` (1e12 — quotient precision ~1e-12 of total),
    * r0 = totScale/n, and per iteration
    * r'(v) = (15% of totScale)/n + 85% * Σ_{u→v} (r(u) div outdeg(u)),
    * every div a floor. Dangling mass simply decays (no redistribution)
    * — the oracle applies the identical rule, and ranking is unaffected
    * for the curation use case.
    *
    * Scale shape: edge+degree table built once and checkpointed; each
    * iteration is ONE shuffle join (ranks onto edges by src) + one
    * partial+final sum agg + a left join back onto the node set, with an
    * eager localCheckpoint cutting lineage per round (the CC lesson: a
    * persist-only loop doubles the plan every round). Iterations are
    * FIXED (not convergence-tested): deterministic cost, and an exactly
    * unrollable oracle. */
  def pageRank(edges: DataFrame, iters: Int = 3,
      totScale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outd"))
    // one (src, dst, outd) table feeds every round. DISK_ONLY: this is
    // the EDGE-scale table, and checkpoint blocks are non-evictable —
    // pinned in MEMORY_AND_DISK it starved execution memory at the
    // 1000x replica (100M edges; SparkOutOfMemoryError in the rank
    // join). Sequential disk reads per round are cheap; the rank tables
    // (node-scale) stay in memory.
    val ed = e.join(deg, "src")
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pageRank on an empty graph")
    val base = totScale * 15L / 100L / n
    var ranks = nodes.select(col("id"), lit(totScale / n).as("r"))
    for (_ <- 1 to iters) {
      val contribs = ed
        .join(ranks.withColumnRenamed("id", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst").as("id"), expr("r div outd").as("c"))
        .groupBy("id").agg(sum("c").as("m"))
      val prev = ranks
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("85 * coalesce(m, CAST(0 AS BIGINT)) div 100"))
            .as("r"))
        .localCheckpoint(true)
      // the new checkpoint is materialized; the superseded round's
      // blocks are dead weight — release them. NOTE Dataset.unpersist
      // is a NO-OP here (checkpoint blocks are plain RDD storage, never
      // registered in the CacheManager); the release must unpersist the
      // checkpointed RDD inside the LogicalRDD plan itself.
      releaseLocalCheckpoint(prev)
    }
    ranks
  }

  /** Free the storage blocks of an eagerly localCheckpoint'ed Dataset.
    * `Dataset.unpersist` only consults the CacheManager, which never
    * sees checkpoint blocks — they otherwise stay pinned (and they are
    * NON-EVICTABLE) until driver GC. Safe once every consumer of the
    * checkpointed data has itself been materialized. No-op on a
    * non-checkpointed Dataset. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    // match ONLY the top-level node: df must BE the checkpoint. A deep
    // collectFirst would also match checkpoints merely referenced in a
    // derived plan (round 1's ranks is a projection OVER the nodes
    // checkpoint) and free blocks that later rounds still need.
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
