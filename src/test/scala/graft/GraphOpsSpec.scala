package graft

import org.apache.spark.sql.functions._
import graft.functions.GraphOps
import graft.queries.DedupQueries

/** Connected components (min-label propagation) — known-answer graphs,
  * including a path graph that needs several propagation rounds. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The reference answer: a plain-Scala union-find with min-root union,
    * node -> min id of its component, over every node named by an edge. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val par = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (par(x) != x) { par(x) = par(par(x)); x = par(x) }
      x
    }
    edges.foreach { case (a, b) =>
      par.getOrElseUpdate(a, a); par.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) par(rb) = ra else if (rb < ra) par(ra) = rb
    }
    par.keys.map(n => n -> find(n)).toMap
  }

  test("two triangles and an isolated edge") {
    val got = components(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("path graph converges past one round (distance > 1 from min)") {
    // 0-1-2-...-9: node 9 is 9 hops from the min label's source
    val got = components((0L until 9L).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(0L))
    assert(got.size == 10)
  }

  test("min id wins regardless of edge direction") {
    val got = components(Seq((5L, 3L), (3L, 7L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 3L))
  }

  test("two-level CC: forced multi-partition spread engages the global loop") {
    // repartition(8) scatters each component's edges across partitions, so
    // the local union-find can NOT finish alone (anyCross) and the
    // propagation loop over the contracted star graph must merge the
    // partial roots. Reference answer computed by an in-test union-find.
    val rng = new scala.util.Random(42)
    val edges = (0L until 200L).map(i => (i, i + 1)) ++ // long path
      Seq.fill(300)((rng.nextInt(400).toLong + 500L,
        rng.nextInt(400).toLong + 500L)).filter(e => e._1 != e._2)
    val want = unionFind(edges)
    val got = GraphOps
      .connectedComponents(edges.toDF("a", "b").repartition(8), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("connectedComponents agrees with an in-test union-find on random " +
    "graphs, a path + star + isolated edge, and a self-loop-only node") {
    val rng = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rng.nextInt(50).toLong, rng.nextInt(50).toLong))
        .filter { case (a, b) => a != b }.distinct
      assert(components(edges) == unionFind(edges), s"trial $trial")
    }
    // path graph (the most propagation rounds) + self-contained star +
    // isolated edge
    val mixed = (0L until 12L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (200L, 201L))
    assert(components(mixed) == unionFind(mixed))
    // a node appearing ONLY in a self-loop survives as its own singleton
    // component
    val loops = Seq((1L, 2L), (9L, 9L))
    val cl = components(loops)
    assert(cl == unionFind(loops))
    assert(cl(9L) == 9L)
  }

  test("delta-frontier rounds: deep chains + late pointer retargets converge exactly (r15)") {
    // The r15 delta rounds only probe frontier-adjacent rows; the
    // dangerous case is a node whose POINTER retargets (its label
    // changes) onto a node that changed in an EARLIER round — branch (c)
    // must re-probe the fresh pointer or the chain converges late/wrong.
    // Deep paths spread over many partitions maximize retargeting, and
    // descending id order makes every hop a label change. Reference:
    // in-test union-find.
    val rng = new scala.util.Random(1315)
    (0 until 1).foreach { trial =>
      // descending chains cross-linked at random points (sized so the
      // loop stays within the suite's time budget — each propagation
      // round is a full driver action)
      val chains = (0 until 2).flatMap { c =>
        val base = 1000L * c
        (0L until 20L).map(i => (base + 20L - i, base + 19L - i))
      }
      val cross = Seq.fill(3)(
        (rng.nextInt(2) * 1000L + rng.nextInt(20),
          rng.nextInt(2) * 1000L + rng.nextInt(20))).filter(e => e._1 != e._2)
      val edges = (chains ++ cross).distinct
      val want = unionFind(edges)
      val got = GraphOps
        .connectedComponents(edges.toDF("a", "b").repartition(16), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial diverged")
    }
  }

  test("pageRank releases superseded round checkpoints (no block leak)") {
    // checkpoint blocks are non-evictable and Dataset.unpersist never
    // sees them (CacheManager-only); pageRank must free each superseded
    // round's rank RDD itself. Persistent-RDD census before vs after:
    // a 5-iter run may retain the edge table, nodes, and the FINAL
    // ranks (+1 slack for asynchronous cleanup) but not 5 rank tables.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    GraphOps.pageRank(edges.toDF("src", "dst"), iters = 5).count()
    val leaked = sc.getPersistentRDDs.keySet.diff(before)
    assert(leaked.size <= 4,
      s"expected <=4 retained checkpoint RDDs (edges, nodes, final " +
        s"ranks, +1 slack), got ${leaked.size}")
  }

  test("pageRank matches a scalar reference implementation exactly") {
    // star (hub 1 -> 2,3,4), chain 2->5->6, and a sink-only node 6:
    // exercises fan-out division, multi-hop mass flow, and dangling decay
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (5L, 6L),
      (3L, 2L))
    val got = GraphOps.pageRank(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // scalar reference: identical integer fixed-point recurrence
    val tot = 1000000000000L
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toLong
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = tot * 15L / 100L / n
    var r = nodes.map(_ -> tot / n).toMap
    (1 to 3).foreach { _ =>
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d) => m(d) += r(s) / out(s) }
      r = nodes.map(v => v -> (base + 85L * m(v) / 100L)).toMap
    }
    assert(got == r)
    // mass decays (dangling node 6 leaks) but stays positive everywhere
    assert(got.values.forall(_ > 0))
    // hub targets with equal in-structure tie exactly (3 and 4 both get
    // only 1/3 of node 1's mass each round)
    assert(got(3L) == got(4L))
  }

  test("pageRank is partitioning-invariant (integer arithmetic)") {
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(300)((rng.nextInt(40).toLong,
      rng.nextInt(40).toLong)).filter(e => e._1 != e._2)
    val a = GraphOps.pageRank(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.pageRank(edges.toDF("src", "dst").repartition(13),
        iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  // ---------------------------------------------------------------- q241

  test("law: q241 a 3-clique closes its only wedge — closure_ppm 1e6") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val lab = Seq((1L, 0), (2L, 0), (3L, 0)).toDF("vec_id", "label")
    val got = DedupQueries.triangleCensusCore(e, lab, "shuffle_hash")
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((0L, 1L, 1L, 1000000L)), s"got $r")
  }

  test("law: q241 a path closes nothing — closure_ppm 0; labels group " +
    "by the wedge ROOT's label") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val lab = Seq((1L, 7), (2L, 8), (3L, 9)).toDF("vec_id", "label")
    val got = DedupQueries.triangleCensusCore(e, lab, "shuffle_hash")
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 1L, 0L, 0L)), s"got $r")
  }

  test("law: q241 join strategy is output-invariant — the corpus-scale " +
    "merge path (engaged above 2^18 vectors, e.g. the 1000x replica) " +
    "produces byte-identical rows to the gate SFs' shuffled-hash path") {
    val sfDir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L)).toDF("id_a", "id_b")
    val lab = (1L to 6L).map(i => (i, (i % 2).toInt))
      .toDF("vec_id", "label")
    val shj = DedupQueries.triangleCensusCore(edges, lab, "shuffle_hash")
      .collect().toSeq
    val smj = DedupQueries.triangleCensusCore(edges, lab, "merge")
      .collect().toSeq
    assert(shj == smj, s"shj=$shj smj=$smj")
    assert(e.count() > 0) // fixture sanity
  }

  // ---------------------------------------------------------------- q253

  test("law: q253 a 4-node path from its canonical has depths 0,1,2,3; " +
    "isolated nodes land at depth 0") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val uni = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
    val got = DedupQueries.chainDepthCore(spark, e, uni).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L), s"$got")
  }

  test("law: q253 depth caps at 8 — a 12-node chain buckets its three " +
    "deepest nodes at 9 (mirroring the oracle's recursion guard)") {
    val e = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val uni = (1L to 12L).toDF("vec_id")
    val got = DedupQueries.chainDepthCore(spark, e, uni).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0L to 8L).map(d => d -> 1L).toMap + (9L -> 3L)
    assert(got == expect, s"$got")
  }
}
