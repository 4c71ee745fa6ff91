package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.types._

import graft.functions.Aggregators.{AM, ArgMinAgg, MG, MGState, MinK, MinKH}

/** The kernel micro layer: ns/row of each native `plans` kernel and each
  * Aggregator buffer on seeded synthetic rows, next to the twin it
  * replaced.
  *
  * A kernel and its twin are both compiled the way a query runs them —
  * one `UnsafeProjection` each over the same bound input — and timed on
  * one thread. Every row's two outputs must be equal; a mismatch is
  * reported as a failure. The buffer pairs (MinKH/MinK, MGState/MG) are
  * driven through their public `add` and must end in the same state.
  */
object Kernels {
  private val Vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(" ")
  private val Rows = 1000
  private val Reps = 3
  private val WarmNs = 200000000L

  /** (metric name, kernel SQL, twin SQL) over columns s, ws, a, b, x, y. */
  private val pairs = Seq(
    ("md5_prefix64", "md5_prefix64(s)",
      "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)"),
    ("dot_product", "dot_product(a, b)",
      "aggregate(zip_with(a, b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"),
    ("bpe_count", "BPE",
      "aggregate(transform(ws, w -> CAST(size(split(trim(" +
        Merges.foldLeft("concat(' ', regexp_replace(w, '(.)', '$1 '))") {
          case (acc, (l, r)) => s"replace($acc, ' $l $r ', ' $l$r ')" } +
        "), ' ')) AS BIGINT)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"),
    ("cdc_cuts", "cdc_cuts(s)",
      "CAST(transform(array(transform(split(s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "cps -> CASE WHEN size(cps) <= 16 THEN array() ELSE " +
        "filter(sequence(16, size(cps) - 1), i -> pmod(aggregate(" +
        "slice(cps, i - 15, 16), CAST(0 AS BIGINT), (acc, v) -> acc + v) " +
        "* 2654435761, 64) = 0) END)[0] AS ARRAY<BIGINT>)"),
    ("min_shingle_md5_hex", "min_shingle_md5_hex(ws, 5)",
      "CASE WHEN size(ws) < 5 THEN NULL ELSE array_min(transform(" +
        "sequence(1, size(ws) - 4), i -> md5(array_join(slice(ws, i, 5), ' ')))) END"),
    ("array_intersect", "size(array_intersect(x, y))",
      "size(filter(array_distinct(x), v -> array_contains(y, v)))"))

  private lazy val Merges = Seq(("a", "t"), ("e", "r"), ("s", "t"),
    ("i", "n"), ("o", "r"), ("a", "l"))

  def run(spark: SparkSession, seed: Long): mutable.LinkedHashMap[String, Double] = {
    val rnd = new scala.util.Random(seed)
    def words(lo: Int, hi: Int) =
      Seq.fill(lo + rnd.nextInt(hi - lo))(Vocab(rnd.nextInt(Vocab.length)))
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    def ids() = Seq.fill(20 + rnd.nextInt(40))(rnd.nextInt(400).toLong)
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("ws", ArrayType(StringType)),
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType)),
      StructField("x", ArrayType(LongType)), StructField("y", ArrayType(LongType))))
    val rows = (0 until Rows).map { _ =>
      val ws = words(10, 100)
      Row(ws.mkString(" "), ws, vec().toSeq, vec().toSeq, ids(), ids())
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val out = mutable.LinkedHashMap[String, Double]()
    var mismatches = 0L
    pairs.foreach { case (name, kSql, tSql) =>
      val plan = df.selectExpr("0 AS k", tSql).queryExecution.analyzed
        .asInstanceOf[Project]
      val local = plan.child.asInstanceOf[LocalRelation]
      val input = local.data.toArray
      def bind(e: Expression) = BindReferences.bindReference(
        e match { case a: Alias => a.child; case o => o }, local.output)
      val kernel =
        if (kSql == "BPE") bind(graft.plans.BpeCount(
          plan.child.output.find(_.name == "ws").get,
          Merges.map(_._1), Merges.map(_._2)))
        else bind(df.selectExpr(kSql).queryExecution.analyzed
          .asInstanceOf[Project].projectList.head)
      val twin = bind(plan.projectList(1))
      val kp = UnsafeProjection.create(Seq(kernel))
      val tp = UnsafeProjection.create(Seq(twin))
      input.foreach { r =>
        if (kp(r).copy() != tp(r).copy()) mismatches += 1
      }
      out(s"kernel.$name.ns_row") = nsPerRow(input, r => kp(r))
      out(s"kernel.$name.twin_ns_row") = nsPerRow(input, r => tp(r))
    }
    // Aggregator buffers, on seeded values: k = 64 as at the q240 sites
    val k = 64
    val n = 50000
    val longs = Array.fill(n)(rnd.nextLong())
    val terms = Array.fill(n) {
      val z = math.pow(1000, rnd.nextDouble()).toInt // ~1/j over 1000 terms
      s"t$z"
    }
    val dists = Array.fill(n)(rnd.nextDouble())
    var minK = MinK(k, Nil)
    out("agg.mink.ns_row") = timeLoop(n, 1) { minK = MinK(k, Nil)
      var i = 0; while (i < n) { minK = minK.add(longs(i)); i += 1 } }
    var minKH = MinKH(k, new Array[Long](k), 0)
    out("agg.minkh.ns_row") = timeLoop(n, Reps) {
      minKH = MinKH(k, new Array[Long](k), 0)
      var i = 0; while (i < n) { minKH.add(longs(i)); i += 1 } }
    if (minKH.sortedVals != minK.vals) mismatches += 1
    var mg = MG(k, Map.empty)
    out("agg.mg.ns_row") = timeLoop(n, 1) { mg = MG(k, Map.empty)
      var i = 0; while (i < n) { mg = mg.add(terms(i), 1L); i += 1 } }
    var mgs = MGState(k, new Array[String](k), new Array[Long](k), 0)
    out("agg.mgstate.ns_row") = timeLoop(n, Reps) {
      mgs = MGState(k, new Array[String](k), new Array[Long](k), 0)
      var i = 0; while (i < n) { mgs.add(terms(i), 1L); i += 1 } }
    if (mgs.toSortedSeq.toMap != mg.counts) mismatches += 1
    var am: AM = ArgMinAgg.zero
    out("agg.argmin.ns_row") = timeLoop(n, Reps) { am = ArgMinAgg.zero
      var i = 0; while (i < n) { am = ArgMinAgg.reduce(am, (dists(i), i.toLong)); i += 1 } }
    if (am.v != dists.indices.minBy(dists(_))) mismatches += 1
    out("kernel.mismatches") = mismatches.toDouble
    out
  }

  /** Median ns per row over Reps timed sweeps, after warm sweeps for at
    * least WarmNs (at least one), so the JIT has compiled the loop. */
  private def nsPerRow(rows: Array[InternalRow], f: InternalRow => Any): Double =
    timeLoop(rows.length, Reps) {
      var i = 0; while (i < rows.length) { f(rows(i)); i += 1 } }

  private def timeLoop(n: Int, reps: Int)(body: => Unit): Double = {
    val w0 = System.nanoTime()
    body
    while (System.nanoTime() - w0 < WarmNs) body
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / n
    }
    GraftBench.median(ts)
  }
}
