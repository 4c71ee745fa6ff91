package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.queries.EventQueries

/** Laws for the round-9 batch q212–q214: crafted decay topologies the
  * gate SFs cannot reach, plus gate-SF brute-force mirrors (q215's laws
  * live in VectorSearchSpec).
  */
class Round9dLawsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q212

  test("law: q212 buckets conserve docs, are score-disjoint and " +
    "tie-stable, and match a driver-side boundary mirror") {
    val docs = Tables.documents(spark, sf)
      .select("n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").length.toLong))
    val scores = docs.map { case (nc, nw) => (nc * 100 / nw, nw) }
    val n = scores.length.toLong
    val below = scores.map(_._1).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    def bucket(s: Long): Long =
      scores.count(_._1 < s).toLong * 10 / n
    val expect = scores.groupBy { case (s, _) => bucket(s) }.toSeq
      .map { case (b, g) =>
        (b, g.length.toLong, g.map(_._1).min, g.map(_._1).max,
          g.map(_._2).sum)
      }.sortBy(_._1)
    val got = SparkEntry.queries("q212_curriculum")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
    assert(got.map(_._2).sum == n)
    // disjoint, ordered score ranges — a tie can never straddle buckets
    got.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 < b._3)
      case _ =>
    }
    assert(below.nonEmpty)
  }

  // ---------------------------------------------------------------- q213

  test("law: q213 crafted decay — 1000x value halves per 7-day epoch, " +
    "caps at 40 epochs, drops non-positive values") {
    val anchor = Timestamp.valueOf("2026-02-01 00:00:00")
    val mxUs = anchor.getTime * 1000L
    def ago(days: Int) =
      new Timestamp(anchor.getTime - days.toLong * 86400000L)
    val rows = Seq(
      (1L, anchor, 2.0), // age 0: wt 2000
      (1L, ago(7), 2.0), // 1 epoch: 1000
      (1L, ago(14), 2.0), // 2 epochs: 500
      // 50 epochs old but capped at 40: 3e12 >> 40 = 2 (uncapped would
      // be 3e12 >> 50 = 0 — the cap is what this row proves)
      (2L, ago(7 * 50), 3.0e9),
      (3L, anchor, -5.0), // dropped
      (3L, anchor, 0.0)) // dropped
      .toDF("user_id", "ts", "value")
    val got = EventQueries.freshnessCore(rows, mxUs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // user 1: 3500 -> bin length 12; user 2: score 2 -> bin length 2
    assert(got == Seq((2L, 1L, 2L), (12L, 1L, 3500L)), s"got $got")
  }

  test("law: q213 at the gate SF equals a driver-side decay mirror") {
    val mxUs = Tables.events(spark, sf)
      .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val scores = ev.collect { case (u, tsu, Some(v)) if v > 0 =>
      val epochs = math.min((mxUs - tsu) / 604800000000L, 40L)
      (u, math.floor(v * 1000).toLong >> epochs.toInt)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expect = scores.values.groupBy(s =>
      java.lang.Long.toBinaryString(s).length.toLong).toSeq
      .map { case (b, g) => (b, g.size.toLong, g.sum) }.sortBy(_._1)
    val got = SparkEntry.queries("q213_freshness")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expect)
  }

  // ---------------------------------------------------------------- q214

  test("law: q214 at the gate SF equals a driver-side fold mirror") {
    val docs = Tables.documents(spark, sf)
      .select("lang", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expect = docs.groupBy(_._1).toSeq.map { case (lang, g) =>
      val words = g.map(_._3.split(" ").length.toLong).sum
      val toks = g.map(_._3.split(" ")
        .map(w => (w.length + 3L) / 4L).sum).sum
      val chars = g.map(_._2).sum
      (lang, words, toks, toks * 1000000L / words, chars * 100L / toks)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q214_tokenizer_fertility")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
  }
}
