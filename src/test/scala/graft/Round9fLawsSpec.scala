package graft

import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** Laws for q219–q220: a crafted topology (an all-duplicates language)
  * plus the closed-form proof for q219's mask arithmetic and gate-SF
  * mirrors (q218's laws live in VectorSearchSpec).
  */
class Round9fLawsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q219

  test("law: q219 closed form equals the positional mask definition " +
    "for n = 1..199") {
    for (n <- 1 to 199) {
      val maskedPos = (0 until n).count(p => (p / 3) % 7 == 0)
      val spansPos = (0 until n).filter(p => (p / 3) % 7 == 0)
        .map(_ / 3).distinct.size
      val nb = (n + 2) / 3
      val m = (nb - 1) / 7 + 1
      val overhang = if ((nb - 1) % 7 == 0) 3 * nb - n else 0
      assert(3 * m - overhang == maskedPos, s"n=$n masked")
      assert(m == spansPos, s"n=$n spans")
    }
  }

  test("law: q219 at the gate SF equals a positional-definition mirror") {
    val docs = Tables.documents(spark, sf).select("lang", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).toSeq.map { case (lang, g) =>
      val stats = g.map { case (_, t) =>
        val n = t.split(" ").length
        val masked = (0 until n).count(p => (p / 3) % 7 == 0)
        val spans = (0 until n).filter(p => (p / 3) % 7 == 0)
          .map(_ / 3).distinct.size
        (n.toLong, masked.toLong, spans.toLong)
      }
      val (ns, ms, ss) = (stats.map(_._1).sum, stats.map(_._2).sum,
        stats.map(_._3).sum)
      (lang, g.length.toLong, ns - ms + ss, ms + ss, ms * 1000000L / ns)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q219_span_corruption")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
  }

  // ---------------------------------------------------------------- q220

  test("law: q220 crafted — a lang of pure duplicates loses share, the " +
    "others gain, and survivor counts are exact") {
    val rows = Seq(
      // lang aa: 4 copies of one text -> 1 survivor
      (1L, "aa", "x x x"), (2L, "aa", "x x x"),
      (3L, "aa", "x x x"), (4L, "aa", "x x x"),
      // lang bb: 4 distinct -> 4 survivors
      (5L, "bb", "b1"), (6L, "bb", "b2"), (7L, "bb", "b3"),
      (8L, "bb", "b4"))
      .toDF("doc_id", "lang", "text")
    val got = DedupQueries.dedupShiftCore(rows).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // pre: aa 4/8 = 500000 ppm, bb 500000; post: aa 1/5 = 200000,
    // bb 4/5 = 800000 -> shifts 300000 each
    assert(got == Seq(("aa", 4L, 1L, 300000L), ("bb", 4L, 4L, 300000L)),
      s"got $got")
  }

  test("law: q220 cross-lang duplicate — the survivor's lang is the " +
    "smallest doc_id's lang") {
    val rows = Seq(
      (10L, "aa", "same text"), (11L, "bb", "same text"),
      (12L, "bb", "other")).toDF("doc_id", "lang", "text")
    val got = DedupQueries.dedupShiftCore(rows).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(got == Map("aa" -> 1L, "bb" -> 1L)) // bb's dup copy dropped
  }
}
