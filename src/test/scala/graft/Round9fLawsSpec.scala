package graft

import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** Laws for q218–q220: crafted topologies (a perfect-match multi-vector
  * doc, an all-duplicates language) plus the closed-form proof for
  * q219's mask arithmetic and gate-SF mirrors.
  */
class Round9fLawsSpec extends SparkSpec {
  import spark.implicits._
  import VectorSearchSpec.{dotD, halfUp}

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q218

  test("law: q218 crafted — the doc holding the query's own 4 token " +
    "vectors scores Σ_i max_j <q_i,q_j> and ranks first") {
    val qv: Seq[Float] = (0 until 64).map(i => ((i % 5) + 1) * 0.1f)
    val weak: Seq[Float] = (0 until 64).map(_ => 0.01f)
    val rows = Seq(
      (30L, qv), // the query itself (excluded)
      (1L, qv), // exact multi-vector match
      (2L, weak), (3L, weak.map(_ * 2)), (4L, weak.map(_ * 3)),
      (5L, weak.map(_ * 4)), (6L, weak.map(_ * 5)))
    val got = DedupQueries.maxSimCore(spark,
      rows.toDF("vec_id", "embedding"), Seq((30L, qv))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // mirror: score of doc 1 = Σ_i max_j rq(dot(q_i, q_j))
    val expectTop = (0 until 4).map { i =>
      (0 until 4).map(j =>
        halfUp(dotD(qv, qv, j * 16, j * 16 + 16) * 10000)).max
    }.sum
    // (dot over slice i of q against slice j of doc — doc 1 IS qv, so
    // max_j includes j = i, the self term, which dominates here)
    assert(got.head._3 == 1L && got.head._2 == 1L)
    val gotTop = got.head._4
    val mirror = (0 until 4).map { i =>
      (0 until 4).map { j =>
        var acc = 0.0; var t = 0
        while (t < 16) {
          acc += qv(j * 16 + t).toDouble * qv(i * 16 + t).toDouble; t += 1
        }
        halfUp(acc * 10000)
      }.max
    }.sum
    assert(gotTop == mirror, s"got $gotTop expect $mirror ($expectTop)")
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("law: q218 at the gate SF equals a driver-side MaxSim mirror") {
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probes = e.filter(p => p._1 >= 30 && p._1 < 34).sortBy(_._1)
    val expect = probes.flatMap { case (qid, qv) =>
      e.filter(_._1 != qid).map { case (id, v) =>
        val score = (0 until 4).map { i =>
          (0 until 4).map { j =>
            var acc = 0.0; var t = 0
            while (t < 16) {
              acc += v(j * 16 + t).toDouble * qv(i * 16 + t).toDouble
              t += 1
            }
            halfUp(acc * 10000)
          }.max
        }.sum
        (id, score)
      }.sortBy { case (id, sc) => (-sc, id) }.take(5)
        .zipWithIndex.map { case ((id, sc), k) => (qid, k + 1L, id, sc) }
    }.toSeq
    val got = SparkEntry.queries("q218_maxsim")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
  }

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
