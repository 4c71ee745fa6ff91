package graft

import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** Laws for the round-10 operators; those of the vector-search
  * evaluations (q224, q226, q233, q238) live in VectorSearchSpec.
  */
class Round10LawsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q225

  test("law: q225 crafted 2-dim corpus — cov = n·Σq0q1 − Σq0·Σq1 " +
    "exactly (hand-computed: 3·12e6 − 2000·7000 = 22e6)") {
    val rows = Seq(
      (1L, Seq(0.1f, 0.2f)),
      (2L, Seq(0.3f, 0.4f)),
      (3L, Seq(-0.2f, 0.1f)))
    val got = DedupQueries.embCovarianceCore(
      rows.toDF("vec_id", "embedding")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 0L, 1L, 22000000L)), s"got ${r}")
  }

  test("law: q225 anti-correlated pair ranks first with negative cov; " +
    "|cov| ordering beats raw ordering") {
    // dims: d0 = x, d1 = -x (perfect anti-corr), d2 = tiny noise
    val rows = Seq(
      (1L, Seq(0.4f, -0.4f, 0.001f)),
      (2L, Seq(-0.3f, 0.3f, -0.001f)),
      (3L, Seq(0.1f, -0.1f, 0.002f)))
    val got = DedupQueries.embCovarianceCore(
      rows.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 3)
    assert(got.head._2 == 0L && got.head._3 == 1L && got.head._4 < 0L,
      s"got ${got.toSeq}")
  }

  test("law: q225 at the gate SF equals a driver-side exact integer " +
    "Gram mirror (all 16 rows)") {
    val e = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).map(x =>
        BigDecimal(x.toDouble * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val d = e.head.length
    val n = e.length.toLong
    val s = (0 until d).map(i => e.map(_(i)).sum)
    val expect = (for {
      i <- 0 until d; j <- (i + 1) until d
    } yield {
      val sij = e.map(v => v(i) * v(j)).sum
      (i.toLong, j.toLong, n * sij - s(i) * s(j))
    }).sortBy { case (i, j, c) => (-math.abs(c), i, j) }.take(16)
      .zipWithIndex.map { case ((i, j, c), k) => (k + 1L, i, j, c) }
    val got = SparkEntry.queries("q225_emb_covariance")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
  }

  // ---------------------------------------------------------------- q227

  test("law: q227 contribution cap — a 100-event user adds exactly 4 " +
    "to its cell and the release equals max(n_capped + noise, 0) with " +
    "noise in [-6, 6]") {
    import java.sql.Timestamp
    // all events in one (type, dow) cell: epoch-day 0 (dow 0)
    val heavy = (1 to 100).map(i =>
      (Timestamp.from(java.time.Instant.ofEpochSecond(i)), "click", 7L))
    val light = Seq(
      (Timestamp.from(java.time.Instant.ofEpochSecond(200)), "click", 8L),
      (Timestamp.from(java.time.Instant.ofEpochSecond(300)), "click", 8L))
    val df = (heavy ++ light).toDF("ts", "event_type", "user_id")
    val got = graft.queries.EventQueries.dpReleaseCore(df).collect()
    assert(got.length == 1)
    val r = got.head
    val (cap, noise, rel) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert(cap == 6L, s"cap ${cap}") // min(100,4) + min(2,4)
    assert(noise >= -6L && noise <= 6L)
    assert(rel == math.max(cap + noise, 0L))
  }

  test("law: q227 dow split — events 3 epoch-days apart land in " +
    "different cells with independent caps") {
    import java.sql.Timestamp
    def at(day: Int, s: Int) = Timestamp.from(
      java.time.Instant.ofEpochSecond(day * 86400L + s))
    val rows = (1 to 10).map(i => (at(0, i), "view", 1L)) ++
      (1 to 10).map(i => (at(3, i), "view", 1L))
    val got = graft.queries.EventQueries.dpReleaseCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    assert(got.length == 2)
    assert(got.forall(_.getLong(2) == 4L), // each cell capped at 4
      s"got ${got.toSeq}")
    assert(got.map(_.getLong(1)).toSet == Set(0L, 3L))
  }

  // ---------------------------------------------------------------- q228

  test("law: q228 crafted chain — a weak transitive bridge surfaces as " +
    "the 3-cluster's weakest_rq; mean is the floored edge average") {
    val edges = Seq(
      (1L, 2L, 0.9), // strong
      (2L, 3L, 0.2), // the weak bridge that glued the cluster
      (10L, 11L, 0.5)) // a separate pair
    val grp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    val got = graft.queries.DedupQueries.clusterCohesionCore(
      edges.toDF("id_a", "id_b", "rdot"),
      grp.toDF("id", "lbl")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // size 2: 1 group, weakest 5000, 1 edge, mean 5000
    // size 3: 1 group, weakest 2000, 2 edges, mean (9000+2000) div 2
    assert(got == Seq((2L, 1L, 5000L, 1L, 5000L),
      (3L, 1L, 2000L, 2L, 5500L)), s"got ${got}")
  }

  // ---------------------------------------------------------------- q229

  test("law: q229 uniform keys — Gini is exactly 0") {
    import java.sql.Timestamp
    val rows = for { k <- 1 to 10; i <- 1 to 5 } yield
      (Timestamp.from(java.time.Instant.ofEpochSecond(i)), k.toLong)
    val got = graft.queries.EventQueries.keySkewCore(
      rows.toDF("ts", "user_id"), "user_id").collect()
    assert(got.length == 1) // all keys in one log2 bucket (c = 5)
    assert((got.head.getLong(1), got.head.getLong(2),
      got.head.getLong(3)) == ((10L, 50L, 0L)), s"got ${got.toSeq}")
  }

  test("law: q229 one dominant key — grouped-rank Gini matches the " +
    "hand-computed closed form (891000 ppm)") {
    import java.sql.Timestamp
    // 99 keys with 1 event, key 1000 with 901 events: n=100, S=1000,
    // sic = 1*(99*0 + 99*100/2) + 901*(1*99 + 1) = 4950 + 90100
    // gini = (2*95050 - 101*1000) * 1e6 // (100*1000) = 891000
    val rows = (1 to 99).map(k =>
      (Timestamp.from(java.time.Instant.ofEpochSecond(k)), k.toLong)) ++
      (1 to 901).map(i =>
        (Timestamp.from(java.time.Instant.ofEpochSecond(i)), 1000L))
    val got = graft.queries.EventQueries.keySkewCore(
      rows.toDF("ts", "user_id"), "user_id").collect()
    assert(got.forall(_.getLong(3) == 891000L), s"got ${got.toSeq}")
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted == Seq((1L, 99L, 99L), (10L, 1L, 901L)),
      s"got ${got.toSeq}")
  }

  // ---------------------------------------------------------------- q230

  test("law: q230 identical texts across sources — every source's " +
    "profile equals the corpus profile, L1 = 0") {
    val rows = Seq(("a", "the cat of note"), ("b", "the cat of note"))
    val got = graft.queries.TextQueries.stopwordDivergenceCore(
      rows.toDF("source", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 4L), ("b", 4L)).map(t => (t._1, t._2, 0L)),
      s"got ${got}")
  }

  test("law: q230 asymmetric crafted profiles — hand-computed L1 " +
    "(the: 500000 vs corpus 250000 => 250000 each side)") {
    val rows = Seq(("a", "the x"), ("b", "x y"))
    val got = graft.queries.TextQueries.stopwordDivergenceCore(
      rows.toDF("source", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 250000L), ("b", 2L, 250000L)),
      s"got ${got}")
  }

  // ---------------------------------------------------------------- q231

  test("law: q231 diversity closed forms — single-type user ppm 0 " +
    "(decile 0), uniform 4-type user ppm 750000 (decile 7)") {
    val rows = (1 to 8).map(i => (1L, "click")) ++ // single-type
      Seq("a", "b", "c", "d").flatMap(t =>
        (1 to 2).map(_ => (2L, t))) // uniform over 4 types
    val got = graft.queries.EventQueries.simpsonDiversityCore(
      rows.toDF("user_id", "event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // user 1: s2=64 n=8 -> ppm 0, decile 0; user 2: s2=16 n=8 ->
    // 1e6 - 250000 = 750000, decile 7
    assert(got == Seq((0L, 1L, 8L), (7L, 1L, 8L)), s"got ${got}")
  }

  // ---------------------------------------------------------------- q232

  test("law: q232 boundary pairs — a pair exactly ON a threshold " +
    "counts for it; each level's n_pairs/n_docs are exact") {
    val pairs = Seq(
      (1L, 2L, 0.8), // >= all 7 thresholds
      (3L, 4L, 0.45), // >= 2000,3000,4000
      (5L, 6L, 0.2), // exactly on 2000
      (1L, 3L, 0.3)) // >= 2000,3000
    val got = graft.queries.DedupQueries.thresholdSweepCore(spark,
      pairs.toDF("id_a", "id_b", "rdot")
        .selectExpr("id_a", "id_b",
          "cast(round(rdot * 10000) as bigint) as rq")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (2000L, 4L, 6L), (3000L, 3L, 4L), (4000L, 2L, 4L),
      (5000L, 1L, 2L), (6000L, 1L, 2L), (7000L, 1L, 2L),
      (8000L, 1L, 2L)), s"got ${got}")
  }

  // ---------------------------------------------------------------- q234

  test("law: q234 crafted odd/even medians and a planted mega-outlier " +
    "— med, MAD and outlier count match the closed forms") {
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("a", 100L), // odd n=5: med 3, MAD 1, one 5-MAD outlier
      ("b", 1L), ("b", 2L), ("b", 3L), ("b", 4L)) // even n=4: med 2
    val got = graft.queries.PipelineQueries.madOutliersCore(
      rows.toDF("source", "n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("a", 5L, 3L, 1L, 1L, 200000L),
      ("b", 4L, 2L, 1L, 0L, 0L)), s"got ${got}")
  }

  // ---------------------------------------------------------------- q235

  test("law: q235 shared 8-token prefix with distinct tails clusters; " +
    "7-token docs and unique prefixes do not participate") {
    val pre = "a b c d e f g h"
    val rows = Seq(
      (1L, s"$pre tail one", 10L),
      (2L, s"$pre completely different tail", 20L),
      (3L, "a b c d e f g", 7L), // 7 tokens: excluded
      (4L, "z y x w v u t s unique", 9L)) // unique prefix: no cluster
    val got = graft.queries.TextQueries.prefixClustersCore(
      rows.toDF("doc_id", "text", "n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq((2L, 1L, 2L, 30L)), s"got ${got}")
  }

  // ---------------------------------------------------------------- q236

  test("law: q236 identical adjacent docs — est = exact = 1e6 ppm, " +
    "error decile 0; pair count is n_docs - 1") {
    val t = "alpha beta gamma delta epsilon zeta"
    val rows = (1L to 4L).map(i => (i, t))
    val got = graft.queries.DedupQueries.minhashCalibrationCore(
      rows.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq((0L, 3L, 1000000L, 1000000L)), s"got ${got}")
  }

  test("law: q236 estimator sanity on the gate SF — deciles partition " +
    "all adjacent pairs and means stay within [0, 1e6]") {
    val sf001 = "/root/testdata/sf0.001"
    val nDocs = Tables.documents(spark, sf001).count()
    val got = SparkEntry.queries("q236_minhash_calibration")(spark, sf001)
      .collect()
    assert(got.map(_.getLong(1)).sum == nDocs - 1)
    assert(got.forall { r =>
      val (e, x) = (r.getLong(2), r.getLong(3))
      e >= 0 && e <= 1000000 && x >= 0 && x <= 1000000
    })
  }

  // ---------------------------------------------------------------- q237

  test("law: q237 a planted exact dup passes the bucket filter AND " +
    "counts true; fp_ppm is consistent with (pass - true)") {
    val t0 = "the benchmark document text zero"
    val t2 = "a completely unrelated probe document"
    // id 0: bench (0 % 97 == 0); ids 1, 2: probes in source 'a'
    val rows = Seq((0L, "bench", t0), (1L, "a", t0), (2L, "a", t2))
    val got = graft.queries.DedupQueries.bloomPrefilterCore(
      rows.toDF("doc_id", "source", "text")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // does t2 collide with t0's bucket? compute with the same kernel
    val b = spark.sql(
      s"""SELECT pmod(md5_prefix60('bp|' || 'PLACEHOLDER0'), 65536) AS b0,
         |pmod(md5_prefix60('bp|' || 'PLACEHOLDER2'), 65536) AS b2"""
        .stripMargin
        .replace("PLACEHOLDER0", t0).replace("PLACEHOLDER2", t2))
      .head
    val collide = if (b.getLong(0) == b.getLong(1)) 1L else 0L
    val a = got("a")
    assert(a._1 == 2L && a._2 == 1L + collide && a._3 == 1L)
    assert(a._4 == (a._2 - a._3) * 1000000L / math.max(a._2, 1L))
  }

  // ---------------------------------------------------------------- q239

  test("law: q239 a day-2 bridge merging two day-1 groups flips the " +
    "losing side's canonicals; singletons never flip") {
    val g1 = Seq((1L, 100L), (2L, 100L), (3L, 200L), (4L, 200L))
    val g2 = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L),
      (7L, 100L))
    val dq = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 10L),
      (4L, "a", 30L), (5L, "a", 15L), (7L, "a", 5L))
    val got = graft.queries.DedupQueries.canonicalFlipCore(
      g1.toDF("id", "lbl"), g2.toDF("id", "lbl"),
      dq.toDF("doc_id", "source", "n_chars")).collect()
    assert(got.length == 1)
    val r = got.head
    // day-1 docs: 1,2 (can 2 -> 4: flip), 3,4 (can 4 -> 4: stable),
    // 5 (singleton, self both days). 2 flips / 5 docs = 400000 ppm.
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 2L, 400000L)), s"got ${r}")
  }
}
