package graft

import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** Laws for the vector-search evaluations that rank by the packed
  * (score, id) key (`DedupQueries.RankKey`): the key's own layout and
  * order, then per query — q215 (an all-one-cell corpus recalls 10/10),
  * q218 (the doc holding the query's own token vectors ranks first),
  * q216 (a same-label near-twin that MUST be excluded; an out-of-range
  * label fails loudly), q217 (a perfect codebook shows zero
  * distortion), q224 (crafted rankings with known nDCG/MRR closed
  * forms), q226 (hubness over a star topology and the top-5 bound),
  * q233 (a constant dim's degenerate SQ range) and q238 (an
  * all-one-cell corpus recalls fully at every nprobe) — crafted
  * topologies plus gate-SF brute-force mirrors.
  */
class VectorSearchSpec extends SparkSpec {
  import spark.implicits._
  import VectorSearchSpec.{dotD, halfUp, rq}

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------- RankKey

  test("law: RankKey packs and unpacks exactly at ids 0, 2^33+1 and " +
    "2^40-1 for negative, zero and positive scores; equal scores rank " +
    "the smaller id first; the labelled key is id·16 + label under 2^44") {
    import DedupQueries.RankKey
    val ids = Seq(0L, (1L << 33) + 1, (1L << 40) - 1)
    // the widest scores each layout holds without leaving a Long
    val scores = Seq(-(1L << 23) + 1, -160000L, -1L, 0L, 1L, 160000L,
      (1L << 23) - 1)
    val lScores = Seq(-(1L << 19) + 1, -1L, 0L, 1L, (1L << 19) - 1)
    val rows = for (s <- scores; i <- ids) yield (s, i)
    val lRows = for (s <- lScores; i <- ids; l <- Seq(0, 9, 15))
      yield (s, i, l)

    val k = rows.toDF("score", "id")
      .select(RankKey.pack(col("score"), col("id")).as("k"))
    val unpacked = k.select(col("k"), RankKey.score(col("k")),
        RankKey.id(col("k")))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    assert(unpacked.map(_._2).toSeq == rows)
    assert(unpacked.forall { case (key, (s, i)) =>
      key == -s * (1L << 40) + i })
    val ranked = k.agg(RankKey.bottomK(rows.size)(col("k")).as("ks"))
      .select(explode(col("ks")).as("k"))
      .select(RankKey.score(col("k")), RankKey.id(col("k")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ranked == rows.sortBy { case (s, i) => (-s, i) })

    val kl = lRows.toDF("score", "id", "label")
      .select(RankKey.packLabeled(col("score"), col("id"), col("label"))
        .as("k"))
    val lUnpacked = kl.select(col("k"),
        RankKey.score(col("k"), RankKey.ML), RankKey.labeledId(col("k")),
        RankKey.label(col("k")))
      .collect().map(r =>
        (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3).toInt)))
    assert(lUnpacked.map(_._2).toSeq == lRows)
    assert(lUnpacked.forall { case (key, (s, i, l)) =>
      key == -s * (1L << 44) + i * 16 + l })
    val lRanked = kl.agg(RankKey.bottomK(lRows.size)(col("k")).as("ks"))
      .select(explode(col("ks")).as("k"))
      .select(RankKey.score(col("k"), RankKey.ML),
        RankKey.labeledId(col("k")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lRanked == lRows.sortBy { case (s, i, l) => (-s, i, l) }
      .map { case (s, i, _) => (s, i) })
  }

  // ---------------------------------------------------------------- q215

  test("law: q215 crafted all-one-cell corpus — IVF candidates equal " +
    "brute force, recall is exactly 10/10 for every probe") {
    val dim = 4
    // centroid 0 dominates: every vector has a large positive first
    // coordinate, so all assign to cell 0 and every probe's top cell
    // is 0 — IVF then sees the full corpus and must match brute force.
    def v(seed: Int): Seq[Float] =
      Seq(10f, (seed % 7) * 0.1f, (seed % 5) * 0.1f, (seed % 3) * 0.1f)
    val cents = (0L until 8L).map(c =>
      c -> (if (c == 0L) Seq(1f, 0f, 0f, 0f)
            else Seq(-1f, c * 0.01f, 0f, 0f)))
    val all = (0L until 40L).map(i => (i, v(i.toInt)))
    val probes = all.filter(p => p._1 >= 10 && p._1 < 18).map {
      case (qid, qv) =>
        val cells = cents.map { case (cid, cv) => (cid, dotD(qv, cv)) }
          .sortBy { case (cid, dt) => (-dt, cid) }.take(2).map(_._1)
        (qid, qv, cells(0), cells(1))
    }
    assert(probes.forall(_._3 == 0L)) // top cell is 0 for every probe
    val got = DedupQueries.ivfRecallCore(spark,
      all.toDF("vec_id", "embedding"), cents, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 8)
    assert(got.forall { case (_, h, ppm) => h == 10L && ppm == 1000000L },
      s"got ${got.toSeq}")
  }

  test("law: q215 gate SF — 8 probes, 0 <= hits <= 10, recall_ppm = " +
    "hits * 1e5, and hits match a driver-side brute-force/IVF mirror") {
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val cents = e.filter(_._1 < 8).sortBy(_._1).toSeq
    val probes = e.filter(p => p._1 >= 10 && p._1 < 18).sortBy(_._1)
    val assign = e.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, dotD(v, cv)) }
        .minBy { case (cid, dt) => (-dt, cid) }._1
    }.toMap
    val expect = probes.map { case (qid, qv) =>
      val cells = cents.map { case (cid, cv) => (cid, dotD(qv, cv)) }
        .sortBy { case (cid, dt) => (-dt, cid) }.take(2).map(_._1).toSet
      val others = e.filter(_._1 != qid)
      val bf = others.sortBy { case (id, v) => (-rq(qv, v), id) }
        .take(10).map(_._1).toSet
      val ivf = others.filter(o => cells(assign(o._1)))
        .sortBy { case (id, v) => (-rq(qv, v), id) }
        .take(10).map(_._1).toSet
      (qid, (bf & ivf).size.toLong)
    }
    val got = SparkEntry.queries("q215_ivf_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got.map(g => (g._1, g._2)) == expect.toSeq)
    assert(got.forall { case (_, h, ppm) =>
      h >= 0L && h <= 10L && ppm == h * 100000L })
  }

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

  // ---------------------------------------------------------------- q216

  test("law: q216 crafted — the identical same-label twin is excluded; " +
    "the best cross-label vector ranks first with its label and rdot") {
    val qv = Seq(1f, 0f, 0f, 0f)
    val rows = Seq(
      (10L, qv, 1), // the anchor itself
      (20L, qv, 1), // identical twin, SAME label -> must be excluded
      (21L, Seq(0.9f, 0f, 0f, 0f), 2), // best hard negative
      (22L, Seq(0.5f, 0f, 0f, 0f), 3),
      (23L, Seq(0.4f, 0f, 0f, 0f), 2),
      (24L, Seq(0.3f, 0f, 0f, 0f), 0),
      (25L, Seq(0.2f, 0f, 0f, 0f), 4),
      (26L, Seq(0.1f, 0f, 0f, 0f), 5))
    val got = DedupQueries.hardNegCore(spark,
      rows.toDF("vec_id", "embedding", "label"),
      Seq((10L, qv, 1))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got.map(_._3) == Seq(21L, 22L, 23L, 24L, 25L))
    assert(got.head == ((10L, 1L, 21L, 2L, 0.9)))
    assert(!got.map(_._3).contains(20L))
  }

  test("law: q216 at the gate SF equals a driver-side cross-label " +
    "top-5 mirror (ids, labels, ranks and rdots)") {
    val e = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val probes = e.filter(p => p._1 >= 10 && p._1 < 18).sortBy(_._1)
    val expect = probes.flatMap { case (qid, qv, ql) =>
      e.filter(o => o._1 != qid && o._3 != ql)
        .map(o => (o._1, o._3, rq(qv, o._2)))
        .sortBy { case (id, _, r) => (-r, id) }.take(5)
        .zipWithIndex.map { case ((id, l, r), i) =>
          (qid, i + 1L, id, l.toLong, r.toDouble / 10000)
        }
    }.toSeq
    val got = SparkEntry.queries("q216_hard_negatives")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expect)
  }

  test("law: q216 fails LOUDLY on a label outside [0,16) — a silent " +
    "pack would corrupt both the vec_id and neg_label decodes") {
    val qv = Seq(1f, 0f, 0f, 0f)
    val rows = Seq(
      (10L, qv, 1),
      (21L, Seq(0.9f, 0f, 0f, 0f), 16)) // 16 needs a 5th low bit
    val ex = intercept[Exception] {
      DedupQueries.hardNegCore(spark,
        rows.toDF("vec_id", "embedding", "label"),
        Seq((10L, qv, 1))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("label outside [0,16)")))
  }

  // ---------------------------------------------------------------- q217

  test("law: q217 perfect codebook — a corpus of exact centroid copies " +
    "has ADC == exact dot and zero inversions") {
    // 8 near-orthogonal 64-dim centroids; every corpus vector (incl.
    // the probes 20..22) is an exact copy of one centroid, so each
    // subspace code recovers the true centroid and ADC reconstructs
    // the exact dot.
    def cvec(c: Int): Seq[Float] =
      (0 until 64).map(i => if (i % 8 == c) 1f + c * 0.1f else 0f)
    val rows = (0L until 40L).map(i => (i, cvec((i % 8).toInt)))
    val got = DedupQueries.pqDistortionCore(
      rows.toDF("vec_id", "embedding"), Seq(20L, 21L, 22L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.length == 3)
    assert(got.forall { case (_, inv, np, ppm) =>
      inv == 0L && np == 120L && ppm == 0L }, s"got ${got.toSeq}")
  }

  test("law: q217 at the gate SF equals a driver-side subdot/code/ADC " +
    "mirror") {
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val cents = e.filter(_._1 < 8).sortBy(_._1).toSeq
    def subdot(a: Seq[Float], b: Seq[Float], m: Int): Double = {
      var acc = 0.0; var i = m * 16
      while (i < m * 16 + 16) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    val codes = e.map { case (id, v) =>
      id -> (0 until 4).map(m =>
        cents.map { case (cid, cv) => (cid, subdot(v, cv, m)) }
          .minBy { case (cid, dt) => (-dt, cid) }._1)
    }.toMap
    val expect = Seq(20L, 21L, 22L).map { qid =>
      val qv = e.find(_._1 == qid).get._2
      val lut = (0 until 4).map(m =>
        cents.map { case (cid, cv) => cid -> subdot(qv, cv, m) }.toMap)
      val adcq = e.filter(_._1 != qid).map { case (id, _) =>
        val c = codes(id)
        val adc = lut(0)(c(0)) + lut(1)(c(1)) + lut(2)(c(2)) + lut(3)(c(3))
        (id, BigDecimal(adc * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      val top = adcq.sortBy { case (id, a) => (-a, id) }.take(16)
        .map { case (id, a) => (id, a, rq(qv, e.find(_._1 == id).get._2)) }
      val inv = (for {
        (a, i) <- top.zipWithIndex; b <- top.drop(i + 1)
        if a._1 != b._1
      } yield if ((a._2 > b._2 && a._3 < b._3) ||
          (a._2 < b._2 && a._3 > b._3)) 1L else 0L).sum
      val np = top.size.toLong * (top.size - 1) / 2
      (qid, inv, np, inv * 1000000L / np)
    }
    val got = SparkEntry.queries("q217_pq_distortion")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
  }

  // ---------------------------------------------------------------- q224

  private val qv = Seq(1f, 0f, 0f, 0f)
  private def v(x: Float) = Seq(x, 0f, 0f, 0f)

  test("law: q224 ideal ranking — 12 same-label vectors fill the top-10 " +
    "(n_rel > 10 exercises the pref[10] denominator): nDCG = MRR = 1e6") {
    val rows = (10L, qv, 1) +: (1 to 12).map(i =>
      (20L + i, v(1f - i * 0.01f), 1)) :+ ((40L, v(0.5f), 2))
    val got = DedupQueries.knnNdcgCore(spark,
      rows.toDF("vec_id", "embedding", "label"),
      Seq((10L, qv, 1))).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 1000000L, 1000000L)), s"got ${r}")
  }

  test("law: q224 single relevant at rank 3 with n_rel = 1 — " +
    "nDCG = disc[3]/disc[1] = 500000, MRR = 333333") {
    val rows = Seq(
      (10L, qv, 1), // the probe itself
      (21L, v(0.9f), 2),
      (22L, v(0.8f), 3),
      (23L, v(0.7f), 1), // the only relevant, at rank 3
      (24L, v(0.6f), 4),
      (25L, v(0.5f), 5))
    val got = DedupQueries.knnNdcgCore(spark,
      rows.toDF("vec_id", "embedding", "label"),
      Seq((10L, qv, 1))).collect()
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 500000L, 333333L)), s"got ${r}")
  }

  test("law: q224 zero relevant candidates in the corpus — all three " +
    "metrics are 0 (the n_rel = 0 guard, not a division error)") {
    val rows = Seq(
      (10L, qv, 1),
      (21L, v(0.9f), 2),
      (22L, v(0.8f), 3))
    val got = DedupQueries.knnNdcgCore(spark,
      rows.toDF("vec_id", "embedding", "label"),
      Seq((10L, qv, 1))).collect()
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((0L, 0L, 0L)), s"got ${r}")
  }

  test("law: q224 at the gate SF equals a driver-side brute-force " +
    "nDCG/MRR mirror (all 16 probes)") {
    val disc = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
    val pref = disc.scanLeft(0L)(_ + _).tail
    val e = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val probes = e.filter(p => p._1 >= 10 && p._1 < 26).sortBy(_._1)
    val expect = probes.map { case (qid, pv, ql) =>
      val cands = e.filter(_._1 != qid)
      val nRel = cands.count(_._3 == ql).toLong
      val top = cands.map(o => (o._1, o._3, rq(pv, o._2)))
        .sortBy { case (id, _, r) => (-r, id) }.take(10)
      val dcg = top.zipWithIndex.collect {
        case ((_, l, _), i) if l == ql => disc(i) }.sum
      val hits = top.count(_._2 == ql).toLong
      val frank = top.zipWithIndex.collectFirst {
        case ((_, l, _), i) if l == ql => i + 1L }
      val ndcg = if (nRel == 0) 0L
        else dcg * 1000000L / pref((nRel.min(10) - 1).toInt)
      val mrr = frank.map(1000000L / _).getOrElse(0L)
      (qid, hits, ndcg, mrr)
    }.toSeq
    val got = SparkEntry.queries("q224_knn_ndcg")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
  }

  // ---------------------------------------------------------------- q226

  test("law: q226 crafted star topology — the hub is in all 4 spokes' " +
    "top-5, spokes only in the hub's; isolated vector lands in the " +
    "zero bucket") {
    // pairs: hub 99 connects to 1..4 (strong); 1-2 weakly; 50 isolated
    val pairs = Seq(
      (1L, 99L, 9000L), (2L, 99L, 9000L), (3L, 99L, 9000L),
      (4L, 99L, 9000L), (1L, 2L, 2000L))
    val ids = Seq(1L, 2L, 3L, 4L, 50L, 99L)
    val got = graft.queries.DedupQueries.hubnessCore(spark,
      pairs.toDF("id_a", "id_b", "rq"),
      ids.toDF("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // occurrences: 99 appears in top-5 of 1,2,3,4 => k_occ 4 (1 vec).
    // 1 and 2 appear in each other's and the hub's lists => k_occ 2
    // (2 vecs: ids 1, 2). 3 and 4 appear only in the hub's list =>
    // k_occ 1 (2 vecs). 50 isolated => k_occ 0 (1 vec).
    assert(got == Seq((0L, 1L), (1L, 2L), (2L, 2L), (4L, 1L)),
      s"got ${got}")
  }

  test("law: q226 top-5 bound — a src with 7 candidates votes for " +
    "exactly its 5 strongest (rq desc, dst asc ties)") {
    val pairs = (1L to 7L).map(i => (0L, 10L + i, 1000L * (8 - i)))
    val ids = (Seq(0L) ++ (11L to 17L)).toSeq
    val got = graft.queries.DedupQueries.hubnessCore(spark,
      pairs.toDF("id_a", "id_b", "rq"),
      ids.toDF("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // node 0 votes for 11..15 (the 5 strongest); 16,17 miss the cut
    // but still vote for 0 themselves => 0 has k_occ 7? No: every
    // spoke has only one candidate (0), so all 7 vote for 0 => k_occ
    // 7 (1 vec); 11..15 get 1 vote each (5 vecs); 16,17 get 0 (2).
    assert(got == Map(7L -> 1L, 1L -> 5L, 0L -> 2L), s"got ${got}")
  }

  // ---------------------------------------------------------------- q233

  test("law: q233 small corpus with a constant dim — the degenerate-" +
    "range guard maps it to 0 and SQ8 recall is total (both top-10s " +
    "are the full candidate set)") {
    // dim 2 is constant across the corpus (mx == mn)
    val rows = (1L to 9L).map(i =>
      (i, Seq(i.toFloat / 10, 1f - i.toFloat / 10, 0.5f)))
    val probes = Seq((1L, rows.head._2, 0))
    val got = graft.queries.DedupQueries.sq8RecallCore(spark,
      rows.toDF("vec_id", "embedding"), probes,
      (Seq(0.1, 0.1, 0.5), Seq(0.9, 0.9, 0.5))).collect()
    assert(got.length == 1)
    // 8 candidates (self excluded), both top-10s hold all 8
    assert((got.head.getLong(1), got.head.getLong(2)) ==
      ((8L, 800000L)), s"got ${got.toSeq}")
  }

  // ---------------------------------------------------------------- q238

  test("law: q238 all-one-cell corpus — recall is total at EVERY " +
    "nprobe level (the n-level gather fusion cannot drop members)") {
    // centroid 0 dominates every corpus vector; probes probe cells
    // (0, 1, 2, 3) in that order
    val cents = (0L to 7L).map(c =>
      (c, (0 until 8).map(i =>
        if (i == c) (if (c == 0) 10f else 0.1f) else 0f).toSeq))
    val corpus = (20L to 27L).map(i =>
      (i, Seq(1f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)))
    val probes = Seq((20L, corpus.head._2, Seq(0L, 1L, 2L, 3L)))
    val got = graft.queries.DedupQueries.multiProbeCore(spark,
      corpus.toDF("vec_id", "embedding"), cents, probes).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // 7 candidates (self excluded), all in cell 0 = c1
    assert(got == Seq((1L, 7L, 700000L), (2L, 7L, 700000L),
      (4L, 7L, 700000L)), s"got ${got}")
  }

  test("law: q238 recall is monotone in nprobe at the gate SF") {
    val got = SparkEntry.queries("q238_multiprobe_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    got.values.foreach { rows =>
      val byNp = rows.sortBy(_._2).map(_._3)
      assert(byNp.sorted.sameElements(byNp),
        s"recall not monotone: ${rows.toSeq}")
    }
  }

  // ---------------------------------------------------------------- q257

  test("law: q257 a 0/1-coordinate corpus is exactly representable at " +
    "4, 6 and 8 bits — quantized ranking equals truth, recall 1e6 at " +
    "every width") {
    def v(bits: Int*): Seq[Float] =
      Seq.tabulate(64)(i => if (bits.contains(i)) 1f else 0f)
    // probe overlaps corpus vectors by a strictly decreasing number of
    // set dims -> unambiguous ranking at every quantization
    val probe = (20L, v(0 until 16: _*), 0)
    val corpus = (0 until 12).map(i =>
      (i.toLong, v(0 until (16 - i): _*)))
    val ranges = (Seq.fill(64)(0.0), Seq.fill(64)(1.0))
    val got = DedupQueries.sqBitsSweepCore(spark,
      corpus.toDF("vec_id", "embedding"), Seq(probe), ranges).collect()
    assert(got.length == 3)
    got.foreach(r => assert(r.getLong(3) == 1000000L, s"got $r"))
  }

  // ------------------------------------------------- 2^40 key audit

  test("law: encoded rank keys are id-exact for ids ≥ 2^33 — a big-id " +
    "vector at the top-10 boundary ranks by its TRUE dot (under the " +
    "old 2^33 keys its id high bits leaked into the rq lane, demoting " +
    "it below the cut AND mangling its decoded id)") {
    val bigId = 2L * 8589934592L + 3L // id div 2^33 = 2 — the leak
    def v(a: Float, b: Float) = Seq(a, b, 0f, 0f)
    val cell0 = Seq( // x-dominant ⇒ assigned to centroid 0
      (1L, v(0.9f, 0f)), (2L, v(0.89f, 0f)), (3L, v(0.88f, 0f)),
      (4L, v(0.87f, 0f)), (5L, v(0.865f, 0f)), (bigId, v(0.8001f, 0f)))
    val cell1 = Seq( // y-dominant ⇒ assigned to centroid 1
      (6L, v(0.86f, 0.95f)), (7L, v(0.85f, 0.95f)),
      (8L, v(0.84f, 0.95f)), (9L, v(0.83f, 0.95f)),
      (10L, v(0.8f, 0.95f)), (11L, v(0.4f, 0.95f)))
    val e = (cell0 ++ cell1).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
    // probe ranks by x; nprobe=1 probes cell 0 only
    val probes = Seq((999L, Seq(1f, 0f, 0f, 0f), Seq(0L, 1L, 1L, 1L)))
    val got = DedupQueries.multiProbeCore(spark, e, cents, probes)
      .collect()
    assert(got.length == 3)
    // true top-10 by x: 9 vecs above 0.8001, then the big-id vec (in),
    // then id 10 at 0.8 (out at rank 11): cell-0 hits = 6 of 10
    val hits = got.map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(hits == Map(1L -> 6L, 2L -> 10L, 4L -> 10L), s"got $hits")
  }

  // ---------------------------------------------------------------- q247

  private def vec(at: Int, x: Float): Seq[Float] =
    Seq.tabulate(64)(i => if (i == at) x else 0f)

  test("law: q247 prefix-resident mass — all signal in dim 0: prefix " +
    "ranking equals full ranking, recall 1e6 at d=16 and d=32") {
    val corpus = (0 until 12).map(i =>
      (i.toLong, vec(0, 1f - i * 0.01f)))
    val probe = Seq((20L, vec(0, 1f)))
    val got = DedupQueries.matryoshkaRecallCore(
      (corpus ++ probe).toDF("vec_id", "embedding")).collect()
    assert(got.length == 2)
    got.foreach(r => assert(r.getLong(3) == 1000000L, s"got $r"))
  }

  test("law: q247 suffix-resident mass — all signal in dim 40 with 20 " +
    "corpus vectors: full top-10 = ids 10..19, prefix keys all tie to " +
    "vec_id order = ids 0..9 ⇒ recall 0 at both truncations") {
    val corpus = (0 until 20).map(i => (i.toLong, vec(40, i * 0.01f)))
    val probe = Seq((20L, vec(40, 1f)))
    val got = DedupQueries.matryoshkaRecallCore(
      (corpus ++ probe).toDF("vec_id", "embedding")).collect()
    assert(got.length == 2)
    got.foreach(r => assert(r.getLong(3) == 0L, s"got $r"))
  }

  // ------------------------------------- 2^44 packed-key audit (ADVICE)

  // Under the old 2^37 width, low = vec_id·16 + label overflows its lane
  // once vec_id ≥ 2^33 (~8.6e9 — below replica/100TB ids ~1e10): the
  // spill leaks into the rq lane, DEMOTING the vector near the cut and
  // mangling its decoded id. ids here are chosen so the leaked key loses
  // exactly one rank — the test fails under 2^37 and passes under 2^44.
  private val pkBigId = 2L * 8589934592L + 3L // low = id·16+l ≈ 2.75e11

  test("law: q216 packed rank keys are id-exact past 2^33 — a big-id " +
    "negative at the top-5 boundary keeps its true rank, id and rdot") {
    def v(x: Float) = Seq(x, 0f, 0f, 0f)
    val e = Seq(
      (1L, v(0.9f), 1), (2L, v(0.89f), 1), (3L, v(0.88f), 1),
      (4L, v(0.87f), 1), (pkBigId, v(0.86f), 1), (10L, v(0.8599f), 1))
      .toDF("vec_id", "embedding", "label")
    val probes = Seq((999L, Seq(1f, 0f, 0f, 0f), 0))
    val got = DedupQueries.hardNegCore(spark, e, probes).collect()
    assert(got.length == 5)
    val r5 = got.last // (qid, rk, vec_id, neg_label, rdot)
    assert((r5.getLong(1), r5.getLong(2), r5.getLong(3),
      r5.getDouble(4)) == ((5L, pkBigId, 1L, 0.86)), s"got $r5")
  }

  test("law: q224 packed rank keys are id-exact past 2^33 — the only " +
    "relevant vector, big-id at rank 10, still scores hits=1 and " +
    "ndcg = disc[10] (under 2^37 it fell out of the cut: hits 0)") {
    def v(x: Float) = Seq(x, 0f, 0f, 0f)
    val corpus = (1 to 9).map(i => (i.toLong, v((1f - i * 0.01f)), 1)) ++
      Seq((pkBigId, v(0.86f), 0), (20L, v(0.8599f), 1))
    val probes = Seq((999L, Seq(1f, 0f, 0f, 0f), 0))
    val got = DedupQueries.knnNdcgCore(spark,
      corpus.toDF("vec_id", "embedding", "label"), probes).collect()
    assert(got.length == 1)
    val r = got.head // (qid, hits, ndcg_ppm, mrr_ppm)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 289064L, 100000L)), s"got $r")
  }
}

/** The driver-side mirrors of the engine's vector kernels the laws
  * compare against. */
object VectorSearchSpec {
  /** `dot_product`: the index-order double fold over positions
    * [lo, hi). */
  def dotD(a: Seq[Float], b: Seq[Float], lo: Int, hi: Int): Double = {
    var acc = 0.0; var i = lo
    while (i < hi) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  def dotD(a: Seq[Float], b: Seq[Float]): Double = dotD(a, b, 0, a.length)
  /** SQL round(x): HALF_UP, away from zero at .5 — math.round ties
    * toward +inf and would diverge on negative .5 boundaries. */
  def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  /** The rank score: round(dot·1e4). */
  def rq(a: Seq[Float], b: Seq[Float]): Long = halfUp(dotD(a, b) * 10000)
}
