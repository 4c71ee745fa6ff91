package graft

import java.sql.Timestamp

import graft.queries.{DedupQueries, EventQueries, PipelineQueries,
  TextQueries}

/** Laws for the round-11 operators (q240–q247): each a crafted frame
  * with a hand-computed closed form, exercising the semantics the
  * gate's synthetic corpus cannot pin down (exact burst shapes, planted
  * steps, cliques vs paths, identical vs disjoint sketch sources).
  * The vector-search laws (q247, q257 and the packed-key audits) live
  * in VectorSearchSpec, the q244/q245 text laws in TextOpsSpec and the
  * q241/q253 graph laws in GraphOpsSpec.
  */
class Round11LawsSpec extends SparkSpec {
  import spark.implicits._

  private def at(hour: Long, s: Int): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(hour * 3600L + s))

  // ---------------------------------------------------------------- q242

  test("law: q242 one-event-per-hour stream is exactly Poisson-flat — " +
    "Fano 0 (hh·ss = n² when every active hour holds one event)") {
    val rows = (0 until 5).map(h => (at(h.toLong, 1), "click", 1L))
    val got = EventQueries.burstinessCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (("click", 0L, 1L, 5L, 0L)), s"got $r")
  }

  test("law: q242 planted burst — 3 events in hour 0 + 1 in hour 3: " +
    "hh=4, n=4, ss=10 ⇒ Fano·1e6 = 24e6/16 = 1500000 (bucket 30)") {
    val rows = (1 to 3).map(i => (at(0L, i), "view", 9L)) :+
      ((at(3L, 1), "view", 9L))
    val got = EventQueries.burstinessCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((30L, 1L, 4L, 1500000L)), s"got $r")
  }

  // ---------------------------------------------------------------- q243

  private def onDay(day: Long, s: Int): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L + s))

  test("law: q243 constant daily rate — S_t ≡ 0 everywhere, argmax " +
    "tie-breaks to day 1 with cusum_ppm 0 and direction +1") {
    val rows = for (d <- 0 until 5; i <- 1 to 2)
      yield (onDay(d.toLong, i), "click")
    val got = EventQueries.cusumChangepointCore(
      rows.toDF("ts", "event_type")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((5L, 10L, 1L, 1L, 0L)), s"got $r")
  }

  test("law: q243 planted step — 1/day for 4 days then 3/day for 4: " +
    "peak |S| at the step day (t=4), direction −1, ppm = 32e6/128") {
    val rows =
      (0 until 4).map(d => Seq((onDay(d.toLong, 1), "e"))).flatten ++
        (for (d <- 4 until 8; i <- 1 to 3) yield (onDay(d.toLong, i), "e"))
    val got = EventQueries.cusumChangepointCore(
      rows.toDF("ts", "event_type")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((8L, 16L, 4L, -1L, 250000L)), s"got $r")
  }

  test("law: q243 gap days count as zeros — events on days 0 and 4 " +
    "only: the spine stretches n_days to 5") {
    val rows = Seq((onDay(0L, 1), "e"), (onDay(4L, 1), "e"))
    val got = EventQueries.cusumChangepointCore(
      rows.toDF("ts", "event_type")).collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 5L, s"got ${got.head}")
  }

  // ---------------------------------------------------------------- q240

  test("law: q240 textually identical sources — exact AND estimated " +
    "Jaccard are 1e6 with err 0") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val got = DedupQueries.kmvOverlapCore(
      Seq(("a", text), ("b", text)).toDF("source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((1000000L, 1000000L, 0L)), s"got $r")
  }

  test("law: q240 disjoint vocabularies — exact and estimated Jaccard " +
    "both 0") {
    val ta = (1 to 40).map(i => s"a$i").mkString(" ")
    val tb = (1 to 40).map(i => s"b$i").mkString(" ")
    val got = DedupQueries.kmvOverlapCore(
      Seq(("a", ta), ("b", tb)).toDF("source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((0L, 0L, 0L, 0L)), s"got $r")
  }

  // ---------------------------------------------------------------- q246

  test("law: q246 n identical docs in one batch collide all C(n,2) " +
    "pairs — coll_ppm 1e6 at every batch size (n ≤ every size)") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val rows = (1L to 4L).map(i => (i, text))
    val got = PipelineQueries.batchCollisionCore(
      rows.toDF("doc_id", "text")).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) == ((1L, 6L, 6L, 1L, 1000000L)), s"got $r")
    }
  }

  test("law: q246 all-distinct docs — dup_pairs 0 and coll_ppm 0") {
    val rows = (1L to 6L).map(i =>
      (i, (1 to 10).map(j => s"d${i}w$j").mkString(" ")))
    val got = PipelineQueries.batchCollisionCore(
      rows.toDF("doc_id", "text")).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert((r.getLong(2), r.getLong(3), r.getLong(5)) ==
        ((0L, 0L, 0L)), s"got $r")
    }
  }

  // ---------------------------------------------------------------- q248

  test("law: q248 null effect — balanced users with identical metrics " +
    "give T_obs = 0, so every lane ties or beats it: p_ppm = 1e6") {
    val rows = (0L until 10L).map(u => (at(u, 1), "click", u))
    val got = EventQueries.abPermutationCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 0L, 1000000L)), s"got $r")
  }

  test("law: q248 planted uniform effect — even users carry 10 events, " +
    "odd users 1: p matches the exact lane-by-lane replay of the " +
    "multiplicative sign draw (differential golden)") {
    val rows = (0L until 40L).flatMap { u =>
      val k = if (u % 2 == 0) 10 else 1
      (1 to k).map(i => (at(u, i), "view", u))
    }
    val got = EventQueries.abPermutationCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    assert(got.length == 1)
    // replay: per user h = md5_prefix64("ab|u"), lane sign as in the core
    val users = (0L until 40L).map { u =>
      val h = graft.plans.Md5Prefix64.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"ab|$u"))
      val m = if (u % 2 == 0) 10L else 1L
      (u, h, m)
    }
    val tObs = users.map { case (u, _, m) =>
      if (u % 2 == 0) m else -m }.sum
    val cnt = (0 until 256).count { k =>
      val t = users.map { case (_, h, m) =>
        if ((h * (2L * k + 3L)) % 1000003L % 2L == 0L) m else -m }.sum
      math.abs(t) >= math.abs(tObs)
    }
    val r = got.head
    assert((r.getLong(2), r.getLong(3)) ==
      ((tObs, cnt.toLong * 1000000L / 256L)), s"got $r expected cnt=$cnt")
  }

  // ---------------------------------------------------------------- q249

  test("law: q249 a purchase 25 h after the only click attributes to " +
    "'none' on both first and last touch") {
    val rows = Seq(
      (at(0L, 0), "click", 1L),
      (at(25L, 0), "purchase", 1L))
    val got = EventQueries.attributionCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet == Set(("first", "none", 1L), ("last", "none", 1L)))
  }

  test("law: q249 view-then-click within the window splits first vs " +
    "last; a same-timestamp tie breaks by code — min (first) to " +
    "click (1), max (last) to view (2)") {
    val rows = Seq(
      (at(1L, 0), "view", 1L),
      (at(2L, 0), "click", 1L),
      (at(3L, 0), "purchase", 1L),
      // user 2: click and view at the SAME microsecond, then purchase
      (at(1L, 5), "click", 2L),
      (at(1L, 5), "view", 2L),
      (at(2L, 0), "purchase", 2L))
    val got = EventQueries.attributionCore(
      rows.toDF("ts", "event_type", "user_id")).collect()
    val m = got.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("first", "view") -> 1L, ("first", "click") -> 1L,
      ("last", "click") -> 1L, ("last", "view") -> 1L), s"got $m")
  }

  // ---------------------------------------------------------------- q250

  test("law: q250 ledger algebra — every diff lane is identically zero " +
    "and the forget mass is exactly the hash-selected users' rows") {
    def forgotten(u: Long): Boolean =
      graft.plans.Md5Prefix64.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"del|$u")
      ) % 16 == 0
    val users = 0L until 64L
    val nForget = users.count(forgotten)
    assert(nForget > 0, "fixture needs at least one forgotten user")
    val rows = users.map(u => ("click", u, 1.25))
    val got = EventQueries.deletionAuditCore(
      rows.toDF("event_type", "user_id", "value")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((64L - nForget, 125L * (64 - nForget), 64L - nForget)), s"got $r")
    assert((r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((0L, 0L, 0L, nForget.toLong)), s"got $r")
  }

  // ---------------------------------------------------------------- q251

  test("law: q251 a single-cell stream peaks there with ppm 1e6; " +
    "epoch day 2 (1970-01-03, a Saturday) lands dow 5 ⇒ weekend 1e6") {
    val rows = (1 to 5).map(i =>
      (Timestamp.from(java.time.Instant.ofEpochSecond(
        2L * 86400L + 5L * 3600L + i)), "click"))
    val got = EventQueries.seasonalityCore(
      rows.toDF("ts", "event_type")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((5L, 5L, 1000000L, 1000000L)), s"got $r")
  }

  // ---------------------------------------------------------------- q252

  private def halfA(id: Long): Boolean =
    graft.plans.Md5Prefix64.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"cd|$id")
    ) % 2 == 0

  test("law: q252 identical halves drift 0; a planted constant offset " +
    "of 0.1 per dim drifts exactly dims·(1e6)² in milli² units") {
    val ids = 0L until 64L
    val (as, bs) = ids.partition(halfA)
    assert(as.size >= 2 && bs.size >= 2, s"fixture: ${as.size}/${bs.size}")
    // label 0: both halves at the same point -> drift 0
    val same = (as.take(2) ++ bs.take(2)).map(id =>
      (id, 0, Seq(0.3f, 0.3f, 0.3f, 0.3f)))
    // label 1: half A at 0.1, half B at 0.2 -> per-dim milli delta 1e6
    val off = as.drop(2).take(2).map(id =>
      (id, 1, Seq(0.1f, 0.1f, 0.1f, 0.1f))) ++
      bs.drop(2).take(2).map(id => (id, 1, Seq(0.2f, 0.2f, 0.2f, 0.2f)))
    val got = DedupQueries.centroidDriftCore(
      (same ++ off).toDF("vec_id", "label", "embedding")).collect()
    assert(got.length == 2)
    val m = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(0L) == ((2L, 2L, 0L, 4L)), s"got ${m(0L)}")
    assert(m(1L) == ((2L, 2L, 4L * 1000000L * 1000000L, 4L)),
      s"got ${m(1L)}")
  }

  // ---------------------------------------------------------------- q254

  test("law: q254 an all-unique source reads unseen = ttr = 1e6; an " +
    "all-repeats source reads unseen 0") {
    val rows = Seq(
      ("u", "a b c d e"), // 3 distinct shingles, all singletons
      ("r", "x x x x x")) // one shingle type, count 3
    val got = TextQueries.goodTuringCore(
      rows.toDF("source", "text")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got("u") == ((3L, 3L, 3L, 1000000L, 1000000L)), s"$got")
    assert(got("r") == ((3L, 1L, 0L, 0L, 333333L)), s"$got")
  }

  // ---------------------------------------------------------------- q255

  test("law: q255 every strategy rule is reachable — broadcast (small " +
    "side), salt (one hot key ≥ 1e6 pairs), shuffle_hash (mid), merge " +
    "(both sides big); out_rows is the EXACT join cardinality") {
    import org.apache.spark.sql.functions.{lit => l}
    val s2 = spark
    import s2.implicits._
    def side(jn: String, sd: String, n: Long, keys: Long) =
      spark.range(n).select(l(jn).as("jn"), l(sd).as("side"),
        (org.apache.spark.sql.functions.col("id") % keys).as("k"))
    val sides = side("a_small", "L", 50, 50)
      .union(side("a_small", "R", 500000, 500000))
      .union(side("b_hot", "L", 300000, 150)      // 2000 rows per key
        .union(side("b_hot", "R", 300000, 300)))  // 1000 per key -> 2e6
      .union(side("c_mid", "L", 200000, 200000)
        .union(side("c_mid", "R", 500000, 500000)))
      .union(side("d_big", "L", 300000, 300000)
        .union(side("d_big", "R", 500000, 500000)))
    val got = graft.queries.Relational.joinAdvisorCore(sides).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getString(6))).toMap
    assert(got("a_small") == ((50L, "broadcast")), s"$got")
    // b_hot: 150 shared keys x 2000 x 1000 = 3e8 rows, 2e6 per key
    assert(got("b_hot") == ((300000000L, "salt")), s"$got")
    assert(got("c_mid") == ((200000L, "shuffle_hash")), s"$got")
    assert(got("d_big") == ((300000L, "merge")), s"$got")
  }

  // ---------------------------------------------------------------- q256

  test("law: q256 identical weeks drift 0; a +5.00 shift in one week " +
    "moves every quantile by exactly 500 cents, peaking there") {
    def wk(w: Long, s: Int) = Timestamp.from(
      java.time.Instant.ofEpochSecond(w * 604800L + s))
    // weeks 0..2 identical values {1..10}; week 3 shifted +5.00
    val rows = (for (w <- 0L to 2L; i <- 1 to 10)
      yield (wk(w, i), i.toDouble)) ++
      (1 to 10).map(i => (wk(3L, i), i.toDouble + 5.0))
    val got = EventQueries.quantileDriftCore(
      rows.toDF("ts", "value")).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == ((500L, 3L)), s"got $r")
    }
  }

  // ---------------------------------------------------------------- q258

  test("law: q258 a planted zero vector counts in n_zero AND " +
    "n_degenerate; a half-scale vector crosses the quarter-mean rule " +
    "while healthy unit-ish vectors do not") {
    def v(x: Float) = Seq.fill(64)(x)
    // 8 healthy vectors at 0.125 (n2 = 64·1250² = 1e8), one zero, one
    // at 1/4 amplitude (0.03125·1e4 = 312.5 → HALF_UP 313; n2 =
    // 64·313² = 6_270_016 — 4·n2 ≈ 25.1e6 < gmean ≈ 80.6e6, crosses)
    val rows = (0 until 8).map(i => (i.toLong, 0, v(0.125f))) ++
      Seq((8L, 0, v(0f)), (9L, 0, v(0.03125f)))
    val got = DedupQueries.normHealthCore(
      rows.toDF("vec_id", "label", "embedding")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6)) ==
      ((10L, 0L, 1L, 2L)), s"got $r")
    // mean over 10 = (8·1e8 + 6_270_016) / 10, floored
    assert(r.getLong(4) == 80627001L, s"got $r")
  }
}
