package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.ArrayOps._

/** Property-based laws for the structure ops (an improvement over the
  * reference, which has no property testing — SURVEY §5). Each property
  * evaluates the Column expression through Spark and checks an algebraic
  * law against an independent Scala-collections computation. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic mini-forAll: the scalatest/scalacheck bridge isn't in
    * the offline cache, so drive Gen directly with a fixed seed chain. */
  private def forAll[T](gen: Gen[T], n: Int = 12)(f: T => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  private val smallList = Gen.listOfN(8, Gen.chooseNum(-50, 50))
    .flatMap(l => Gen.chooseNum(0, 8).map(n => l.take(n)))

  // batch multiple generated rows into ONE Spark job per property for speed
  private def evalRows(rows: List[List[Int]],
      expr: org.apache.spark.sql.Column): Seq[Any] = {
    val df = rows.zipWithIndex.map { case (xs, i) => (i.toLong, xs) }
      .toDF("row_id", "xs")
    df.orderBy("row_id").select(expr.as("v")).collect().toSeq.map(_.get(0))
  }

  test("law: flatten(unflatten(xs, counts)) == xs") {
    forAll(Gen.listOfN(6, smallList)) { rows =>
      val counts = rows.map(xs => if (xs.isEmpty) Seq[Int]() else {
        // split xs into group sizes summing to length
        val k = math.max(1, xs.length / 2)
        Seq(k, xs.length - k).filter(_ > 0)
      })
      val df = rows.zip(counts).zipWithIndex
        .map { case ((xs, cs), i) => (i.toLong, xs, cs) }
        .toDF("row_id", "xs", "cs")
      val got = df.orderBy("row_id")
        .select(flatten(unflatten(col("xs"), col("cs"))).as("v"))
        .collect().map(_.getSeq[Int](0)).toList
      assert(got == rows.map(_.toList))
    }
  }

  test("law: runLengths sums to list length; encodes runs") {
    forAll(Gen.listOfN(6, smallList.map(_.map(_ % 3)))) { rows =>
      val got = evalRows(rows, runLengths(col("xs")))
        .map(v => seqOf(v).map(_.asInstanceOf[Long]))
      rows.zip(got).foreach { case (xs, rl) =>
        assert(rl.sum == xs.length)
        // independent run-length encoding
        val expected = xs.foldLeft(List.empty[(Int, Long)]) {
          case ((v, n) :: rest, x) if v == x => (v, n + 1) :: rest
          case (acc, x) => (x, 1L) :: acc
        }.reverse.map(_._2)
        assert(rl.toList == expected)
      }
    }
  }

  test("law: gather(sorted, argsort) == array_sort") {
    forAll(Gen.listOfN(6, smallList)) { rows =>
      val got = evalRows(rows, gather(col("xs"), argsort(col("xs"))))
        .map(v => seqOf(v).map(_.asInstanceOf[Int]).toList)
      assert(got == rows.map(_.sorted))
    }
  }

  test("law: combinations2 has n*(n-1)/2 pairs, each i<j ordered") {
    forAll(Gen.listOfN(6, smallList)) { rows =>
      val got = evalRows(rows, size(combinations2(col("xs"))))
        .map(_.asInstanceOf[Int])
      assert(got.toList == rows.map(xs => xs.length * (xs.length - 1) / 2))
    }
  }

  test("law: padNone(clip) always yields exactly target elements") {
    forAll(Gen.listOfN(6, smallList)) { rows =>
      val got = evalRows(rows, size(padNone(col("xs"), 5, clip = true)))
        .map(_.asInstanceOf[Int])
      assert(got.forall(_ == 5))
    }
  }

  test("law: minhash is invariant under shingle permutation and duplication") {
    import graft.streaming.EventStreams
    // A token sequence of period p has the same 3-shingle SET for every
    // rotation and every length >= p + 2. So rotating the tokens (which
    // reorders the shingles) and repeating them (which duplicates
    // shingles) must leave the production signature unchanged.
    val cases = for {
      p <- Gen.choose(1, 6)
      cyc <- Gen.listOfN(p,
        Gen.oneOf("spark", "join", "scan", "merge", "sort", "hash", "row"))
      r <- Gen.choose(0, p - 1)
      reps <- Gen.choose(1, 4)
    } yield (cyc, r, reps)
    forAll(cases, n = 8) { case (cyc, r, reps) =>
      val p = cyc.length
      def doc(start: Int, len: Int): String =
        (0 until len).map(i => cyc((start + i) % p)).mkString(" ")
      val df = List((0L, doc(0, p + 2)), (1L, doc(r, reps * p + 2)))
        .toDF("row_id", "t")
      val mh = eval1(df, EventStreams.minhashBands(col("t")))
      assert(mh(0) != null && mh(0) == mh(1),
        s"minhash not set-invariant for $cyc rotated by $r x$reps")
    }
  }

  test("law: simhash16 is invariant under token permutation") {
    import graft.functions.TextOps
    val words = Gen.listOfN(10,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon"))
    forAll(words, n = 8) { ws =>
      val perm = ws.reverse
      val df = List((0L, ws.mkString(" ")), (1L, perm.mkString(" ")))
        .toDF("row_id", "t")
      val sh = eval1(df, TextOps.simhash16(TextOps.tokens(col("t"))))
      assert(sh(0) == sh(1), s"simhash order-dependent for $ws")
    }
  }

  test("law: dropNone(maskArr(xs, m)) == filter by m") {
    forAll(Gen.listOfN(6, smallList)) { rows =>
      val m = transform(col("xs"), x => x > 0)
      val got = evalRows(rows, dropNone(maskArr(col("xs"), m)))
        .map(v => seqOf(v).map(_.asInstanceOf[Int]).toList)
      assert(got == rows.map(_.filter(_ > 0)))
    }
  }

  test("law: structure ops on null-bearing array<array<long>> rows match " +
    "the Awkward model") {
    // One row is an Option-typed model of array<array<long>>: a null row,
    // empty and null inner lists, null elements. Every op is checked at
    // the row's list level and mapped over its inner lists; the model is
    // each op's documented Awkward semantics, where an op at a list level
    // leaves a None at any outer level None.
    type Inner = Option[List[Option[Long]]]
    type NRow = Option[List[Inner]]
    def lists[T](g: Gen[T]): Gen[Option[List[T]]] = Gen.frequency(
      1 -> Gen.const(None), 1 -> Gen.const(Some(Nil)),
      4 -> Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, g)).map(Some(_)))
    val elem: Gen[Option[Long]] = Gen.frequency(
      4 -> Gen.chooseNum(-9L, 9L).map(Some(_)), 1 -> Gen.const(None))
    val row: Gen[NRow] = lists(lists(elem))
    // model value -> the Row-encodable form (null, Seq, boxed long)
    def enc(v: Any): Any = v match {
      case None => null
      case Some(x) => enc(x)
      case xs: List[_] => xs.map(enc)
      case x => x
    }
    // Spark result -> the same form (ints widened, arrays as List)
    def dec(v: Any): Any = v match {
      case null => null
      case xs: scala.collection.Seq[_] => xs.map(dec).toList
      case n: java.lang.Number => n.longValue
      case x => x
    }
    // Awkward semantics of one op on one list level (None in -> None out)
    def numM[T](l: Option[List[T]]) = l.map(_.size.toLong)
    def firstsM[T](l: Option[List[Option[T]]]) = l.flatMap(_.headOption.flatten)
    def dropNoneM[T](l: Option[List[Option[T]]]) = l.map(_.flatten)
    def fillNoneM[T](l: Option[List[Option[T]]], v: T) =
      l.map(_.map(_.orElse(Some(v))))
    def padClip[T](l: Option[List[Option[T]]], k: Int) =
      l.map(_.padTo(k, None).take(k))
    def localIdx[T](l: Option[List[T]]) = l.map(_.indices.map(_.toLong).toList)
    def flat(r: NRow) = r.map(_.flatten.flatten)
    val ops: Seq[(String, org.apache.spark.sql.Column, NRow => Any)] = Seq(
      ("num", num(col("xs")), numM(_)),
      ("firsts", firsts(col("xs")), firstsM(_)),
      ("dropNone", dropNone(col("xs")), dropNoneM(_)),
      ("fillNone", fillNone(col("xs"), typedLit(Seq(0L))),
        fillNoneM(_, List(Some(0L)))),
      ("padNone", padNone(col("xs"), 3, clip = true), padClip(_, 3)),
      ("localIndex", localIndex(col("xs")), localIdx(_)),
      ("flatten", graft.api.awk.flatten(col("xs")), flat),
      ("inner num", transform(col("xs"), l => num(l)),
        _.map(_.map(numM(_)))),
      ("inner firsts", transform(col("xs"), l => firsts(l)),
        _.map(_.map(firstsM(_)))),
      ("inner dropNone", transform(col("xs"), l => dropNone(l)),
        _.map(_.map(dropNoneM(_)))),
      ("inner fillNone", transform(col("xs"), l => fillNone(l, lit(0L))),
        _.map(_.map(fillNoneM(_, 0L)))),
      ("inner padNone", transform(col("xs"), l => padNone(l, 2, clip = true)),
        _.map(_.map(padClip(_, 2)))),
      ("inner localIndex", transform(col("xs"), l => localIndex(l)),
        _.map(_.map(localIdx(_)))))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "row_id BIGINT, xs ARRAY<ARRAY<BIGINT>>")
    forAll(Gen.listOfN(8, row), n = 6) { rows =>
      val df = spark.createDataFrame(java.util.Arrays.asList(
        rows.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(i.toLong, enc(r))
        }: _*), schema)
      val got = df.orderBy("row_id")
        .select(ops.map { case (n, c, _) => c.as(n) }: _*).collect()
      rows.zip(got).foreach { case (r, g) =>
        ops.zipWithIndex.foreach { case ((n, _, model), j) =>
          assert(dec(g.get(j)) == enc(model(r)), s"$n on ${enc(r)}")
        }
      }
    }
  }

  test("law: argcombinations2 indexes what combinations2 pairs") {
    forAll(Gen.listOfN(3, smallList), n = 4) { rows =>
      val strRows = rows.map(_.map(_.toString))
      val df = strRows.zipWithIndex.map { case (xs, i) => (i.toLong, xs) }
        .toDF("row_id", "xs")
      val both = df.orderBy("row_id").select(
        combinations2(col("xs")).as("c"),
        argcombinations2(col("xs")).as("a")).collect()
      both.foreach { r =>
        val xs = strRows(both.indexOf(r))
        val cs = seqOf(r.get(0)).map(_.asInstanceOf[org.apache.spark.sql.Row])
        val as = seqOf(r.get(1)).map(_.asInstanceOf[org.apache.spark.sql.Row])
        assert(cs.size == as.size)
        assert(cs.size == xs.size * (xs.size - 1) / 2)  // C(n,2)
        cs.zip(as).foreach { case (c, a) =>
          assert(c.getString(0) == xs(a.getInt(0)) &&
            c.getString(1) == xs(a.getInt(1)))
        }
      }
    }
  }

  test("law: quantize_stats kernel equals the composed HOF form on random vectors") {
    import graft.functions.ArrayOps.bindOnce
    graft.plans.GraftExtensions.install(spark)
    // random float vectors, including near-boundary scales — exercises the
    // kernel's primitive-floor fast path AND its BigDecimal fallback
    val vecGen = Gen.chooseNum(2, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000, 1000).map(_ / 128.0f)))
    forAll(Gen.listOfN(24, vecGen), n = 3) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("row_id", "a")
      val hof = bindOnce(graft.functions.TextOps.quantizeInt8(col("a"))) { q =>
        val (mn, sc) = (q.getField("mn"), q.getField("sc"))
        bindOnce(q.getField("qs")) { qs =>
          struct(sc.as("sc"),
            aggregate(qs, lit(0L), (acc, x) => acc + x).as("q_sum"),
            array_max(zip_with(qs, col("a"), (x, v) =>
              abs(mn + x * sc - v.cast("double")))).as("max_err"))
        }
      }
      val rows = df.select(col("row_id"), hof.as("h"),
          call_function("quantize_stats", col("a")).as("st"))
        .filter(col("h.sc") > 0)
        .collect()
      rows.foreach { r =>
        val h = r.getStruct(1)
        val st = r.getSeq[Double](2)
        assert(h.getDouble(0) == st(0), s"sc: $r")
        assert(h.getLong(1).toDouble == st(1), s"q_sum: $r")
        assert(h.getDouble(2) == st(2), s"max_err: $r")
      }
    }
  }

  test("law: histogram exact quantiles agree with Spark's buffered percentile") {
    import graft.functions.Quantiles
    // heavy ties (0..9 over 60 rows) exercise the histogram combine path;
    // Spark's percentile is the independent (buffered) implementation of
    // the same interpolated quantile_cont semantics
    val rowGen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0, 9)))
    forAll(rowGen, n = 3) { rows =>
      val df = rows.toDF("g", "v")
      val got = Quantiles
        .groupQuantilesCont(df, "g", "v",
          Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
        .collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val want = df.groupBy("g")
        .agg(expr("percentile(v, 0.25)").as("p25"),
          expr("percentile(v, 0.5)").as("p50"),
          expr("percentile(v, 0.9)").as("p90"))
        .collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      assert(got == want, s"rows=$rows")
    }
  }

  test("law: connectedComponents agrees with union-find on random graphs") {
    import graft.functions.GraphOps
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
      .map(_.filter { case (a, b) => a != b })
    forAll(edgeGen, n = 3) { edges =>
      val got = GraphOps
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: plain union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map { n =>
        val root = find(n)
        n -> nodes.filter(m => find(m) == root).min
      }.toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("law: asofBackward equals per-row max-of-earlier (naive) semantics") {
    import graft.functions.JoinOps
    val rowsGen = Gen.zip(
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 30L))),
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 30L))))
    forAll(rowsGen, n = 4) { case (lRaw, rRaw) =>
      // de-dup (key, ts) on the right so the match is unique
      val l = lRaw.distinct.zipWithIndex.map { case ((k, t), i) =>
        (k, t, i.toLong) }
      val r = rRaw.distinct.map { case (k, t) => (k, t, k * 1000 + t) }
      val got = JoinOps
        .asofBackward(l.toDF("k", "t", "lid"), r.toDF("k", "t", "v"),
          "k", "t")
        .collect().map(x => (x.getLong(2),
          if (x.isNullAt(4)) -1L else x.getLong(4))).toMap
      val want = l.map { case (k, t, lid) =>
        val cands = r.filter(rr => rr._1 == k && rr._2 <= t)
        lid -> (if (cands.isEmpty) -1L else cands.maxBy(_._2)._3)
      }.toMap
      assert(got == want, s"l=$l r=$r")
      // and the NATIVE whole-operator path obeys the same law — random
      // physical layout on both sides exercises the merge across
      // partition/ordering arrangements EnsureRequirements must fix up
      val gotNative = JoinOps
        .asofBackwardNative(l.toDF("k", "t", "lid").repartition(3),
          r.toDF("k", "t", "v").repartition(2), "k", "t")
        .collect().map(x => (x.getLong(2),
          if (x.isNullAt(4)) -1L else x.getLong(4))).toMap
      assert(gotNative == want, s"native: l=$l r=$r")
    }
  }

  test("law: intervalJoinBucketed == naive overlap join, duplicate-free, any width") {
    import graft.functions.JoinOps
    val ivGen = Gen.listOfN(10, for {
      lo <- Gen.chooseNum(-40.0, 40.0)
      len <- Gen.chooseNum(0.5, 30.0)
    } yield (lo, lo + len))
    forAll(Gen.zip(ivGen, ivGen, Gen.chooseNum(1.0, 15.0)), n = 8) {
      case (as, bs, width) =>
        val a = as.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
          .toDF("aid", "a_lo", "a_hi")
        val b = bs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
          .toDF("bid", "b_lo", "b_hi")
        val got = JoinOps
          .intervalJoinBucketed(a, "a_lo", "a_hi", b, "b_lo", "b_hi", width)
          .select("aid", "bid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toList
        val want = (for {
          ((alo, ahi), i) <- as.zipWithIndex
          ((blo, bhi), j) <- bs.zipWithIndex
          if alo < bhi && blo < ahi
        } yield (i.toLong, j.toLong)).toSet
        assert(got.toSet == want, s"width=$width as=$as bs=$bs")
        assert(got.length == got.toSet.size, "canonical-bucket dedup failed")
    }
  }

  test("law: cartesianN size = product of sizes; tuples enumerate in order") {
    forAll(Gen.zip(smallList, smallList, smallList), n = 8) {
      case (a, b, c) =>
        val df = List((0L, a, b, c)).toDF("row_id", "a", "b", "c")
        val got = eval1(df,
          cartesianN(Seq(col("a"), col("b"), col("c")))).map(seqOf).head
        assert(got.length == a.length * b.length * c.length,
          s"a=$a b=$b c=$c")
        val want = for (x <- a; y <- b; z <- c) yield (x, y, z)
        val tuples = got.map(_.asInstanceOf[org.apache.spark.sql.Row])
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        assert(tuples == want)
    }
  }

  test("law: combinationsNamed(n=3) count = C(len, 3), strictly increasing indices") {
    forAll(smallList, n = 8) { xs =>
      val df = List((0L, xs)).toDF("row_id", "xs")
      val got = eval1(df, combinationsNamed(col("xs"), 3, Seq("a", "b", "c")))
        .map(seqOf).head
      def c3(n: Int) = if (n < 3) 0 else n * (n - 1) * (n - 2) / 6
      assert(got.length == c3(xs.length), s"xs=$xs")
      // POSITIONAL combinations (the reference's semantics): every i<j<k
      // index triple, repeated values and all — NOT Scala's
      // List.combinations, which dedups equal multisets
      val n = xs.length
      val want = for {
        i <- (0 until n).toList; j <- i + 1 until n; k <- j + 1 until n
      } yield List(xs(i), xs(j), xs(k))
      val triples = got.map(_.asInstanceOf[org.apache.spark.sql.Row])
        .map(r => List(r.getInt(0), r.getInt(1), r.getInt(2)))
      assert(triples == want, s"xs=$xs")
    }
  }

  test("law: weighted-sample rank key is repartition-invariant (q110)") {
    // u derives from doc_id alone, so the selected top-k per stratum must
    // not depend on physical layout — the property that makes q110 safe
    // under AQE re-partitioning and cluster-size changes
    val sf = "/root/testdata/sf0.001"
    def topk(parts: Int): Seq[(String, Long)] = {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, sf).repartition(parts)
      val u = (((col("doc_id") * 2654435761L + 12345L) % 4294967296L + 1L)
        .cast("double") / 4294967298.0)
      val keyq = round(log(u) / col("n_chars") * 1e9, 0).cast("long")
      val w = Window.partitionBy("source")
        .orderBy(col("keyq").desc, col("doc_id"))
      docs.select(col("doc_id"), col("source"), keyq.as("keyq"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("source", "doc_id").orderBy("source", "doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val base = topk(1)
    assert(base.nonEmpty)
    assert(topk(7) == base && topk(32) == base)
  }

  test("law: cdc_cuts boundaries are shift-stable beyond a window") {
    // For random ASCII strings s and any prefix edit, cuts strictly past
    // (edit position + window) in the edited string correspond 1:1 to
    // cuts in the original shifted by the length delta — the re-sync law
    // that makes CDC dedup correct under insertions, checked on random
    // inputs (CorpusOpsSpec checks real docs).
    val asciiText = Gen.chooseNum(40, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString))
    forAll(asciiText, n = 10) { s =>
      def cuts(t: String): Seq[Long] = {
        val cps = t.codePoints().toArray
        (16 until cps.length).flatMap { pos =>
          val h = cps.slice(pos - 16, pos).map(_.toLong).sum
          if ((h * 2654435761L) % 64 == 0) Some(pos.toLong) else None
        }
      }
      val p = s.length / 3
      val edited = s.substring(0, p) + "XY" + s.substring(p)
      val horizon = p + 2 + 16
      val after = cuts(edited).filter(_ > horizon)
      val expect = cuts(s).filter(_ > p + 16).map(_ + 2).filter(_ > horizon)
      assert(after == expect, s"re-sync violated at p=$p for ${s.take(20)}…")
    }
  }

  test("law: BPE encode never increases token count round over round") {
    // each merge round weakly decreases every word's symbol count, and
    // the final sequence concatenates to the original word
    val word = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val merges = Seq(("a", "b"), ("ab", "c"), ("c", "c"), ("a", "a"))
    def walk(ss: List[String], l: String, r: String): List[String] =
      ss match {
        case x :: y :: rest if x == l && y == r => (l + r) :: walk(rest, l, r)
        case x :: rest => x :: walk(rest, l, r)
        case Nil => Nil
      }
    forAll(word, n = 20) { w =>
      var syms = w.toCharArray.map(_.toString).toList
      merges.foreach { case (l, r) =>
        val next = walk(syms, l, r)
        assert(next.length <= syms.length)
        assert(next.mkString == w)
        syms = next
      }
    }
  }

  test("law: q181 diagonal run merging — sum(runlens) = matches, " +
    "runs are maximal (no two runs on one diagonal are adjacent)") {
    // random match sets (ia, ib) -> group by diagonal, split into runs of
    // consecutive ia, the grouping the query's window computes; laws hold
    // for ANY match set, not just CDC-anchored ones
    val matches = Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(1, 12), Gen.chooseNum(1, 12))))
    forAll(matches, n = 20) { ms0 =>
      val ms = ms0.distinct
      val runs = ms.groupBy { case (ia, ib) => ia - ib }.toSeq.flatMap {
        case (_, onDiag) =>
          val ias = onDiag.map(_._1).sorted
          // split into maximal consecutive runs
          ias.foldLeft(List.empty[List[Int]]) {
            case (acc @ (run @ (last :: _)) :: rest, i) if i == last + 1 =>
              (i :: run) :: rest
            case (acc, i) => List(i) :: acc
          }
      }
      assert(runs.map(_.length).sum == ms.length)
      if (runs.nonEmpty) assert(runs.map(_.length).max <= ms.length)
      // maximality: within a diagonal, run boundaries are non-adjacent
      runs.foreach { run =>
        val s = run.sorted
        assert(s.zip(s.tail).forall { case (a, b) => b == a + 1 })
      }
    }
  }

  test("law: context-pack kept suffix is maximal and budget-respecting") {
    // mirrors q184/contextPackStream semantics: kept = maximal newest
    // suffix with total <= budget; one older turn more must overflow
    val turns = Gen.chooseNum(0, 15).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 60L)))
    val budget = 100L
    forAll(turns, n = 20) { toks =>
      // reverse cumulative sums from the newest (end of list)
      val kept = toks.reverse.scanLeft(0L)(_ + _).tail
        .zip(toks.reverse).takeWhile(_._1 <= budget).map(_._2)
      assert(kept.sum <= budget)
      if (kept.length < toks.length) {
        val nextOlder = toks.reverse(kept.length)
        assert(kept.sum + nextOlder > budget) // maximality
      }
      // trim-monotonicity: appending a NEWER turn never lets a trimmed
      // older turn re-enter (the streaming operator's safety invariant)
      val withNew = toks :+ 10L
      val kept2 = withNew.reverse.scanLeft(0L)(_ + _).tail
        .zip(withNew.reverse).takeWhile(_._1 <= budget).map(_._2)
      assert(kept2.sum >= math.min(kept.sum, budget - 10L).min(kept2.sum))
      assert(kept2.length <= kept.length + 1)
    }
  }

  test("property: bigram_sq_sum equals the brute-force code-point " +
    "bigram count map on random unicode strings (incl. supplementary " +
    "plane)") {
    val cp = Gen.frequency(
      (8, Gen.chooseNum(97, 122)),       // ascii letters
      (2, Gen.chooseNum(0x4e00, 0x4e10)), // CJK
      (1, Gen.const(0x1F600)))            // supplementary plane
    val strGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, cp).map(cps =>
        cps.map(Character.toChars(_).mkString).mkString))
    forAll(strGen, n = 24) { s =>
      val got = graft.plans.BigramSqSum.sqSum(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val cps = s.codePoints().toArray
      val expect = cps.zip(cps.drop(1)).groupBy(identity).values
        .map(g => g.length.toLong * g.length).sum
      assert(got == expect, s"'$s': $got != $expect")
    }
  }

  test("property: PermLanesAgg is merge-associative and matches the " +
    "brute-force signed lane sums under any input split") {
    val agg = new graft.functions.Aggregators.PermLanesAgg(16)
    val rows = Gen.listOfN(10,
      Gen.zip(Gen.chooseNum(0L, 4294967295L), Gen.chooseNum(1L, 50L)))
    forAll(rows, n = 12) { xs =>
      def sign(h: Long, k: Int): Long =
        if ((h * (2L * k + 3L)) % 1000003L % 2L == 0L) 1L else -1L
      val expect = (0 until 16).map(k =>
        xs.map { case (h, m) => sign(h, k) * m }.sum)
      // single-pass reduce
      val one = xs.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)).toSeq
      assert(one == expect, s"$one != $expect")
      // arbitrary split + merge
      val (l, r) = xs.splitAt(xs.length / 3)
      val merged = agg.merge(
        l.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)),
        r.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))).toSeq
      assert(merged == expect, s"$merged != $expect")
    }
  }
}
