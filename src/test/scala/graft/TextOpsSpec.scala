package graft

import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.queries.TextQueries
import java.security.MessageDigest

/** Differential tests for the pipeline text ops: goldens computed with an
  * independent JVM md5 implementation (same idiom as the reference testing
  * lazy vs eager awkward). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("shingles: 3-grams in order; short docs yield empty") {
    val df = Seq((0L, "a b c d e"), (1L, "x y")).toDF("row_id", "t")
    val got = eval1(df, TextOps.shingles(TextOps.tokens(col("t")), 3)).map(seqOf)
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq())
  }

  test("minhash matches independent md5 min") {
    // plain-Scala model of the production signature: each distinct word
    // 3-shingle hashes to the first 4 md5 bytes as an unsigned int, and
    // permutation i keeps min((h·a_i + b_i) mod P)
    val p = 4294967291L
    val perms = Seq((1000003L, 12345L), (2000029L, 54321L),
      (3000073L, 98765L), (4000037L, 13579L))
    def h32(s: String): Long =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    def hashes(text: String): Set[Long] =
      text.split(" ").sliding(3).filter(_.length == 3)
        .map(w => h32(w.mkString(" "))).toSet
    def model(text: String): Seq[Long] =
      perms.map { case (a, b) => hashes(text).map(h => (h * a + b) % p).min }
    val t0 = "the quick brown fox jumps"
    val t1 = "the quick brown fox the quick brown fox over the lazy dog"
    val df = Seq((0L, t0), (1L, t1), (2L, "too short"))
      .toDF("doc_id", "text")
    // exploded form (q51/q52/q116/q159): a short doc yields no row
    val k = TextOps.minhashAggs(col("h"), "k")
    val exploded = df.select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      .select(col("doc_id"), call_function("md5_prefix64", col("sh")).as("h"))
      .groupBy("doc_id").agg(k.head, k.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(exploded == Map(0L -> model(t0), 1L -> model(t1)))
    // per-row fold over the hashed shingle set (the stream form): a
    // short doc yields null
    val rows = df.orderBy("doc_id").select(
        TextOps.hashedShingles(col("text")).as("hs"),
        graft.streaming.EventStreams.minhashBands(col("text")).as("mh"))
      .collect()
    assert(rows.take(2).map(_.getSeq[Long](0).toSet).toSeq ==
      Seq(hashes(t0), hashes(t1)))
    assert(rows.take(2).map(_.getSeq[Long](1)).toSeq ==
      Seq(model(t0), model(t1)))
    assert(rows(2).getSeq[Long](0).isEmpty && rows(2).isNullAt(1))
  }

  test("simhash16 matches independent bit-vote computation") {
    val words = Seq("spark", "join", "merge", "scan", "filter")
    val df = Seq((0L, words.mkString(" "))).toDF("row_id", "t")
    def bit(w: String, b: Int): Int = {
      val digit = Integer.parseInt(md5hex(w).substring(b / 4, b / 4 + 1), 16)
      (digit >> (b % 4)) & 1
    }
    val expected = (0 until 16).map { b =>
      val score = words.map(w => bit(w, b) * 2 - 1).sum
      if (score > 0) 1L << b else 0L
    }.sum
    val got = eval1(df, TextOps.simhash16(TextOps.tokens(col("t"))))
    assert(got == Seq(expected))
  }

  test("dot / norm / cosine on known vectors") {
    val df = Seq((0L, Seq(3.0f, 4.0f), Seq(4.0f, 3.0f))).toDF("row_id", "a", "b")
    assert(eval1(df, TextOps.dot(col("a"), col("b"))) == Seq(24.0))
    assert(eval1(df, TextOps.norm(col("a"))) == Seq(5.0))
    val cos = eval1(df, TextOps.cosine(col("a"), col("b"))).head
      .asInstanceOf[Double]
    assert(math.abs(cos - 24.0 / 25.0) < 1e-12)
  }

  test("dot_product kernel: null-skip, mixed float/double, length mismatch, SQL form") {
    // null elements are skipped (DuckDB list_sum semantics), not poisoning
    val withNull = Seq((0L, Seq[java.lang.Float](1.0f, null, 2.0f),
      Seq[java.lang.Float](10.0f, 5.0f, 100.0f))).toDF("row_id", "a", "b")
    assert(eval1(withNull, TextOps.dot(col("a"), col("b"))) == Seq(210.0))
    // mixed element types: float vector x double literal plane
    val f = Seq((0L, Seq(2.0f, 3.0f))).toDF("row_id", "a")
    assert(eval1(f, TextOps.dot(col("a"),
      array(lit(1.5), lit(2.0)))) == Seq(9.0))
    // shorter side bounds the walk
    assert(eval1(f, TextOps.dot(col("a"), array(lit(10.0)))) == Seq(20.0))
    // registered SQL function form (GraftExtensions)
    graft.plans.GraftExtensions.install(spark)
    f.createOrReplaceTempView("dotv")
    assert(spark.sql(
      "SELECT dot_product(a, a) AS d FROM dotv").head.getDouble(0) == 13.0)
    // equivalence with the composed HOF form on real-ish vectors
    val vs = Seq((0L, Seq.tabulate(64)(i => (i * 0.37 - 9).toFloat),
      Seq.tabulate(64)(i => (3.1 - i * 0.21).toFloat))).toDF("row_id", "a", "b")
    val hof = eval1(vs, aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, x) => acc + x)).head.asInstanceOf[Double]
    val native = eval1(vs, TextOps.dot(col("a"), col("b"))).head
      .asInstanceOf[Double]
    assert(native == hof) // bit-identical: same casts, same order, no FMA
  }

  test("quantizeInt8: roundtrip bound, constant vector yields null qs") {
    val df = Seq((0L, Seq(-1.0f, 0.0f, 1.0f)), (1L, Seq(5.0f, 5.0f)))
      .toDF("row_id", "v")
    val rows = df.orderBy("row_id")
      .select(TextOps.quantizeInt8(col("v")).as("q")).collect()
    val q0 = rows(0).getStruct(0)
    val (mn, sc) = (q0.getDouble(0), q0.getDouble(1))
    val qs = q0.getSeq[Long](2)
    assert(mn == -1.0 && qs == Seq(0L, 128L, 255L))
    // dequantized error bounded by half a step
    Seq(-1.0, 0.0, 1.0).zip(qs).foreach { case (x, q) =>
      assert(math.abs(mn + q * sc - x) <= sc / 2 + 1e-12)
    }
    assert(rows(1).getStruct(0).isNullAt(2)) // constant vector: sc = 0
  }

  test("signBucket packs sign bits") {
    val df = Seq((0L, Seq(1.0f, -1.0f, 2.0f, -2.0f))).toDF("row_id", "v")
    // bits: e1>0 -> 1, e2<0 -> 0, e3>0 -> 4, e4<0 -> 0 => 5
    assert(eval1(df, TextOps.signBucket(col("v"), 4)) == Seq(5L))
  }

  test("rpBucket: scale-invariant signs, nearby vectors collide, far don't") {
    val base = Seq.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val scaled = base.map(_ * 7.5f)          // same direction
    val nudged = base.updated(0, base(0) + 1e-4f) // tiny angle
    val flipped = base.map(-_)               // opposite direction
    val df = Seq((0L, base), (1L, scaled), (2L, nudged), (3L, flipped))
      .toDF("row_id", "v")
    val got = eval1(df, TextOps.rpBucket(col("v"), 8, 64))
      .map(_.asInstanceOf[Long])
    assert(got(0) == got(1), "positive scaling must not change any sign bit")
    assert(got(0) == got(2), "1e-4 nudge should keep all 8 sign bits")
    assert(got(0) == 255L - got(3), "negation flips every sign bit")
    // planes are data-independent constants: same vector, same bucket, any
    // partitioning (rpCoef is pure integer arithmetic)
    assert(TextOps.rpCoef(0, 0) == 12345L - 50001L)
  }

  test("jaccard on distinct sets") {
    val df = Seq((0L, Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("row_id", "x", "y")
    val got = eval1(df, TextOps.jaccard(col("x"), col("y"))).head
      .asInstanceOf[Double]
    assert(math.abs(got - 0.5) < 1e-12)
  }

  test("compressionRatio: repetitive text compresses below natural prose") {
    val rep = "spam spam spam " * 50
    val prose = "the quick brown fox jumps over a lazy dog while seventeen " +
      "distinct melodies echo through crowded autumn markets near the harbor"
    val df = Seq((0L, rep), (1L, prose), (2L, "")).toDF("row_id", "t")
    val got = eval1(df, TextOps.compressionRatio(col("t")))
      .map(_.asInstanceOf[Double])
    assert(got(0) < 0.1, s"repetitive ratio ${got(0)}")
    assert(got(1) > 0.5, s"prose ratio ${got(1)}")
    assert(got(2) == 1.0)
    // registered SQL form agrees with the Column form
    val viaSql = eval1(df, call_function("deflate_ratio", col("t")))
      .map(_.asInstanceOf[Double])
    assert(viaSql == got)
  }

  test("bpeishCount splits letters/digits/other") {
    val df = Seq((0L, "ab12 cd-ef")).toDF("row_id", "t")
    // ab, 12, cd, -, ef
    assert(eval1(df, TextOps.bpeishCount(col("t"))) == Seq(5L))
  }

  test("quantize_stats kernel EQUALS the composed quantizeInt8 form") {
    import graft.functions.ArrayOps.bindOnce
    graft.plans.GraftExtensions.install(spark)
    // real fixture vectors + adversarial shapes (ties at min/max, tiny sc)
    val fixture = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("row_id"), col("embedding").as("a"))
    val edge = Seq(
      (1000L, Seq(1.0f, 1.0f, 1.0f)),            // sc = 0: filtered by both
      (1001L, Seq(0.0f, 1e-7f, 2e-7f)),          // tiny scale
      (1002L, Seq(-5.5f, 2.25f, 9.75f, -5.5f))) // ties at min
      .toDF("row_id", "a")
    for (df <- Seq(fixture, edge)) {
      val hof = bindOnce(graft.functions.TextOps.quantizeInt8(col("a"))) { q =>
        val (mn, sc) = (q.getField("mn"), q.getField("sc"))
        bindOnce(q.getField("qs")) { qs =>
          struct(sc.as("sc"),
            aggregate(qs, lit(0L), (acc, x) => acc + x).as("q_sum"),
            array_max(zip_with(qs, col("a"), (x, v) =>
              abs(mn + x * sc - v.cast("double")))).as("max_err"))
        }
      }
      val both = df.select(col("row_id"), hof.as("h"),
          call_function("quantize_stats", col("a")).as("st"))
        .filter(col("h.sc") > 0)
        .select(col("row_id"),
          col("h.sc"), col("st").getItem(0),
          col("h.q_sum").cast("double"), col("st").getItem(1),
          col("h.max_err"), col("st").getItem(2))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getDouble(1) == r.getDouble(2), s"sc mismatch: $r")
        assert(r.getDouble(3) == r.getDouble(4), s"q_sum mismatch: $r")
        assert(r.getDouble(5) == r.getDouble(6), s"max_err mismatch: $r")
      }
    }
  }

  test("each registered native function rejects a wrong-typed argument " +
      "at analysis, naming itself") {
    import org.apache.spark.sql.GraftColumnBridge
    import graft.plans.{BpeCount, SqQuantize}
    graft.plans.GraftExtensions.install(spark)
    val calls = Map(
      "md5_prefix64" -> "md5_prefix64(1)",
      "md5_prefix60" -> "md5_prefix60(1)",
      "prefix_offsets" -> "prefix_offsets('a')",
      "deflate_ratio" -> "deflate_ratio(array(1))",
      "dot_product" -> "dot_product('a', array(1.0D))",
      "quantize_stats" -> "quantize_stats(array('a'))",
      "min_md5_hex" -> "min_md5_hex('a')",
      "min_shingle_md5_hex" -> "min_shingle_md5_hex(array('a'), 'b')",
      "cdc_cuts" -> "cdc_cuts(1)",
      "bigram_sq_sum" -> "bigram_sq_sum(array('a'))")
    // every registered function has its wrong-typed call
    assert(calls.keySet == graft.plans.GraftExtensions.functionDescriptors
      .map(_._1.funcName).toSet)
    // the param'd kernels are built through the column bridge
    val a = GraftColumnBridge.expression(lit("a"))
    val bridged = Map(
      "sq_quantize" -> SqQuantize(a, Nil, Nil, 3L),
      "bpe_count" -> BpeCount(a, Nil, Nil))
    def rejection(fn: String)(build: => Any): Option[String] = {
      val e = intercept[org.apache.spark.sql.AnalysisException](build)
      if (e.getCondition.startsWith("DATATYPE_MISMATCH") &&
          e.getMessage.contains(fn)) None
      else Some(s"$fn: ${e.getMessage}")
    }
    // a type-check failure (not, say, an unresolved function) naming fn
    val wrong = calls.toSeq.sorted.flatMap { case (fn, call) =>
      rejection(fn)(spark.sql(s"SELECT $call AS r"))
    } ++ bridged.toSeq.sortBy(_._1).flatMap { case (fn, k) =>
      rejection(fn)(spark.range(1).select(GraftColumnBridge.column(k)))
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("every native kernel survives a Java serialization round trip, " +
      "and its interpreted eval equals its generated projection") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.plans._
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("ws", ArrayType(StringType)),
      StructField("fs", ArrayType(FloatType)),
      StructField("ds", ArrayType(DoubleType)),
      StructField("ls", ArrayType(LongType)),
      StructField("is", ArrayType(IntegerType)),
      StructField("n", IntegerType)))
    def ref(c: String): Expression = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    val kernels: Seq[Expression] = Seq(
      Md5Prefix64(ref("s")), Md5Prefix60(ref("s")),
      PrefixOffsets(ref("ls")), PrefixOffsets(ref("is")),
      DeflateRatio(ref("s")), DotProduct(ref("fs"), ref("ds")),
      QuantizeStats(ref("fs")), QuantizeStats(ref("ds")),
      MinMd5Hex(ref("ws")), MinShingleMd5Hex(ref("ws"), ref("n")),
      CdcCuts(ref("s")), BigramSqSum(ref("s")),
      SqQuantize(ref("fs"), Seq(0.0, -1.0, 2.0), Seq(1.0, 2.0, 2.0), 255L),
      BpeCount(ref("ws"), Seq("a", "b"), Seq("b", "c")))
    assert(kernels.map(_.prettyName).toSet.size == 12)
    val long = (0 until 400).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
    val rows = Seq(
      Row("hello world hello", Seq("a", "b", "c", "ab"),
        Seq(0.5f, 1.25f, -2f), Seq(1.0, 2.5, -3.0), Seq(1L, 2L, 3L),
        Seq(4, 5), 2),
      // empty inputs: the null-returning kernels' null results
      Row("", Seq(), Seq(), Seq(), Seq(), Seq(), 3),
      Row(null, null, null, null, null, null, null),
      // a null word nulls bpe_count; constant vectors; cdc cuts
      Row(s"é$long", Seq("x", null), Seq(1f, 1f, 1f),
        Seq(-0.5, 0.5), Seq(0L), Seq(0), 1))
      .map(r => toRow(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    val ser = new org.apache.spark.serializer.JavaSerializer(
      spark.sparkContext.getConf).newInstance()
    kernels.foreach { k =>
      val back = ser.deserialize[Expression](ser.serialize(k))
      assert(back == k && back.prettyName == k.prettyName &&
        back.checkInputDataTypes().isSuccess, s"${k.prettyName} round trip")
      val proj = GenerateUnsafeProjection.generate(Seq(back))
      rows.foreach { row =>
        def scala(v: Any) = CatalystTypeConverters.convertToScala(v, k.dataType)
        val interpreted = scala(k.eval(row))
        val generated = scala(proj(row).get(0, k.dataType))
        assert(interpreted == generated,
          s"${k.prettyName} on $row: eval $interpreted, codegen $generated")
      }
    }
  }

  // ---------------------------------------------------------------- q244

  test("law: q244 all-consonant doc grades 0 with spw_ppm 0; cpw_ppm " +
    "is exact chars·1e6/words") {
    val got = TextQueries.lexicalComplexityCore(
      Seq(("s0", "bcd fgh")).toDF("source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    // 7 chars, 2 words: cpw = 3.5e6
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) ==
      ((0L, 1L, 2L, 0L, 0L, 3500000L)), s"got $r")
  }

  test("law: q244 vowel-group runs, not vowels — 'aaa bee' has y=2 " +
    "over w=2: spw_ppm exactly 1e6, grade 4") {
    val got = TextQueries.lexicalComplexityCore(
      Seq(("s0", "aaa bee")).toDF("source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(4), r.getLong(5)) ==
      ((4L, 2L, 1000000L)), s"got $r")
  }

  // ---------------------------------------------------------------- q245

  test("law: q245 an all-same-char doc is maximally repetitive — " +
    "'aaaa': ssq=9 over n²=9 ⇒ rep_ppm exactly 1e6 (bucket 125)") {
    val got = TextQueries.charDiversityCore(
      Seq(("s0", "aaaa")).toDF("source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((125L, 1L, 3L, 1000000L)), s"got $r")
  }

  test("law: q245 all-distinct bigrams — 'abcd': rep_ppm = ⌊3e6/9⌋ = " +
    "333333; a sub-2-char doc is excluded entirely") {
    val got = TextQueries.charDiversityCore(
      Seq(("s0", "abcd"), ("s0", "x")).toDF("source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(4)) ==
      ((41L, 1L, 333333L)), s"got $r")
  }

  test("law: q245 kernel == explicit bigram count on a supplementary-" +
    "plane string (code points, not UTF-16 units)") {
    // "😀a😀a" code-point bigrams: (😀a), (a😀), (😀a) → Σf² = 4+1 = 5
    val df = Seq(Tuple1("😀a😀a")).toDF("t")
    val got = df.selectExpr("bigram_sq_sum(t)").head().getLong(0)
    assert(got == 5L, s"got $got")
  }
}
