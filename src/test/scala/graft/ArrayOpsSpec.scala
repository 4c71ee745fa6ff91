package graft

import org.apache.spark.sql.functions._
import graft.functions.ArrayOps._

/** Differential tests for the structure-op surface (reference
  * tests/test_structure.py — same shapes: empty lists, null lists, null
  * elements). */
class ArrayOpsSpec extends SparkSpec {
  import spark.implicits._

  test("num: list lengths incl. empty and null list") {
    assert(eval1(nullsDF, num(col("xs"))) == Seq(3, 0, null, 2, 1))
  }

  test("firsts: first element, null on empty/null") {
    assert(eval1(nullsDF, firsts(col("xs"))) == Seq(1.0, null, null, null, 5.0))
  }

  test("singletons: null -> [], value -> [value]") {
    val first = firsts(col("xs"))
    assert(eval1(nullsDF, singletons(first)).map(seqOf) ==
      Seq(Seq(1.0), Seq(), Seq(), Seq(), Seq(5.0)))
  }

  test("padNone pads with nulls and clips") {
    assert(eval1(nullsDF, padNone(col("xs"), 3)).map(seqOf) == Seq(
      Seq(1.0, null, 3.0), Seq(null, null, null), null,
      Seq(null, null, null), Seq(5.0, null, null)))
    assert(eval1(nullsDF, padNone(col("xs"), 2, clip = true)).map(seqOf) == Seq(
      Seq(1.0, null), Seq(null, null), null, Seq(null, null), Seq(5.0, null)))
  }

  test("fillNone / dropNone / isNone") {
    assert(eval1(nullsDF, fillNone(col("xs"), lit(0.0))).map(seqOf) == Seq(
      Seq(1.0, 0.0, 3.0), Seq(), null, Seq(0.0, 0.0), Seq(5.0)))
    assert(eval1(nullsDF, dropNone(col("xs"))).map(seqOf) == Seq(
      Seq(1.0, 3.0), Seq(), null, Seq(), Seq(5.0)))
    assert(eval1(nullsDF, isNone(col("xs"))).map(seqOf) == Seq(
      Seq(false, true, false), Seq(), null, Seq(true, true), Seq(false)))
  }

  test("maskArr keeps shape, nulls non-matching") {
    val m = transform(col("xs"), x => coalesce(x > 2, lit(false)))
    assert(eval1(nullsDF, maskArr(col("xs"), m)).map(seqOf) == Seq(
      Seq(null, null, 3.0), Seq(), null, Seq(null, null), Seq(5.0)))
  }

  test("whereArr elementwise ternary") {
    val c = transform(col("xs"), x => coalesce(x > 2, lit(false)))
    val ys = transform(col("xs"), _ => lit(-1.0))
    assert(eval1(nullsDF, whereArr(c, col("xs"), ys)).map(seqOf) == Seq(
      Seq(-1.0, -1.0, 3.0), Seq(), null, Seq(-1.0, -1.0), Seq(5.0)))
  }

  test("localIndex") {
    assert(eval1(nullsDF, localIndex(col("xs"))).map(seqOf) == Seq(
      Seq(0, 1, 2), Seq(), null, Seq(0, 1), Seq(0)))
  }

  test("runLengths incl. empty list") {
    val df = Seq(
      (0L, Seq(1, 1, 2, 2, 2, 3)),
      (1L, Seq[Int]()),
      (2L, Seq(7)),
      (3L, Seq(4, 4, 4, 4))).toDF("row_id", "xs")
    assert(eval1(df, runLengths(col("xs"))).map(seqOf) == Seq(
      Seq(2L, 3L, 1L), Seq(), Seq(1L), Seq(4L)))
  }

  test("unflatten regroups by counts") {
    val df = Seq((0L, Seq(1, 2, 3, 4, 5, 6), Seq(2, 1, 3)))
      .toDF("row_id", "xs", "counts")
    assert(eval1(df, unflatten(col("xs"), col("counts"))).map(seqOf).map(
      _.map(seqOf)) == Seq(Seq(Seq(1, 2), Seq(3), Seq(4, 5, 6))))
  }

  test("unflatten stays linear on long lists (10k sublists)") {
    // The old aggregate+concat offsets build was O(n²) allocation; on 10k
    // counts it took minutes. The PrefixOffsets form must do this in <~sec.
    val n = 10000
    val df = Seq((0L, List.range(1, 2 * n + 1), List.fill(n)(2)))
      .toDF("row_id", "xs", "counts")
    val start = System.nanoTime()
    val got = eval1(df, unflatten(col("xs"), col("counts"))).map(seqOf).head
    val elapsedSec = (System.nanoTime() - start) / 1e9
    assert(got.size == n)
    assert(seqOf(got.head) == Seq(1, 2))
    assert(seqOf(got.last) == Seq(2 * n - 1, 2 * n))
    assert(elapsedSec < 30.0, s"unflatten took ${elapsedSec}s — quadratic?")
  }

  test("unflatten accepts bigint counts (Slice needs int args)") {
    val df = Seq((0L, Seq(1, 2, 3, 4, 5, 6), Seq(2L, 1L, 3L)))
      .toDF("row_id", "xs", "counts")
    assert(eval1(df, unflatten(col("xs"), col("counts"))).map(seqOf).map(
      _.map(seqOf)) == Seq(Seq(Seq(1, 2), Seq(3), Seq(4, 5, 6))))
  }

  test("chunk splits into fixed-size groups") {
    val df = Seq((0L, Seq(1, 2, 3, 4, 5))).toDF("row_id", "xs")
    assert(eval1(df, chunk(col("xs"), 2)).map(seqOf).map(_.map(seqOf)) ==
      Seq(Seq(Seq(1, 2), Seq(3, 4), Seq(5))))
  }

  test("combinations2: n-choose-2 in index order") {
    val df = Seq((0L, Seq("a", "b", "c")), (1L, Seq("z")), (2L, Seq[String]()))
      .toDF("row_id", "xs")
    val got = eval1(df, combinations2(col("xs"))).map(seqOf)
    val pairs0 = got(0).map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
      (row.getString(0), row.getString(1)) })
    assert(pairs0 == Seq(("a", "b"), ("a", "c"), ("b", "c")))
    assert(got(1) == Seq())
    assert(got(2) == Seq())
  }

  test("combinations with replacement and custom fields (structure.py:296)") {
    val df = Seq((0L, Seq("a", "b"))).toDF("row_id", "xs")
    val pairs = eval1(df,
      combinations2(col("xs"), replacement = true, fields = Seq("l", "r")))
      .map(seqOf).head.map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
        (row.getString(0), row.getString(1)) })
    assert(pairs == Seq(("a", "a"), ("a", "b"), ("b", "b")))
    val trip = eval1(df, combinationsN(col("xs"), 3, replacement = true))
      .map(seqOf).head.map(seqOf)
    assert(trip == Seq(Seq("a", "a", "a"), Seq("a", "a", "b"),
      Seq("a", "b", "b"), Seq("b", "b", "b")))
    // without replacement unchanged: C(2,3) = 0
    assert(eval1(df, combinationsN(col("xs"), 3)).map(seqOf).head == Seq())
  }

  test("argcombinations: index pairs / index triples (structure.py:125-176)") {
    val df = Seq((0L, Seq("a", "b", "c", "d")), (1L, Seq[String]()))
      .toDF("row_id", "xs")
    val pairs = eval1(df, argcombinations2(col("xs"))).map(seqOf)
    val idx0 = pairs(0).map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
      (row.getInt(0), row.getInt(1)) })
    assert(idx0 == Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)))
    assert(pairs(1) == Seq())
    val triples = eval1(df, argcombinationsN(col("xs"), 3)).map(seqOf)
    assert(triples(0).map(seqOf) ==
      Seq(Seq(0, 1, 2), Seq(0, 1, 3), Seq(0, 2, 3), Seq(1, 2, 3)))
    assert(triples(1) == Seq())
  }

  test("cartesian and argcartesian") {
    val df = Seq((0L, Seq(1, 2), Seq(10, 20))).toDF("row_id", "a", "b")
    val pairs = eval1(df, cartesian(col("a"), col("b"))).map(seqOf).head
      .map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
        (row.getInt(0), row.getInt(1)) })
    assert(pairs == Seq((1, 10), (1, 20), (2, 10), (2, 20)))
    val idx = eval1(df, argcartesian(col("a"), col("b"))).map(seqOf).head
      .map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
        (row.getInt(0), row.getInt(1)) })
    assert(idx == Seq((0, 0), (0, 1), (1, 0), (1, 1)))
  }

  test("sliding: overlapping windows cover the list, final window reaches the end") {
    val df = Seq((0L, (1 to 7).toList)).toDF("row_id", "xs")
    val got = eval1(df, sliding(col("xs"), 3, 2)).map(seqOf).head.map(seqOf)
    assert(got == Seq(Seq(1, 2, 3), Seq(3, 4, 5), Seq(5, 6, 7)))
    // n not aligned to stride: short tail window still reaches the end
    val df8 = Seq((0L, (1 to 8).toList)).toDF("row_id", "xs")
    val got8 = eval1(df8, sliding(col("xs"), 3, 2)).map(seqOf).head.map(seqOf)
    assert(got8 == Seq(Seq(1, 2, 3), Seq(3, 4, 5), Seq(5, 6, 7), Seq(7, 8)))
    // n <= winSize: one window, the whole list
    assert(eval1(df8, sliding(col("xs"), 10, 4)).map(seqOf).head.map(seqOf) ==
      Seq((1 to 8).toList))
    // stride == winSize degenerates to chunk
    assert(eval1(df8, sliding(col("xs"), 4, 4)).map(seqOf).head.map(seqOf) ==
      eval1(df8, chunk(col("xs"), 4)).map(seqOf).head.map(seqOf))
    // empty list -> empty windows
    val dfe = Seq((0L, Seq[Int]())).toDF("row_id", "xs")
    assert(eval1(dfe, sliding(col("xs"), 3, 2)).map(seqOf).head == Seq())
  }

  test("cartesianN: 3-ary product, rightmost varies fastest; empty kills") {
    val df = Seq((0L, Seq(1, 2), Seq(10), Seq(100, 200)))
      .toDF("row_id", "a", "b", "c")
    val triples = eval1(df, cartesianN(Seq(col("a"), col("b"), col("c"))))
      .map(seqOf).head.map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
        (row.getInt(0), row.getInt(1), row.getInt(2)) })
    assert(triples == Seq((1, 10, 100), (1, 10, 200), (2, 10, 100), (2, 10, 200)))
    // any empty input array -> empty product
    val dfe = Seq((0L, Seq(1, 2), Seq[Int](), Seq(100)))
      .toDF("row_id", "a", "b", "c")
    assert(eval1(dfe, cartesianN(Seq(col("a"), col("b"), col("c"))))
      .map(seqOf).head == Seq())
    // index tuples
    val idx = eval1(df, argcartesianN(Seq(col("a"), col("b"), col("c"))))
      .map(seqOf).head.map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
        (row.getInt(0), row.getInt(1), row.getInt(2)) })
    assert(idx == Seq((0, 0, 0), (0, 0, 1), (1, 0, 0), (1, 0, 1)))
  }

  test("combinationsNamed: fields name the records, values match combinationsN") {
    val df = Seq((0L, Seq("a", "b", "c", "d")), (1L, Seq("x", "y")))
      .toDF("row_id", "xs")
    val got = eval1(df,
      combinationsNamed(col("xs"), 3, Seq("p", "q", "r"))).map(seqOf)
    val rows0 = got(0).map(_.asInstanceOf[org.apache.spark.sql.Row])
    assert(rows0.head.schema.fieldNames.toSeq == Seq("p", "q", "r"))
    assert(rows0.map(r => (r.getString(0), r.getString(1), r.getString(2))) ==
      Seq(("a", "b", "c"), ("a", "b", "d"), ("a", "c", "d"), ("b", "c", "d")))
    assert(got(1) == Seq()) // C(2,3) = 0
    // replacement flows through to the underlying combinationsN
    val rep = eval1(df.filter(col("row_id") === 1),
      combinationsNamed(col("xs"), 2, Seq("l", "r"), replacement = true))
      .map(seqOf).head.map(_.asInstanceOf[org.apache.spark.sql.Row])
      .map(r => (r.getString(0), r.getString(1)))
    assert(rep == Seq(("x", "x"), ("x", "y"), ("y", "y")))
  }

  test("sortDesc / argsortDesc: descending, argsort ties stay stable") {
    // ties: two 5s at indices 1 and 3 — stable descending keeps 1 before 3
    val df = Seq((0L, Seq(2, 5, 9, 5))).toDF("row_id", "xs")
    assert(eval1(df, sortDesc(col("xs"))).map(seqOf) == Seq(Seq(9, 5, 5, 2)))
    assert(eval1(df, argsortDesc(col("xs"))).map(seqOf) ==
      Seq(Seq(2, 1, 3, 0)))
  }

  test("sortDesc keeps nulls last, agreeing with argsortDesc") {
    // reverse(array_sort) would put the null FIRST (ADVICE r2)
    val df = Seq((0L, Seq[Integer](3, null, 7))).toDF("row_id", "xs")
    assert(eval1(df, sortDesc(col("xs"))).map(seqOf) ==
      Seq(Seq(7, 3, null)))
    // argsortDesc's comparator treats null-valued entries the same way:
    // value desc, nulls last (index 1 holds the null)
    assert(eval1(df, argsortDesc(col("xs"))).map(seqOf) == Seq(Seq(2, 0, 1)))
  }

  test("cartesian nested=true groups pairs per left element") {
    val df = Seq((0L, Seq(1, 2), Seq(10, 20))).toDF("row_id", "a", "b")
    val grouped = eval1(df, cartesian(col("a"), col("b"), nested = true))
      .map(seqOf).head.map(seqOf)
    assert(grouped.size == 2 && grouped.forall(_.size == 2))
    val g0 = grouped.head.map(r => { val row = r.asInstanceOf[org.apache.spark.sql.Row]
      (row.getInt(0), row.getInt(1)) })
    assert(g0 == Seq((1, 10), (1, 20)))
    val ag = eval1(df, argcartesian(col("a"), col("b"), nested = true))
      .map(seqOf).head.map(seqOf)
    assert(ag.size == 2 && ag.forall(_.size == 2))
  }

  test("argsort is stable and ascending") {
    val df = Seq((0L, Seq(3.0, 1.0, 3.0, 0.5))).toDF("row_id", "xs")
    assert(eval1(df, argsort(col("xs"))).map(seqOf) == Seq(Seq(3, 1, 0, 2)))
  }

  test("ravel1 / concatInner") {
    val df = Seq((0L, Seq(Seq(1, 2), Seq(3)), Seq(9))).toDF("row_id", "nested", "b")
    assert(eval1(df, ravel1(col("nested"))).map(seqOf) == Seq(Seq(1, 2, 3)))
    assert(eval1(df, concatInner(flatten(col("nested")), col("b"))).map(seqOf) ==
      Seq(Seq(1, 2, 3, 9)))
  }

  test("isclose / nanToNum") {
    val df = Seq((0L, 1.0000001, 1.0), (1L, 2.0, 1.0)).toDF("row_id", "a", "b")
    assert(eval1(df, isclose(col("a"), col("b"))) == Seq(true, false))
    val dfn = Seq((0L, Double.NaN), (1L, 2.5)).toDF("row_id", "x")
    assert(eval1(dfn, nanToNum(col("x"))) == Seq(0.0, 2.5))
  }

  test("toRegular validates fixed width; fromRegular is the identity " +
    "(reference structure.py:479-505)") {
    val ok = Seq((0L, Seq(1, 2, 3)), (1L, Seq(4, 5, 6))).toDF("row_id", "xs")
    assert(eval1(ok, toRegular(col("xs"), 3)).map(seqOf) ==
      Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    assert(eval1(ok, fromRegular(toRegular(col("xs"), 3))).map(seqOf) ==
      Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    // ragged input raises, matching the reference's to_regular error
    val ragged = Seq((0L, Seq(1, 2, 3)), (1L, Seq(4))).toDF("row_id", "xs")
    val e = intercept[Exception] {
      ragged.select(toRegular(col("xs"), 3)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("to_regular")), msgs(e).mkString(" | "))
  }

  test("toRegularTyped carries the RegularForm size as column metadata, " +
    "it survives a parquet round-trip, and fromRegularTyped drops it " +
    "(reference structure.py:871-895)") {
    val ok = Seq((0L, Seq(1, 2, 3)), (1L, Seq(4, 5, 6))).toDF("row_id", "xs")
    val typed = ok.select(col("row_id"),
      toRegularTyped(col("xs"), 3, as = "xs"))
    assert(regularSize(typed.schema, "xs").contains(3L))
    // the invariant must survive persistence: Spark stores StructField
    // metadata in the parquet footer and restores it on read
    val dir = freshDir("graft-regular")
    typed.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(regularSize(back.schema, "xs").contains(3L))
    assert(back.orderBy("row_id").select("xs").collect()
      .map(r => r.getSeq[Int](0)).toSeq == Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    // the var-length view drops the tag; an untagged column reads None
    val untyped = back.select(fromRegularTyped(col("xs"), as = "xs"))
    assert(regularSize(untyped.schema, "xs").isEmpty)
    assert(regularSize(ok.schema, "xs").isEmpty)
  }
}
