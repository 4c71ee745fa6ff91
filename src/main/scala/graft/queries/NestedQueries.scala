package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.{Q, Tables}
import graft.Tables.{embeddings => emb}
import graft.functions.{ArrayOps, Reducers}

/** The nested/jagged-array operator surface — the heart of the reference
  * (SURVEY §2.2/§2.3/§2.5/§2.6). Every per-row ("axis=1") op is a pure
  * Column expression over `embeddings.embedding` (array<float>), so the
  * whole pipeline stays inside whole-stage codegen: at 100 TB these are
  * embarrassingly parallel scans with zero shuffle.
  *
  * Integer outputs are cast to long and float reductions computed in
  * double + rounded, so the DuckDB oracle compares exactly.
  */
object NestedQueries {

  private def dbl(c: Column): Column = c.cast("double")

  /** q24/q25's tail: one row (vec_id, pos, c0, c1) per element of the
    * pair list `pairs`; [[pairRowsSql]] is its oracle over `p`. */
  private def pairRows(e: DataFrame, pairs: Column): DataFrame =
    e.select(col("vec_id"), posexplode(pairs).as(Seq("pos", "pr")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("pr.c0").as("c0"), col("pr.c1").as("c1"))
      .orderBy("vec_id", "pos")
  private val pairRowsSql =
    """SELECT vec_id, pos, pr.c0 AS c0, pr.c1 AS c1 FROM (
      |  SELECT vec_id, unnest(range(0, len(pairs))) AS pos, unnest(pairs) AS pr
      |  FROM p) u
      |ORDER BY vec_id, pos""".stripMargin

  val queries: Seq[Q] = Seq(
    // flatten(axis=1) with positional index — reference flatten/ravel
    // (structure.py:428-451, 753-772) + local_index (structure.py:560-579).
    Q(
      "q20_explode_pos",
      """SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
        |       unnest(embedding) AS val
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id, pos""".stripMargin
    ) { (s, d) =>
      emb(s, d).filter(col("vec_id") < 50)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val"))
        .orderBy("vec_id", "pos")
    },

    // Per-row reductions — reference sum/mean/min/max/count_nonzero/ptp
    // (reducers.py:517-548, 328-358, 361-401, 285-325, 222-254, 452-461).
    Q(
      "q21_arr_reduce",
      """SELECT vec_id,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0 AS s,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding), 4) + 0 AS m,
        |  round(CAST(list_min(embedding) AS DOUBLE), 4) AS mn,
        |  round(CAST(list_max(embedding) AS DOUBLE), 4) AS mx,
        |  round(CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE), 4) AS ptp,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  CAST(len(embedding) AS BIGINT) AS n
        |FROM embeddings ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val e = col("embedding")
      emb(s, d).select(
        col("vec_id"),
        (round(Reducers.sumArr(e), 4) + lit(0.0)).as("s"),
        (round(Reducers.sumArr(e) / size(e), 4) + lit(0.0)).as("m"),
        round(dbl(Reducers.minArr(e)), 4).as("mn"),
        round(dbl(Reducers.maxArr(e)), 4).as("mx"),
        round(dbl(Reducers.maxArr(e)) - dbl(Reducers.minArr(e)), 4).as("ptp"),
        size(filter(e, x => x > 0)).cast("long").as("n_pos"),
        size(e).cast("long").as("n"))
        .orderBy("vec_id")
    },

    // Per-row sort + firsts + inner slice — reference sort(axis=-1)
    // (structure.py:836-857), firsts (structure.py:400-425), inner slices
    // (core.py:1545-1583).
    Q(
      "q22_arr_sort",
      s"""SELECT vec_id, ${Ser.sqlJsFp("list_sort(embedding[1:8])")} AS sorted8,
        |       embedding[1] AS first_val,
        |       ${Ser.sqlJsFp("embedding[3:5]")} AS mid
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.jsfp(array_sort(slice(col("embedding"), 1, 8))).as("sorted8"),
        ArrayOps.firsts(col("embedding")).as("first_val"),
        Ser.jsfp(slice(col("embedding"), 3, 3)).as("mid"))
        .orderBy("vec_id")
    },

    // argsort — reference argsort(axis=-1) (structure.py:187-204).
    Q(
      "q23_argsort",
      s"""SELECT vec_id,
        |  ${Ser.sqlJs("list_transform(list_sort(list_zip(embedding[1:8], " +
             "range(0, 8))), p -> p[2])")} AS idx
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.js(transform(ArrayOps.argsort(slice(col("embedding"), 1, 8)),
          i => i.cast("long"))).as("idx"))
        .orderBy("vec_id")
    },

    // combinations(n=2) — reference structure.py:285-332, exploded flat.
    Q(
      "q24_combinations",
      s"""WITH t AS (SELECT vec_id, embedding[1:4] AS w FROM embeddings),
        |p AS (SELECT vec_id,
        |        flatten(list_transform(range(1, len(w)),
        |          i -> list_transform(w[i+1:], y -> {'c0': w[i], 'c1': y}))) AS pairs
        |      FROM t)
        |$pairRowsSql""".stripMargin
    ) { (s, d) =>
      pairRows(emb(s, d),
        ArrayOps.combinations2(slice(col("embedding"), 1, 4)))
    },

    // cartesian(axis=1) of two aligned lists — reference structure.py:245-282.
    Q(
      "q25_cartesian",
      s"""WITH t AS (SELECT vec_id, embedding[1:2] AS a, embedding[3:4] AS b
        |           FROM embeddings),
        |p AS (SELECT vec_id,
        |        flatten(list_transform(a, x -> list_transform(b, y -> {'c0': x, 'c1': y}))) AS pairs
        |      FROM t)
        |$pairRowsSql""".stripMargin
    ) { (s, d) =>
      pairRows(emb(s, d), ArrayOps.cartesian(
        slice(col("embedding"), 1, 2), slice(col("embedding"), 3, 2)))
    },

    // run_lengths — reference structure.py:775-798 (runs of the sign bit).
    Q(
      "q26_run_lengths",
      s"""SELECT vec_id,
        |  ${Ser.sqlJs("""list_transform(
        |    list_zip(
        |      list_filter(range(1, len(sgn)+1), i -> i = 1 OR sgn[i] != sgn[i-1]),
        |      list_concat(
        |        list_filter(range(1, len(sgn)+1), i -> i = 1 OR sgn[i] != sgn[i-1])[2:],
        |        [len(sgn)+1])),
        |    p -> p[2] - p[1])""")} AS runs
        |FROM (SELECT vec_id, list_transform(embedding, x -> x > 0) AS sgn
        |      FROM embeddings) t
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      // alias barrier: bind sgn as an attribute first — inlined, every
      // element_at(i) inside runLengths would re-evaluate the whole
      // transform(), turning O(n) into O(n^2) per row
      emb(s, d)
        .select(col("vec_id"), transform(col("embedding"), x => x > 0).as("sgn"))
        .select(col("vec_id"), Ser.js(ArrayOps.runLengths(col("sgn"))).as("runs"))
        .orderBy("vec_id")
    },

    // pad_none / fill_none / drop_none / is_none — reference
    // structure.py:715-750, 350-374, 377-397, 540-557.
    Q(
      "q27_pad_fill",
      s"""SELECT vec_id,
        |  ${Ser.sqlJsFp("list_resize(embedding[1:3], 5)")} AS padded,
        |  ${Ser.sqlJsFp("""list_transform(list_resize(embedding[1:3], 5),
        |                 x -> coalesce(CAST(x AS DOUBLE), CAST(0 AS DOUBLE)))""")} AS filled,
        |  ${Ser.sqlJs("list_transform(list_resize(embedding[1:3], 5), x -> x IS NULL)")} AS isnone,
        |  ${Ser.sqlJsFp("list_filter(list_resize(embedding[1:3], 5), x -> x IS NOT NULL)")} AS dropped
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val arr3 = slice(col("embedding"), 1, 3)
      val padded = ArrayOps.padNone(arr3, 5)
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.jsfp(padded).as("padded"),
        Ser.jsfp(transform(padded, x => coalesce(dbl(x), lit(0.0)))).as("filled"),
        Ser.js(ArrayOps.isNone(padded)).as("isnone"),
        Ser.jsfp(ArrayOps.dropNone(padded)).as("dropped"))
        .orderBy("vec_id")
    },

    // unflatten/chunk + flatten round-trip — reference unflatten
    // (structure.py:898-922) and to_regular-style regrouping.
    Q(
      "q28_chunk_roundtrip",
      s"""SELECT vec_id,
        |  CAST(len(chunks) AS BIGINT) AS n_chunks,
        |  ${Ser.sqlJs("list_transform(chunks, c -> CAST(len(c) AS BIGINT))")} AS sizes,
        |  flatten(chunks) = embedding AS ok
        |FROM (SELECT vec_id, embedding,
        |        list_transform(range(0, CAST(ceil(len(embedding)/16.0) AS BIGINT)),
        |          i -> embedding[i*16+1 : i*16+16]) AS chunks
        |      FROM embeddings) t
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val chunks = ArrayOps.chunk(col("embedding"), 16)
      emb(s, d).select(
        col("vec_id"),
        size(chunks).cast("long").as("n_chunks"),
        Ser.js(transform(chunks, c => size(c).cast("long"))).as("sizes"),
        (flatten(chunks) === col("embedding")).as("ok"))
        .orderBy("vec_id")
    },

    // zip with local_index then positional filter — reference zip
    // (structure.py:1255-1346) + getitem with inner slice stride
    // (core.py:1545-1583, `arr[:, ::2]`).
    Q(
      "q29_stride_slice",
      s"""SELECT vec_id,
        |  ${Ser.sqlJsFp("""list_transform(range(0, (len(embedding)+1)//2),
        |                 k -> embedding[2*k+1])""")} AS evens
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val zipped = transform(col("embedding"),
        (x, i) => struct(x.as("v"), i.as("i")))
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.jsfp(transform(filter(zipped, p => p.getField("i") % 2 === 0),
          p => p.getField("v"))).as("evens"))
        .orderBy("vec_id")
    },

    // where / mask / firsts-on-option / singletons — reference
    // structure.py:979-1034, 582-597, 400-425, 801-825.
    Q(
      "q30_where_mask",
      s"""SELECT vec_id,
        |  ${Ser.sqlJsFp("list_transform(w, v -> CASE WHEN v > 0 THEN v ELSE -v END)")} AS absx,
        |  ${Ser.sqlJsFp("list_transform(w, v -> CASE WHEN v > 0 THEN v END)")} AS masked,
        |  list_filter(w, v -> v > 0)[1] AS first_pos,
        |  ${Ser.sqlJsFp("""CASE WHEN list_filter(w, v -> v > 0)[1] IS NULL THEN []
        |       ELSE [list_filter(w, v -> v > 0)[1]] END""")} AS single
        |FROM (SELECT vec_id, embedding[1:4] AS w FROM embeddings) t
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val w = slice(col("embedding"), 1, 4)
      val cond = transform(w, v => v > 0)
      val firstPos = ArrayOps.firsts(ArrayOps.dropNone(ArrayOps.maskArr(w, cond)))
      emb(s, d).select(
        col("vec_id"),
        Ser.jsfp(ArrayOps.whereArr(cond, w, transform(w, v => -v))).as("absx"),
        Ser.jsfp(ArrayOps.maskArr(w, cond)).as("masked"),
        firstPos.as("first_pos"),
        Ser.jsfp(ArrayOps.singletons(firstPos)).as("single"))
        .orderBy("vec_id")
    },

    // axis=None reduction: flatten all + global agg — reference
    // `ak.sum(axis=None)` path (core.py:2336-2346 + tree reduction);
    // Spark: explode + partial/final HashAggregate (no tree layer needed).
    Q(
      "q31_ravel_global",
      """SELECT count(*) AS n,
        |  round(sum(CAST(v AS DOUBLE)), 4) + 0 AS s,
        |  round(avg(CAST(v AS DOUBLE)), 6) + 0 AS m,
        |  round(stddev_samp(CAST(v AS DOUBLE)), 6) AS sd,
        |  round(CAST(min(v) AS DOUBLE), 6) AS mn,
        |  round(CAST(max(v) AS DOUBLE), 6) AS mx
        |FROM (SELECT unnest(embedding) AS v FROM embeddings) t""".stripMargin
    ) { (s, d) =>
      emb(s, d).select(explode(col("embedding")).as("v"))
        .agg(
          count(lit(1)).as("n"),
          (round(sum(dbl(col("v"))), 4) + lit(0.0)).as("s"),
          (round(avg(dbl(col("v"))), 6) + lit(0.0)).as("m"),
          round(stddev_samp(dbl(col("v"))), 6).as("sd"),
          round(dbl(min(col("v"))), 6).as("mn"),
          round(dbl(max(col("v"))), 6).as("mx"))
    },

    // softmax / var / std / moment per row — the reference's TODO stubs
    // (reducers.py:464-473, 559-589, 484-514, 404-415) made real.
    Q(
      "q32_softmax_moments",
      s"""SELECT vec_id,
        |  ${Ser.sqlJs("list_transform(w, x -> CAST(round(exp(CAST(x AS DOUBLE)) / d * 1000000) AS BIGINT))")} AS soft,
        |  round(v * 8 / 7, 6) AS var1,
        |  round(sqrt(v), 6) AS sd0,
        |  round(m3, 6) + 0 AS mom3
        |FROM (
        |  SELECT vec_id, w,
        |    list_sum(list_transform(w, x -> exp(CAST(x AS DOUBLE)))) AS d,
        |    list_sum(list_transform(w, x -> pow(CAST(x AS DOUBLE) - mu, 2))) / 8 AS v,
        |    list_sum(list_transform(w, x -> pow(CAST(x AS DOUBLE) - mu, 3))) / 8 AS m3
        |  FROM (SELECT vec_id, embedding[1:8] AS w,
        |          list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) / 8 AS mu
        |        FROM embeddings) i) t
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val w = slice(col("embedding"), 1, 8)
      emb(s, d).select(
        col("vec_id"),
        Ser.jsfp(Reducers.softmaxArr(w)).as("soft"),
        round(Reducers.varArr(w, ddof = 1), 6).as("var1"),
        round(Reducers.stdArr(w), 6).as("sd0"),
        (round(Reducers.momentArr(w, 3), 6) + lit(0.0)).as("mom3"))
        .orderBy("vec_id")
    },

    // Record ops: zip/with_field/unzip — reference structure.py:1255-1346,
    // 1056-1087, 939-954 (struct build, withField, project back out).
    Q(
      "q33_record_ops",
      """SELECT vec_id, x, y, round(CAST(x AS DOUBLE) + CAST(y AS DOUBLE), 6) + 0 AS z
        |FROM (SELECT vec_id, embedding[1] AS x, embedding[2] AS y FROM embeddings) t
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val rec = struct(element_at(col("embedding"), 1).as("x"),
        element_at(col("embedding"), 2).as("y"))
      emb(s, d).select(col("vec_id"), rec.as("r"))
        .withColumn("r", col("r").withField("z",
          round(dbl(col("r.x")) + dbl(col("r.y")), 6) + lit(0.0)))
        .select(col("vec_id"), col("r.x").as("x"), col("r.y").as("y"),
          col("r.z").as("z"))
        .orderBy("vec_id")
    },

    // Row-axis getitem: slice with offset/limit — reference
    // `arr[10:100]`-style axis-0 slicing (core.py:1473-1543).
    Q(
      "q34_slice_axis0",
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY doc_id LIMIT 5 OFFSET 10""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d).orderBy("doc_id")
        .select("doc_id", "n_chars")
        .offset(10).limit(5)
    },

    // Elementwise ufunc broadcasting into lists (reference
    // __array_ufunc__, core.py:1756-1769) + any/all reducers
    // (reducers.py:71-102/37-68) + int-array gather (core.py:1368-1383).
    Q(
      "q36_ufunc_math",
      s"""SELECT vec_id,
        |  ${Ser.sqlJsFp("list_transform(w, x -> sin(CAST(x AS DOUBLE)))")} AS sins,
        |  ${Ser.sqlJsFp("list_transform(w, x -> exp(CAST(x AS DOUBLE)))")} AS exps,
        |  ${Ser.sqlJsFp("list_transform(w, x -> sqrt(abs(CAST(x AS DOUBLE))))")} AS roots,
        |  len(list_filter(w, x -> x > 0)) > 0 AS any_pos,
        |  len(list_filter(w, x -> x <= 0)) = 0 AS all_pos,
        |  ${Ser.sqlJsFp("[w[2], w[4], w[len(w)]]")} AS gathered
        |FROM (SELECT vec_id, embedding[1:6] AS w FROM embeddings) t
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.ArrayOps
      val w = slice(col("embedding"), 1, 6)
      emb(s, d).select(
        col("vec_id"),
        Ser.jsfp(transform(w, x => sin(dbl(x)))).as("sins"),
        Ser.jsfp(transform(w, x => exp(dbl(x)))).as("exps"),
        Ser.jsfp(transform(w, x => sqrt(abs(dbl(x))))).as("roots"),
        exists(w, x => x > 0).as("any_pos"),
        forall(w, x => x > 0).as("all_pos"),
        Ser.jsfp(ArrayOps.gather(w, array(lit(1), lit(3), lit(-1)))).as("gathered"))
        .orderBy("vec_id")
    },

    // concatenate(axis=1) + argcartesian + argcombinations + local_index —
    // reference operations.py:132-137, structure.py:83-122, 125-176, 560-579.
    Q(
      "q37_concat_argcart",
      s"""SELECT vec_id,
        |  ${Ser.sqlJsFp("list_concat(embedding[1:2], embedding[3:4])")} AS joined,
        |  ${Ser.sqlJs("""flatten(list_transform(range(0, 2),
        |    i -> list_transform(range(0, 2), j -> {'c0': i, 'c1': j})))""")} AS argcart,
        |  ${Ser.sqlJs("""flatten(list_transform(range(0, 3),
        |    i -> list_transform(range(i + 1, 4), j -> {'c0': i, 'c1': j})))""")} AS argcomb,
        |  ${Ser.sqlJs("range(0, len(embedding[1:3]))")} AS lidx
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.ArrayOps
      // each (c0, c1) index pair widened to longs, as JSON
      def longPairs(pairs: org.apache.spark.sql.Column) =
        Ser.js(transform(pairs,
          p => struct(p.getField("c0").cast("long").as("c0"),
            p.getField("c1").cast("long").as("c1"))))
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.jsfp(ArrayOps.concatInner(slice(col("embedding"), 1, 2),
          slice(col("embedding"), 3, 2))).as("joined"),
        longPairs(ArrayOps.argcartesian(slice(col("embedding"), 1, 2),
          slice(col("embedding"), 3, 2))).as("argcart"),
        longPairs(ArrayOps.argcombinations2(slice(col("embedding"), 1, 4)))
          .as("argcomb"),
        Ser.js(transform(ArrayOps.localIndex(slice(col("embedding"), 1, 3)),
          i => i.cast("long"))).as("lidx"))
        .orderBy("vec_id")
    },

    // isclose + nan_to_num — reference structure.py:508-537, 600-616.
    Q(
      "q38_isclose_nan",
      """SELECT vec_id,
        |  abs(CAST(embedding[1] AS DOUBLE) - CAST(embedding[2] AS DOUBLE))
        |    <= 1e-8 + 0.5 * abs(CAST(embedding[2] AS DOUBLE)) AS close_half,
        |  CASE WHEN isnan('NaN'::DOUBLE) THEN 0.0 ELSE 'NaN'::DOUBLE END
        |    AS nan_to_num0
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.ArrayOps
      val a = col("embedding").getItem(0).cast("double")
      val b = col("embedding").getItem(1).cast("double")
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        ArrayOps.isclose(a, b, rtol = 0.5).as("close_half"),
        ArrayOps.nanToNum(lit(Double.NaN)).as("nan_to_num0"))
        .orderBy("vec_id")
    },

    // values_astype / strings_astype / enforce_type — reference
    // structure.py:957-976, 860-868 (TODO there; native cast here),
    // 1349-1368.
    Q(
      "q39_casts",
      s"""SELECT vec_id,
        |  ${Ser.sqlJsFp("embedding[1:3]")} AS as_double,
        |  ${Ser.sqlJs("list_transform(embedding[1:3], x -> CAST(round(x * 100, 0) AS BIGINT))")}
        |    AS as_long,
        |  CAST(substr(CAST(vec_id AS VARCHAR) || '7', 1, 10) AS BIGINT) AS parsed
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val w = slice(col("embedding"), 1, 3)
      emb(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.jsfp(transform(w, x => x.cast("double"))).as("as_double"),
        Ser.js(transform(w, x => round(x * 100, 0).cast("long"))).as("as_long"),
        concat(col("vec_id").cast("string"), lit("7")).substr(1, 10)
          .cast("long").as("parsed"))
        .orderBy("vec_id")
    },

    // The engine's core identity end-to-end at query level: BUILD jagged
    // nested rows from relational rows (collect_list of structs — one
    // nested row per order, like the reference's points fixture), then
    // apply the per-row nested operator surface over them. At scale this is
    // one shuffle (the groupBy) and then a shuffle-free nested pipeline.
    Q(
      "q80_nested_roundtrip",
      s"""WITH nested AS (
        |  SELECT l_orderkey,
        |    list({'ln': l_linenumber, 'qty': l_quantity, 'price': l_extendedprice}
        |         ORDER BY l_linenumber, l_quantity, l_extendedprice) AS items
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(len(items) AS BIGINT) AS n_items,
        |  items[1].qty AS first_qty,
        |  round(list_sum(list_transform(items, x -> x.price)), 2) AS sum_price,
        |  ${Ser.sqlJsFp("list_sort(list_transform(items, x -> x.qty))", 100L)} AS qty_sorted,
        |  CAST(len(items) * (len(items) - 1) // 2 AS BIGINT) AS n_pairs
        |FROM nested ORDER BY l_orderkey""".stripMargin
    ) { (s, d) =>
      import graft.functions.{ArrayOps, Reducers}
      // collect_list per orderkey is BOUNDED state: TPC-H caps lineitems
      // at 7 per order at every SF, so the per-group buffer is ≤7 structs —
      // safe at 100 TB (contrast q86, which uses MinKAgg because a
      // per-supplier price list is NOT bounded).
      val nested = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("price")))).as("items"))
      nested.select(
        col("l_orderkey"),
        ArrayOps.num(col("items")).cast("long").as("n_items"),
        ArrayOps.firsts(col("items")).getField("qty").as("first_qty"),
        round(Reducers.sumArr(transform(col("items"), _.getField("price"))), 2)
          .as("sum_price"),
        Ser.jsfp(array_sort(transform(col("items"), _.getField("qty"))), 100L)
          .as("qty_sorted"),
        // n-choose-2 COUNT as arithmetic — materializing the pair structs
        // (combinations2) just to size() them is O(n^2) allocation per row;
        // the pair values themselves are exercised by q24.
        (size(col("items")) * (size(col("items")) - 1) / 2).cast("long")
          .as("n_pairs"))
        .orderBy("l_orderkey")
    },

    // Decimation sample — reference sample(factor=N) (lib/inspect.py:241-273):
    // deterministic every-Nth-row selection.
    Q(
      "q35_sample_nth",
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Deep broadcasting at depth 2 — the schema-recursive expression
    // builder (NestedOps.mapLeaves/zipLeaves/broadcastScalar, the engine's
    // Awkward-broadcasting analogue, reference core.py:1756-1769) applied
    // through a built array<array<float>>: ufunc map, aligned zip, and
    // scalar broadcast, each reduced to a scalar for the oracle.
    Q(
      "q94_deep_broadcast", {
      // `leaf` of every x of the 4x4 chunked prefix, flattened
      def leaves(leaf: String) =
        s"""flatten(list_transform(range(0, 4), i ->
           |    list_transform(embedding[i*4+1:i*4+4],
           |      x -> $leaf)))""".stripMargin
      s"""SELECT vec_id,
        |  round(list_sum(${leaves("CAST(x AS DOUBLE) * 2 + 1")}), 3) + 0 AS deep_sum,
        |  round(list_sum(${leaves("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")}), 3) + 0
        |    AS deep_dot,
        |  round(list_max(${leaves("CAST(x AS DOUBLE) + 10")}), 3) + 0 AS deep_max
        |FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""".stripMargin
    }
    ) { (s, d) =>
      import graft.functions.{ArrayOps, NestedOps}
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      val nested = ArrayOps.chunk(slice(col("embedding"), 1, 16), 4)
      val dt = ArrayType(ArrayType(FloatType))
      val mapped = NestedOps.mapLeaves(nested, dt)((x, _) =>
        x.cast("double") * 2 + 1)
      val zipped = NestedOps.zipLeaves(nested, nested, dt)((x, y) =>
        x.cast("double") * y.cast("double"))
      val bcast = NestedOps.broadcastScalar(nested, dt, lit(10.0))((x, v) =>
        x.cast("double") + v)
      emb(s, d).filter(col("vec_id") < 200).select(
        col("vec_id"),
        (round(aggregate(flatten(mapped), lit(0.0), (a, x) => a + x), 3)
          + lit(0.0)).as("deep_sum"),
        (round(aggregate(flatten(zipped), lit(0.0), (a, x) => a + x), 3)
          + lit(0.0)).as("deep_dot"),
        (round(array_max(flatten(bcast)), 3) + lit(0.0)).as("deep_max"))
        .orderBy("vec_id")
    },

    // sample(probability=...) — reference inspect.py:241-273's Bernoulli
    // mode. `df.sample(p, seed)` is RNG-partition-dependent, so the gated
    // form uses the hash-mod determinism trick: keep rows whose md5(key)
    // prefix falls below the probability threshold (0x1a/0x100 ~ 10.2%).
    // Same keep-decision on any engine and any partitioning — which is
    // also the property you want at 100 TB (resumable, repartition-proof).
    Q(
      "q87_sample_bernoulli",
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
        .select("doc_id", "lang").orderBy("doc_id")
    }
  )
}
