package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.Tables.{documents => docs}
import graft.functions.{Scale, TextOps}

/** Text analysis over the `documents` table: string kernels (SURVEY §2.10 —
  * the reference's lib/str.py wraps ~50 Arrow compute kernels; here they are
  * codegen'd Column expressions), plus the training-data-pipeline text ops
  * the north star mandates: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting. All per-row, shuffle-free.
  */
object TextQueries {

  /** max(doc_id) per data dir (q204's decile bound). */
  private val maxDocId = Tables.perDir((s, d) =>
    docs(s, d).agg(max("doc_id")).head().getLong(0))

  val queries: Seq[Q] = Seq(
    // Token/word statistics — str.py length/split kernels + counts.
    Q(
      "q40_text_stats",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars2,
        |  length(text) = n_chars AS chars_ok,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  round(list_sum(list_transform(string_split(text, ' '),
        |                 w -> CAST(length(w) AS DOUBLE))) /
        |        len(string_split(text, ' ')), 4) AS avg_wlen,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val ws = TextOps.tokens(col("text"))
      docs(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars2"),
        (length(col("text")) === col("n_chars")).as("chars_ok"),
        size(ws).cast("long").as("n_words"),
        round(aggregate(ws, lit(0.0), (a, w) => a + length(w).cast("double"))
          / size(ws), 4).as("avg_wlen"),
        size(array_distinct(ws)).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    },

    // Scalar string kernels — upper/lower/reverse/pad/repeat/replace/slice/
    // trim/contains/position (str.py:27-917 equivalents).
    Q(
      "q41_str_kernels",
      """SELECT doc_id,
        |  upper(source) AS up, lower(lang) AS lo,
        |  reverse(substr(text, 1, 10)) AS rev10,
        |  lpad(source, 8, '_') AS pad8,
        |  repeat(lang, 3) AS rep3,
        |  replace(source, 'src', 'origin_') AS repl,
        |  substr(text, 3, 5) AS slice5,
        |  contains(text, 'spark') AS has_spark,
        |  CAST(strpos(text, 'join') AS BIGINT) AS pos_join,
        |  starts_with(source, 'src1') AS is_src1,
        |  concat_ws('|', lang, source) AS joined
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        upper(col("source")).as("up"), lower(col("lang")).as("lo"),
        reverse(substring(col("text"), 1, 10)).as("rev10"),
        lpad(col("source"), 8, "_").as("pad8"),
        repeat(col("lang"), 3).as("rep3"),
        replace(col("source"), lit("src"), lit("origin_")).as("repl"),
        substring(col("text"), 3, 5).as("slice5"),
        col("text").contains("spark").as("has_spark"),
        instr(col("text"), "join").cast("long").as("pos_join"),
        col("source").startsWith("src1").as("is_src1"),
        concat_ws("|", col("lang"), col("source")).as("joined"))
        .orderBy("doc_id")
    },

    // Regex kernels — match/extract/replace/split (str.py:516-796). Patterns
    // stay in the RE2-compatible subset so Java and RE2 agree.
    Q(
      "q42_regex",
      """SELECT doc_id,
        |  regexp_extract(text, '[a-z]{6,}') AS first_long,
        |  CAST(len(regexp_extract_all(text, '\bs[a-z]+')) AS BIGINT) AS s_words,
        |  length(regexp_replace(text, '[aeiou]', '', 'g')) -
        |    length(text) AS vowel_delta,
        |  CAST(len(string_split_regex(text, '[eo]')) AS BIGINT) AS eo_parts,
        |  regexp_matches(text, 'join.*merge|merge.*join') AS jm
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        regexp_extract(col("text"), "[a-z]{6,}", 0).as("first_long"),
        size(regexp_extract_all(col("text"), lit("\\bs[a-z]+"), lit(0)))
          .cast("long").as("s_words"),
        (length(regexp_replace(col("text"), "[aeiou]", "")) - length(col("text")))
          .as("vowel_delta"),
        size(split(col("text"), "[eo]")).cast("long").as("eo_parts"),
        col("text").rlike("join.*merge|merge.*join").as("jm"))
        .orderBy("doc_id")
    },

    // Second string-kernel family: capitalize/swapcase/title/center/
    // count_substring/find_substring (str.py:27, 835, 851, 43, 63, 141) —
    // the kernels without single-builtin Spark equivalents, built from
    // codegen'd primitives (translate / pad / substr arithmetic).
    Q(
      "q47_str_kernels2",
      """SELECT doc_id,
        |  upper(substr(lang, 1, 1)) || lower(substr(lang, 2)) AS cap,
        |  translate(source, 'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |            'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swapped,
        |  array_to_string(list_transform(string_split(substr(text, 1, 20), ' '),
        |    w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ') AS titled,
        |  CASE WHEN length(lang) >= 6 THEN lang
        |       ELSE rpad(lpad(lang, CAST(length(lang) + (6 - length(lang)) // 2 AS INTEGER), '*'), 6, '*')
        |  END AS centered,
        |  CAST((length(text) - length(replace(text, 'an', ''))) / 2 AS BIGINT) AS n_an,
        |  CAST(strpos(text, 'data') - 1 AS BIGINT) AS find_data
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.StrOps
      docs(s, d).select(
        col("doc_id"),
        StrOps.capitalize2(col("lang")).as("cap"),
        StrOps.swapcase(col("source")).as("swapped"),
        StrOps.title(substring(col("text"), 1, 20)).as("titled"),
        StrOps.center(col("lang"), 6, "*").as("centered"),
        StrOps.countSubstring(col("text"), "an").cast("long").as("n_an"),
        StrOps.findSubstring(col("text"), "data").cast("long").as("find_data"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace + BPE-ish regex + type-token ratio.
    Q(
      "q43_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |        len(string_split(text, ' ')), 4) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val ws = TextOps.tokens(col("text"))
      docs(s, d).select(
        col("doc_id"),
        size(ws).cast("long").as("ws_tokens"),
        TextOps.bpeishCount(col("text")).as("bpe_tokens"),
        round(size(array_distinct(ws)).cast("double") / size(ws), 4).as("ttr"))
        .orderBy("doc_id")
    },

    // Quality scoring: stopword ratio, mean word length, long-word share,
    // and a combined score.
    Q(
      "q44_quality", {
      val stopRatio =
        """CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is')))
          |        AS DOUBLE) / len(ws)""".stripMargin
      s"""SELECT doc_id,
        |  round($stopRatio, 4) AS stop_ratio,
        |  round(CAST(len(list_filter(ws, w -> length(w) >= 6)) AS DOUBLE) / len(ws), 4)
        |    AS long_ratio,
        |  round(0.5 * ($stopRatio)
        |      + 0.5 * least(CAST(len(ws) AS DOUBLE) / 100, 1.0), 4) AS quality
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        |ORDER BY doc_id""".stripMargin
    }
    ) { (s, d) =>
      val ws = TextOps.tokens(col("text"))
      val stopRatio = size(filter(ws,
        w => w.isin("the", "a", "of", "and", "to", "in", "is")))
        .cast("double") / size(ws)
      docs(s, d).select(
        col("doc_id"),
        round(stopRatio, 4).as("stop_ratio"),
        round(size(filter(ws, w => length(w) >= 6)).cast("double") / size(ws), 4)
          .as("long_ratio"),
        round(lit(0.5) * stopRatio
          + lit(0.5) * least(size(ws).cast("double") / 100, lit(1.0)), 4)
          .as("quality"))
        .orderBy("doc_id")
    },

    // Language-ID heuristic: marker-word votes with fixed precedence.
    Q(
      "q45_langid",
      """SELECT doc_id, lang,
        |  CASE
        |    WHEN en >= fr AND en >= de AND en >= es THEN 'en'
        |    WHEN fr >= de AND fr >= es THEN 'fr'
        |    WHEN de >= es THEN 'de'
        |    ELSE 'es' END AS pred,
        |  CAST(en AS BIGINT) AS en_score
        |FROM (SELECT doc_id, lang,
        |        len(list_filter(ws, w -> w IN ('the','and','of','is'))) AS en,
        |        len(list_filter(ws, w -> w IN ('le','la','et','est'))) AS fr,
        |        len(list_filter(ws, w -> w IN ('der','die','das','und'))) AS de,
        |        len(list_filter(ws, w -> w IN ('el','los','las','y'))) AS es
        |      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |            FROM documents) i) t
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val ws = TextOps.tokens(col("text"))
      def score(words: String*): Column =
        size(filter(ws, w => w.isin(words: _*))).cast("long")
      docs(s, d)
        .withColumn("en", score("the", "and", "of", "is"))
        .withColumn("fr", score("le", "la", "et", "est"))
        .withColumn("de", score("der", "die", "das", "und"))
        .withColumn("es", score("el", "los", "las", "y"))
        .select(
          col("doc_id"), col("lang"),
          when(col("en") >= col("fr") && col("en") >= col("de")
            && col("en") >= col("es"), "en")
            .when(col("fr") >= col("de") && col("fr") >= col("es"), "fr")
            .when(col("de") >= col("es"), "de")
            .otherwise("es").as("pred"),
          col("en").as("en_score"))
        .orderBy("doc_id")
    },

    // Document fingerprinting: full-text md5, min-word hash, min-shingle
    // hash, 8-hex prefix fingerprint.
    Q(
      "q46_fingerprint",
      """SELECT doc_id,
        |  md5(text) AS fp_full,
        |  substr(md5(text), 1, 8) AS fp8,
        |  list_min(list_transform(string_split(text, ' '), w -> md5(w))) AS fp_minword,
        |  list_min(list_transform(
        |    list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')),
        |    sh -> md5(sh))) AS fp_minshingle
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // bind tokens + digest once (alias barrier) instead of re-splitting /
      // re-hashing the text for each output column; the min-word and
      // min-shingle digests run through the codegen'd min_md5_hex /
      // min_shingle_md5_hex kernels (one running 16-byte min per row, no
      // per-element hex strings, no interpreted HOF — plans/Md5Min.scala)
      docs(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"),
          TextOps.tokens(col("text")).as("ws"))
        .select(
          col("doc_id"),
          col("h").as("fp_full"),
          substring(col("h"), 1, 8).as("fp8"),
          call_function("min_md5_hex", col("ws")).as("fp_minword"),
          call_function("min_shingle_md5_hex", col("ws"), lit(3))
            .as("fp_minshingle"))
        .orderBy("doc_id")
    },

    // PII detection + redaction (the C4/Dolma scrubbing pass): per-row
    // regex scans for emails / phone numbers / IPv4, counts per document
    // plus an md5 fingerprint of the fully-redacted text. The corpus text
    // carries no PII, so both engines append the SAME deterministic
    // synthetic PII (derived from doc_id with exact integer arithmetic) —
    // the regex and redaction paths are then genuinely exercised and the
    // gate compares real match/replace behavior, not 500 zeros. Patterns
    // stay in the Java∩RE2 subset (classes, bounded reps, \b, \d; no
    // backrefs, no lookaround) and replacements are group-free literals,
    // so Java and RE2 agree byte-for-byte. Per-row, shuffle-free,
    // codegen'd; at 100 TB this is a pure map stage.
    Q(
      "q120_pii_redact",
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' cc admin' || doc_id || '@mail.example.com'
        |         ELSE '' END ||
        |    ' call ' || (100 + doc_id % 900) || '-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t, regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{3}-555-\d{4}', '[PHONE]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS r
        |  FROM aug)
        |SELECT doc_id,
        |  (length(r) - length(replace(r, '[EMAIL]', ''))) // 7
        |    - (length(t) - length(replace(t, '[EMAIL]', ''))) // 7 AS n_email,
        |  (length(r) - length(replace(r, '[PHONE]', ''))) // 7
        |    - (length(t) - length(replace(t, '[PHONE]', ''))) // 7 AS n_phone,
        |  (length(r) - length(replace(r, '[IP]', ''))) // 4
        |    - (length(t) - length(replace(t, '[IP]', ''))) // 4 AS n_ip,
        |  md5(r) AS red_fp
        |FROM red ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val id = col("doc_id")
      val aug = concat(
        col("text"), lit(" contact user"), id.cast("string"),
        lit("@mail.example.com"),
        when(id % 3 === 0,
          concat(lit(" cc admin"), id.cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        lit(" call "), (id % 900 + 100).cast("string"), lit("-555-"),
        lpad((id % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), (id % 256).cast("string"), lit(".0."),
        ((id * 7) % 256).cast("string"))
      // counts are the marker DELTA between redacted and original text (3
      // regex passes, not 6 — TextOps.redactedSpanCounts is codegen'd
      // length arithmetic), so input that happens to carry a literal
      // [EMAIL]/[PHONE]/[IP] can't inflate the counts; the redacted
      // string projects to a column so the regex chain runs once
      // (CollapseProject declines to inline an expensive expression
      // referenced 4 times — the q46 digest pattern)
      docs(s, d).select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"), col("t"), TextOps.piiRedact(col("t")).as("r"))
        .select(
          col("doc_id"),
          TextOps.redactedSpanCounts(col("t"), col("r"), "[EMAIL]").as("n_email"),
          TextOps.redactedSpanCounts(col("t"), col("r"), "[PHONE]").as("n_phone"),
          TextOps.redactedSpanCounts(col("t"), col("r"), "[IP]").as("n_ip"),
          md5(col("r")).as("red_fp"))
        .orderBy("doc_id")
    },

    // Gopher-style composite quality-rule filter (Rae et al. rule table,
    // re-thresholded for this corpus): word-count bounds, mean-word-length
    // band, minimum stopword ratio, minimum type-token ratio. Emits each
    // statistic, a failure BITMASK (bit per rule, 0 = clean) and the final
    // keep decision — the auditable form a curation pipeline wants (why
    // was this document dropped?). Rule comparisons run on UNROUNDED
    // doubles: every input is an in-order integer-valued sum over the
    // token list, so both engines compute bit-identical values (q40's
    // proven pattern) and the threshold can never straddle an ulp. Per-row,
    // shuffle-free.
    Q(
      "q122_gopher_rules",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |  ${OracleSql.gopherStats}
        |  FROM w)
        |SELECT doc_id, n_words,
        |  round(mwl, 4) AS mean_wlen, round(sr, 4) AS stop_ratio,
        |  round(ttr, 4) AS ttr,
        |  CAST((CASE WHEN NOT (n_words BETWEEN 20 AND 50000) THEN 1 ELSE 0 END)
        |     + (CASE WHEN NOT (mwl >= 4.25 AND mwl <= 4.75) THEN 2 ELSE 0 END)
        |     + (CASE WHEN NOT (sr >= 0.04) THEN 4 ELSE 0 END)
        |     + (CASE WHEN NOT (ttr >= 0.35) THEN 8 ELSE 0 END) AS BIGINT)
        |    AS fail_mask,
        |  (n_words BETWEEN 20 AND 50000) AND mwl >= 4.25 AND mwl <= 4.75
        |    AND sr >= 0.04 AND ttr >= 0.35 AS keep
        |FROM s ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val stats = docs(s, d)
        .select(col("doc_id") +: TextOps.gopherStats(col("text")): _*)
      val rules = TextOps.gopherRules
      stats.select(col("doc_id"), col("n_words"),
          round(col("mwl"), 4).as("mean_wlen"),
          round(col("sr"), 4).as("stop_ratio"),
          round(col("ttr"), 4).as("ttr"),
          rules.zipWithIndex.map { case (r, i) =>
            when(!r, 1L << i).otherwise(0L)
          }.reduce(_ + _).as("fail_mask"),
          rules.reduce(_ && _).as("keep"))
        .orderBy("doc_id")
    },

    // One BPE-training merge step: count adjacent character bigrams over
    // all corpus words, emit the top-20 merge candidates — the inner loop
    // of byte-pair-encoding vocabulary induction, run at corpus scale.
    // Scale shape: the bigram stream collapses map-side (2-char vocab is
    // tiny) before one narrow shuffle, and the top-20 is a
    // TakeOrderedAndProject (bounded heap), never a full sort. The
    // length >= 2 filter sits BEFORE the sequence(1, len-1) expression:
    // Spark's sequence DESCENDS for sequence(1, 0), so the guard must
    // stay outside (CLAUDE.md empty-list rule).
    Q(
      "q48_bpe_merge",
      """WITH pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents) u
        |  WHERE length(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM pairs GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // Linear quality-classifier inference (the fasttext-style
    // classifier-based filtering of GPT-3/LLaMA curation): score = sum of
    // per-token weights from a hashed feature table, keep if the margin
    // clears 0. Weights here are a deterministic pure function of the
    // token hash (md5_prefix64 % 2001 - 1000 ∈ [-1000, 1000]) so the
    // query is self-contained and oracle-exact; a trained model would
    // swap in a broadcast weight map without changing the plan. The
    // 100 TB story is the whole point: inference is ONE codegen'd map
    // stage — per-row HOF aggregate over the token list, no explode, no
    // exchange of any kind before the final sort — so it scales with scan
    // bandwidth alone. All-integer arithmetic; kept is a BOOLEAN on both
    // sides.
    Q(
      "q128_classifier_filter",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(ws, w ->
        |    ${OracleSql.md5Int("w")} % 2001 - 1000))
        |    AS BIGINT) AS margin
        |  FROM t)
        |SELECT doc_id, n_tokens, margin, margin > 0 AS kept
        |FROM s ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      docs(s, d).select(col("doc_id"),
          TextOps.bindWords { ws =>
            struct(size(ws).cast("long").as("n_tokens"),
              aggregate(
                transform(ws, w =>
                  call_function("md5_prefix64", w) % 2001L - 1000L),
                lit(0L), (acc, x) => acc + x).as("margin"))
          }.as("m"))
        .select(col("doc_id"), col("m.n_tokens").as("n_tokens"),
          col("m.margin").as("margin"),
          (col("m.margin") > 0).as("kept"))
        .orderBy("doc_id")
    },

    // Vocabulary heavy hitters via sketch-candidates + exact rescore: a
    // Misra–Gries k=64 sketch (Aggregators.FreqItemsAgg — O(k) state per
    // task, ONE 64-counter row per partial, no term-keyed shuffle) finds
    // the candidate set; the guaranteed-survival theorem (every term with
    // count > n/(k+1) is retained under any merge tree) means candidates
    // ⊇ the true heavy hitters, and the exact rescore — count only words
    // matching the broadcast 64-term candidate list — trims the rest. The
    // output is therefore DETERMINISTIC (exactly the terms with
    // count·65 > n, with exact counts) even though the sketch's internal
    // counters are order-dependent; the oracle computes the plain
    // GROUP BY + HAVING form. At 100 TB the sketch pass replaces the
    // full-vocabulary exchange with two scans + an O(64) broadcast —
    // the candidate-pruning pattern for frequency queries at scale.
    Q(
      "q131_heavy_hitters",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |wf AS (SELECT w FROM w WHERE len(w) > 0),
        |n AS (SELECT count(*) AS n FROM wf)
        |SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |FROM wf, n GROUP BY w, n.n HAVING count(*) * 65 > n.n
        |ORDER BY cnt DESC, w""".stripMargin
    ) { (s, d) =>
      import graft.functions.Aggregators.FreqItemsAgg
      val words = docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val cand = words.select(col("w")).as[String](
          org.apache.spark.sql.Encoders.STRING)
        .select(new FreqItemsAgg(64).toColumn) // typed select (TypedColumn)
        .toDF("hh")
        .select(explode(col("hh")).as("p"))
        .select(col("p._1").as("w"))
      val tot = words.agg(count(lit(1)).as("n"))
      words.join(broadcast(cand), "w")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 65 > col("n"))
        .select(col("w"), col("cnt").cast("long").as("cnt"))
        .orderBy(desc("cnt"), col("w"))
    },

    // Distribution-drift monitor: per-source total-variation distance of
    // the term distribution vs the whole corpus, over 16 hashed term
    // buckets — the "did this crawl/source shift?" signal a training
    // pipeline watches between snapshots. All arithmetic is integer
    // fixed-point: per-bucket shares quantize to Q20 (o·2^20 div n,
    // floor division of non-negatives — identical in both engines) and
    // the drift is Σ_b |p_b − q_b|, bounded by 2^21, so no double ever
    // appears and no log/χ² libm divergence is possible. Scale shape:
    // one explode → (source, bucket) partial+final count agg (the only
    // corpus-sized shuffle), then 16-row and |sources|-row side tables
    // broadcast onto the bounded grid — per-source output, O(16)
    // state anywhere downstream of the count.
    Q(
      "q133_dist_drift",
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |wf AS (SELECT source,
        |  ${OracleSql.md5Int("w")} % 16 AS b
        |  FROM w WHERE len(w) > 0),
        |sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS o
        |       FROM wf GROUP BY source, b),
        |st AS (SELECT source, sum(o) AS n FROM sb GROUP BY source),
        |tb AS (SELECT b, sum(o) AS t FROM sb GROUP BY b),
        |tot AS (SELECT sum(o) AS N FROM sb),
        |grid AS (SELECT st.source, st.n, tb.b, tb.t
        |         FROM st CROSS JOIN tb),
        |cells AS (
        |  SELECT g.source, g.n, g.b, g.t, coalesce(sb.o, 0) AS o
        |  FROM grid g LEFT JOIN sb
        |    ON sb.source = g.source AND sb.b = g.b)
        |SELECT c.source, CAST(c.n AS BIGINT) AS n_toks,
        |  CAST(sum(abs(c.o * 1048576 // c.n - c.t * 1048576 // tot.N))
        |       AS BIGINT) AS drift_q20
        |FROM cells c, tot GROUP BY c.source, c.n
        |ORDER BY c.source""".stripMargin
    ) { (s, d) =>
      val wf = docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("source"),
          pmod(call_function("md5_prefix64", col("w")), lit(16L)).as("b"))
      val sb = wf.groupBy("source", "b")
        .agg(count(lit(1)).as("o"))
      val st = sb.groupBy("source").agg(sum("o").as("n"))
      val tb = sb.groupBy("b").agg(sum("o").as("t"))
      val tot = sb.agg(sum("o").as("ntot"))
      val grid = st.crossJoin(broadcast(tb))
      val cells = grid.join(sb.hint("shuffle_hash"), Seq("source", "b"),
          "left")
        .select(col("source"), col("n"), col("b"), col("t"),
          coalesce(col("o"), lit(0L)).as("o"))
      cells.crossJoin(broadcast(tot))
        .groupBy(col("source"), col("n"))
        .agg(sum(abs(expr("o * 1048576 div n") -
          expr("t * 1048576 div ntot"))).cast("long").as("drift_q20"))
        .select(col("source"), col("n").cast("long").as("n_toks"),
          col("drift_q20"))
        .orderBy("source")
    },

    // Full BPE vocabulary induction — the complete tokenizer-training
    // loop (q48 is one merge step; this is the whole inner iteration of
    // Sennrich-style byte-pair encoding): corpus word counts → char-level
    // symbol sequences → K rounds of (count adjacent symbol pairs weighted
    // by word frequency, merge the argmax pair everywhere). Emits the
    // merge table (round, pair, count) — the artifact a tokenizer ships.
    //
    // Scale shape: the only corpus-scale stage is the word-count
    // aggregation (map-side partial agg + one narrow shuffle, then a
    // bounded TakeOrderedAndProject top-V); the merge loop runs on the
    // collected top-V vocabulary — ≤1024 (word,count) rows ≈ 16 KB of
    // driver state INDEPENDENT of corpus size, the same
    // bounded-state-to-driver pattern as q100's k-means seeds. Every real
    // BPE trainer has this shape: distributed counting, V-bounded merges.
    // Determinism: argmax ties break (count DESC, left ASC, right ASC) —
    // ASCII lexicographic in both engines; Java String.replace and SQL
    // replace() are both non-overlapping left-to-right scans, so greedy
    // merge semantics agree (" l l l " -> " ll l ").
    Q("q142_bpe_vocab", TextQueries.bpeOracle(6)) { (s, d) =>
      s.createDataFrame(TextQueries.bpeMerges(s, d, 6))
        .toDF("round", "sym_l", "sym_r", "pair_cnt")
        .orderBy("round")
    },

    // BPE ENCODE — the inference side of q142: re-derive the merge table
    // (same distributed count + V-bounded loop), then tokenize every
    // document by applying the K merges IN LEARNED ORDER to each word's
    // symbol sequence via the single-pass codegen symbol-walk kernel
    // (plans/BpeCount, the CdcCuts pattern) — one fused JVM loop per doc,
    // no shuffle before the final sort. Emits per-doc BPE token counts —
    // the statistic every token-budget pipeline needs from its tokenizer.
    // The oracle replays the equivalent replace chain with the merge pair
    // pulled from the unrolled-CTE induction (scalar subqueries);
    // BpeCount's scaladoc argues byte-identical greedy semantics and the
    // unchanged oracle proves it. Replaced the r13 per-word K-replace
    // chain (interpreted HOF — transform never codegens; the suite's
    // worst decade row at 57x/100x): round-14 interleaved A/B, minima —
    // sf0.1 1.84 -> 1.03 s, 100x 32.6 -> 8.4 s, decade ratio 57x -> 8.2x.
    Q("q148_bpe_encode", TextQueries.bpeEncodeOracle(6)) { (s, d) =>
      val merges = TextQueries.bpeMerges(s, d, 6)
      import org.apache.spark.sql.GraftColumnBridge
      docs(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          GraftColumnBridge.column(graft.plans.BpeCount(
            GraftColumnBridge.expression(col("ws")),
            merges.map(_._2), merges.map(_._3))).as("n_bpe_tokens"),
          size(col("ws")).cast("long").as("n_words"))
        .orderBy("doc_id")
    },

    // PMI collocation mining: top-50 adjacent word pairs by pointwise
    // mutual information. Ranking metric: PMI = log(p(ab)/(p(a)p(b))) is
    // monotone in cnt_ab·N/(cnt_a·cnt_b); N is constant across pairs, so
    // ranking by the N-free ratio in Q20.20 fixed point —
    // ((cnt_ab<<20)/cnt_a<<20)/cnt_b — is PMI order, integer-exact in
    // both engines at any corpus size (max value 2^40, no overflow, no
    // libm log). Scale shape: unigram counts are MARGINALS of the bigram
    // count table (Σ_b pc(a,b)), so one corpus-scale explode+agg feeds
    // everything; the two marginal aggs and joins run on the vocab²-sized
    // pair table (shuffle_hash, never a forced broadcast — vocabulary
    // grows with corpus).
    Q(
      "q144_pmi_colloc",
      """WITH toks AS (SELECT string_split(text, ' ') AS s FROM documents),
        |bi AS (
        |  SELECT list_extract(s, i) AS wa, list_extract(s, i+1) AS wb
        |  FROM toks, unnest(range(1, len(s))) AS t(i)
        |),
        |pc AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS cnt_ab
        |       FROM bi GROUP BY 1, 2),
        |ua AS (SELECT wa AS w, CAST(sum(cnt_ab) AS BIGINT) AS cnt_a
        |       FROM pc GROUP BY 1),
        |ub AS (SELECT wb AS w, CAST(sum(cnt_ab) AS BIGINT) AS cnt_b
        |       FROM pc GROUP BY 1)
        |SELECT pc.wa, pc.wb, cnt_ab,
        |  (((cnt_ab * 1048576) // cnt_a) * 1048576) // cnt_b AS pmi_q40
        |FROM pc JOIN ua ON pc.wa = ua.w JOIN ub ON pc.wb = ub.w
        |ORDER BY pmi_q40 DESC, wa, wb LIMIT 50""".stripMargin
    ) { (s, d) =>
      val bi = docs(s, d).select(TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2) // guard OUTSIDE: sequence(0,-1) descends
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> named_struct(" +
            "'wa', element_at(ws, i + 1), 'wb', element_at(ws, i + 2)))"))
          .as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      // Eager localCheckpoint: the three consumers (ua, ub, the join) are
      // NOT deduped by AQE stage reuse (measured: 3x scan+explode+agg of
      // the corpus without it), and pc is vocab-pair-sized — exactly the
      // mass the joins shuffle anyway — so materializing it is free.
      val pc = bi.groupBy("wa", "wb")
        .agg(count(lit(1)).cast("long").as("cnt_ab"))
        .localCheckpoint(true)
      val ua = pc.groupBy("wa").agg(sum("cnt_ab").cast("long").as("cnt_a"))
        .withColumnRenamed("wa", "w_a")
      val ub = pc.groupBy("wb").agg(sum("cnt_ab").cast("long").as("cnt_b"))
        .withColumnRenamed("wb", "w_b")
      pc.as("p")
        .join(ua.as("a").hint("shuffle_hash"), col("p.wa") === col("w_a"))
        .join(ub.as("b").hint("shuffle_hash"), col("p.wb") === col("w_b"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"), col("cnt_ab"),
          expr("(((cnt_ab * 1048576) div cnt_a) * 1048576) div cnt_b")
            .as("pmi_q40"))
        .orderBy(col("pmi_q40").desc, col("wa"), col("wb"))
        .limit(50)
    },

    // HTML boilerplate extraction — the FIRST stage of every web-corpus
    // pipeline (raw crawl markup -> text). The corpus has no markup, so
    // each doc is wrapped in a deterministic HTML shell (title + script
    // + footer; doc_id % 3 == 0 docs additionally get per-word <p>
    // segmentation — the q120 augmentation pattern), then stripped with
    // a 3-pass regex chain in the Java∩RE2 subset (script elements,
    // all tags, whitespace collapse). Map-only: zero shuffles before
    // the gate's determinism sort; at 100 TB this runs at scan speed.
    // Gate compares exact cleaned-text md5 + integer text-to-markup
    // ratio, so any cross-engine regex divergence would hash-fail.
    Q(
      "q162_boilerplate",
      """WITH aug AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc' || CAST(doc_id AS VARCHAR) ||
        |    '</title><script>var x=1;</script></head><body><p>' ||
        |    replace(text, ' ',
        |      CASE WHEN doc_id % 3 = 0 THEN '</p><p>' ELSE ' ' END) ||
        |    '</p><div class="footer">&copy; example</div></body></html>'
        |      AS html
        |  FROM documents),
        |stripped AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^<]*</script>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |      ' +', ' ', 'g')) AS clean
        |  FROM aug)
        |SELECT doc_id, CAST(length(html) AS BIGINT) AS n_html,
        |  CAST(length(clean) AS BIGINT) AS n_clean,
        |  CAST(1000000 * length(clean) // length(html) AS BIGINT)
        |    AS text_ratio_ppm,
        |  substr(md5(clean), 1, 16) AS clean_fp
        |FROM stripped ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val html = concat(
        lit("<html><head><title>doc"), col("doc_id").cast("string"),
        lit("</title><script>var x=1;</script></head><body><p>"),
        when(col("doc_id") % 3 === 0,
          regexp_replace(col("text"), lit(" "), lit("</p><p>")))
          .otherwise(col("text")),
        lit("</p><div class=\"footer\">&copy; example</div></body></html>"))
      val clean = trim(regexp_replace(regexp_replace(regexp_replace(
        col("html"), lit("<script[^<]*</script>"), lit(" ")),
        lit("<[^>]*>"), lit(" ")),
        lit(" +"), lit(" ")))
      docs(s, d)
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"), col("html"), clean.as("clean"))
        .select(col("doc_id"),
          length(col("html")).cast("long").as("n_html"),
          length(col("clean")).cast("long").as("n_clean"),
          expr("(1000000L * cast(length(clean) as bigint)) div " +
            "cast(length(html) as bigint)").as("text_ratio_ppm"),
          substring(md5(col("clean")), 1, 16).as("clean_fp"))
        .orderBy("doc_id")
    },

    // K-ANONYMITY AUDIT — the privacy gate a corpus release runs beyond
    // regex PII (q120): group documents by their quasi-identifier tuple
    // (lang, source, length bucket) and flag equivalence classes smaller
    // than k=5 — those docs are re-identifiable and must be suppressed
    // or generalized. Pure two-level aggregation (doc -> class -> lang),
    // map-side partials all the way, zero joins; at 100 TB this is one
    // scan + two bounded exchanges (class count <= |lang|x|source|x
    // buckets, orders of magnitude under doc count).
    Q(
      "q187_k_anonymity",
      """WITH cls AS (
        |  SELECT lang, source, n_chars // 100 AS len_b,
        |    count(*) AS class_n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN class_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS risky_classes,
        |  CAST(sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END)
        |    AS BIGINT) AS suppressed_docs,
        |  CAST(min(class_n) AS BIGINT) AS min_k,
        |  CAST(sum(class_n) AS BIGINT) AS n_docs
        |FROM cls GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("len_b"))
        .agg(count(lit(1)).as("class_n"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_classes"),
          sum(when(col("class_n") < 5L, 1L).otherwise(0L)).cast("long")
            .as("risky_classes"),
          sum(when(col("class_n") < 5L, col("class_n")).otherwise(0L))
            .cast("long").as("suppressed_docs"),
          min("class_n").cast("long").as("min_k"),
          sum("class_n").cast("long").as("n_docs"))
        .orderBy("lang")
    },

    // MIN-K% PROB MEMBERSHIP AUDIT — the published Min-K%-Prob
    // membership-inference signal (a doc whose LEAST-likely tokens are
    // still high-probability was likely memorized / contaminated),
    // re-expressed over the corpus unigram LM the way q102 scores
    // documents: per doc, take the k=20% rarest tokens by corpus count
    // and average their counts. INTEGER-exact end to end — the rarity
    // rank sorts on (count, word) and the average is an int sum with one
    // floor-div — so the oracle is exact, no double summation order
    // anywhere (doctrine: never sum per-group doubles). Scale shape:
    // vocab-scale count table checkpointed once (DISK_ONLY), token rows
    // join it shuffle_hash on the word, the per-doc bottom-k is a
    // doc-keyed window over bounded groups (~words/doc), then one
    // doc-keyed agg reusing the window's exchange.
    Q(
      "q188_minkprob_audit",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |ranked AS (
        |  SELECT t.doc_id, cnt.c,
        |    row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY cnt.c, t.w) AS rk,
        |    count(*) OVER (PARTITION BY t.doc_id) AS n_tok
        |  FROM tok t JOIN cnt ON t.w = cnt.w)
        |SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
        |  CAST(max(n_tok) // 5 + 1 AS BIGINT) AS k_tail,
        |  CAST(sum(CASE WHEN rk <= n_tok // 5 + 1 THEN c ELSE 0 END)
        |    AS BIGINT) AS tail_count_sum,
        |  CAST(sum(CASE WHEN rk <= n_tok // 5 + 1 THEN c ELSE 0 END)
        |    // (max(n_tok) // 5 + 1) AS BIGINT) AS minkprob_q
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val tok = docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text")))
          .as("w"))
      // vocab-scale table, two consumers in spirit (counts + join) —
      // checkpoint once; DISK_ONLY per doctrine (Heaps-law unbounded)
      val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
      val wRank = wDoc.orderBy(col("c"), col("w"))
      val ranked = tok.join(cnt.hint("shuffle_hash"), Seq("w"))
        .withColumn("rk", row_number().over(wRank))
        .withColumn("n_tok", count(lit(1)).over(wDoc))
      val kTail = expr("n_tok div 5") + lit(1L)
      ranked
        .withColumn("in_tail", col("rk") <= kTail)
        .groupBy("doc_id")
        .agg(max("n_tok").cast("long").as("n_tok"),
          (max(expr("n_tok div 5")) + lit(1L)).cast("long").as("k_tail"),
          sum(when(col("in_tail"), col("c")).otherwise(0L)).cast("long")
            .as("tail_count_sum"))
        .select(col("doc_id"), col("n_tok"), col("k_tail"),
          col("tail_count_sum"),
          expr("tail_count_sum div k_tail").as("minkprob_q"))
        .orderBy("doc_id")
    },

    // INTERPOLATED BIGRAM LM SCORE — the KenLM-shaped fluency signal one
    // tier above q102's unigram score: each bigram contributes its
    // corpus count x1000 when seen often enough (count >= 2), else backs
    // off to its FIRST word's unigram count — a stupid-backoff LM with
    // integer weights, so the per-doc quotient is floor-div exact. Scale
    // shape: bigrams and unigrams hash to fixed-width 60-bit keys BEFORE
    // any exchange (the oracle hashes identically so the gate stays
    // exact); the two count tables join back shuffle_hash; the doc
    // rollup is the fourth and last exchange. Two corpus scans (bigram +
    // unigram passes) — the q160 A/B showed map-side HOF dedup loses to
    // the extra codegen'd scan on this box.
    Q(
      "q191_bigram_lm",
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT doc_id, ${OracleSql.bigramRows}
        |  FROM tok WHERE len(ws) >= 2),
        |bh AS (SELECT doc_id, ${OracleSql.md560("b")} AS hb,
        |         ${OracleSql.md560("w1")} AS hw
        |       FROM bg),
        |cnt AS (SELECT hb, count(*) AS c FROM bh GROUP BY 1),
        |${OracleSql.unigramCounts},
        |sc AS (SELECT bh.doc_id,
        |         CASE WHEN cnt.c >= 2 THEN cnt.c * 1000 ELSE uni.cu END AS s
        |       FROM bh JOIN cnt USING (hb) JOIN uni USING (hw))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(s) AS BIGINT) AS score_sum,
        |  CAST(sum(s) // count(*) AS BIGINT) AS score_q
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val tok = docs(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      val bh = tok.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("ws"),
          posexplode(TextOps.shingles(col("ws"), 2)).as(Seq("p", "b")))
        .select(col("doc_id"),
          call_function("md5_prefix60", col("b")).as("hb"),
          call_function("md5_prefix60",
            element_at(col("ws"), col("p") + 1)).as("hw"))
      val cnt = bh.groupBy("hb").agg(count(lit(1)).as("c"))
      val uni = unigramCounts(tok)
      bh.join(cnt.hint("shuffle_hash"), Seq("hb"))
        .join(uni.hint("shuffle_hash"), Seq("hw"))
        .select(col("doc_id"),
          when(col("c") >= 2L, col("c") * 1000L).otherwise(col("cu"))
            .as("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum("s").cast("long").as("score_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("score_sum"),
          expr("score_sum div n_bigrams").as("score_q"))
        .orderBy("doc_id")
    },

    // L-DIVERSITY AUDIT — q187's k-anonymity says a class is SAFE when
    // it is big; l-diversity says it can still leak when everyone in it
    // shares the sensitive attribute (here: source). Classes are the
    // (lang, 25-char length bucket) quasi-identifier; a class with
    // l < 3 distinct sources exposes its members' provenance. Same
    // scale-trivially-safe shape as q187: two bounded aggregations,
    // zero joins, class-scale exchanges.
    Q(
      "q192_l_diversity",
      """WITH cls AS (
        |  SELECT lang, n_chars // 25 AS len_b,
        |    count(*) AS class_n, count(DISTINCT source) AS l
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS low_l_classes,
        |  CAST(sum(CASE WHEN l < 3 THEN class_n ELSE 0 END) AS BIGINT)
        |    AS exposed_docs
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .groupBy(col("lang"), expr("n_chars div 25").as("len_b"))
        .agg(count(lit(1)).as("class_n"),
          countDistinct(col("source")).as("l"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_classes"),
          min("l").cast("long").as("min_l"),
          sum(when(col("l") < 3L, 1L).otherwise(0L)).cast("long")
            .as("low_l_classes"),
          sum(when(col("l") < 3L, col("class_n")).otherwise(0L))
            .cast("long").as("exposed_docs"))
        .orderBy("lang")
    },

    // T-CLOSENESS AUDIT — completes the k-anonymity (q187) / l-diversity
    // (q192) privacy trilogy: a class whose SENSITIVE-attribute (source)
    // distribution diverges from the corpus-wide one leaks provenance
    // even when it is big (k) and diverse (l). Distance = total
    // variation, kept integer-exact by clearing denominators:
    // D_class = sum_s |c_{class,s} * N - g_s * n_class|, and
    // TVD = D / (2 * N * n_class); a class violates t = 0.5 iff
    // D > N * n_class. The reported ppm uses a two-step floor division
    // (q div then remainder) so nothing exceeds ~2 * N * 10^6 even at
    // 10^12 docs — floor(floor(D*1e6/n_c)/(2N)) == floor(D*1e6/(2*N*n_c))
    // for integer divisors, so both engines agree bit-for-bit. Scale
    // shape: ONE corpus scan into the (lang, len-bucket, source)
    // two-phase aggregate; everything downstream (class-source grid,
    // global marginals, the scalar N) is class-scale and broadcast.
    Q(
      "q195_t_closeness",
      """WITH cls AS (
        |  SELECT lang, n_chars // 25 AS len_b, source, count(*) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |cn AS (SELECT lang, len_b, sum(c) AS n_c FROM cls GROUP BY 1, 2),
        |g AS (SELECT source, sum(c) AS g_s FROM cls GROUP BY 1),
        |tot AS (SELECT sum(c) AS nn FROM cls),
        |dist AS (
        |  SELECT cn.lang, cn.len_b, cn.n_c, tot.nn,
        |    sum(abs(coalesce(cls.c, 0) * tot.nn - g.g_s * cn.n_c)) AS d
        |  FROM cn CROSS JOIN g CROSS JOIN tot
        |  LEFT JOIN cls ON cls.lang = cn.lang AND cls.len_b = cn.len_b
        |    AND cls.source = g.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(max(((d // n_c) * 1000000 + ((d % n_c) * 1000000) // n_c)
        |    // (2 * nn)) AS BIGINT) AS tvd_max_ppm,
        |  CAST(sum(CASE WHEN d > nn * n_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS t_violations,
        |  CAST(sum(CASE WHEN d > nn * n_c THEN n_c ELSE 0 END) AS BIGINT)
        |    AS exposed_docs
        |FROM dist GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val cls = docs(s, d)
        .groupBy(col("lang"), expr("n_chars div 25").as("len_b"),
          col("source"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val cn = cls.groupBy("lang", "len_b").agg(sum("c").as("n_c"))
      val g = cls.groupBy("source").agg(sum("c").as("g_s"))
      val tot = cls.agg(sum("c").as("nn"))
      cn.crossJoin(broadcast(g)).crossJoin(broadcast(tot))
        .join(broadcast(cls), Seq("lang", "len_b", "source"), "left")
        .select(col("lang"), col("len_b"), col("n_c"), col("nn"),
          abs(coalesce(col("c"), lit(0L)) * col("nn")
            - col("g_s") * col("n_c")).as("term"))
        .groupBy("lang", "len_b", "n_c", "nn")
        .agg(sum("term").as("d"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_classes"),
          max(expr("((d div n_c) * 1000000 + ((d % n_c) * 1000000)" +
            " div n_c) div (2 * nn)")).cast("long").as("tvd_max_ppm"),
          sum(when(col("d") > col("nn") * col("n_c"), 1L).otherwise(0L))
            .cast("long").as("t_violations"),
          sum(when(col("d") > col("nn") * col("n_c"), col("n_c"))
            .otherwise(0L)).cast("long").as("exposed_docs"))
        .orderBy("lang")
    },

    // ZIPF PROFILE — the rank-frequency shape of each language's
    // vocabulary, reported at power-of-two ranks (1..256) with the
    // octave-to-octave frequency ratio in ppm (Zipf ⇒ ratio ≈ 500000).
    // Deliberately NOT a log-log regression: ln() is not bit-identical
    // across engines, while rank picks and integer ratios are. Scale
    // shape: corpus-scale (lang, word) two-phase aggregate (map-side
    // combine shrinks token mass to per-partition vocab); per-lang
    // top-256 via a rank window whose `r <= 256` filter triggers the
    // WindowGroupLimit rewrite (map-side pruning to 256 rows per
    // partition BEFORE the lang exchange); everything after is <= 9
    // rows per lang. Ratio uses the q195 two-step floor division
    // (exact while per-(lang,word) counts < 9.2e12 — ~40x the count of
    // "the" in a 100 TB corpus).
    Q(
      "q202_zipf_profile",
      """WITH wc AS (
        |  SELECT lang, w, count(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT lang, w, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w)
        |      AS r
        |  FROM wc),
        |oct AS (SELECT * FROM rk
        |        WHERE r IN (1, 2, 4, 8, 16, 32, 64, 128, 256))
        |SELECT lang, CAST(r AS BIGINT) AS rank, w AS word,
        |  CAST(cnt AS BIGINT) AS cnt,
        |  CAST(coalesce(
        |    (cnt // prev) * 1000000 + ((cnt % prev) * 1000000) // prev,
        |    0) AS BIGINT) AS ratio_ppm
        |FROM (SELECT *, lag(cnt) OVER (PARTITION BY lang ORDER BY r)
        |        AS prev FROM oct) t
        |ORDER BY lang, rank""".stripMargin
    ) { (s, d) =>
      val wc = docs(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      val oct = Scale.topK(wc, Seq("lang"), Seq(col("cnt").desc, col("w")), 256)
        .filter(col("__rk").isin(1, 2, 4, 8, 16, 32, 64, 128, 256))
      oct
        .withColumn("prev",
          lag("cnt", 1).over(Window.partitionBy("lang").orderBy("__rk")))
        .select(col("lang"), col("__rk").cast("long").as("rank"),
          col("w").as("word"), col("cnt").cast("long").as("cnt"),
          coalesce(
            expr("(cnt div prev) * 1000000" +
              " + ((cnt % prev) * 1000000) div prev"),
            lit(0L)).cast("long").as("ratio_ppm"))
        .orderBy("lang", "rank")
    },

    // DOMAIN MIXTURE WEIGHTS — the τ=0.5 temperature-scaled sampling
    // mixture (XLM-style sqrt reweighting) solved integer-exactly:
    // weight = isqrt(domain tokens) with a ±1 fp correction (so both
    // engines agree regardless of libm sqrt rounding), token budget
    // B = total/2 allocated by largest remainder (deterministic ties by
    // domain), epochs in ppm. Scale shape: ONE corpus scan into the
    // bounded (lang, source) domain table; every downstream step is
    // domain-scale (bounded windows/aggregates). Overflow-safe to
    // 100 TB: B·w uses the two-step split (B div W)·w + ((B mod W)·w)
    // div W — exact by the nested-floor law, never forms B·w.
    Q(
      "q203_mixture_weights",
      """WITH dom AS (
        |  SELECT lang, source, sum(n_chars // 4 + 1) AS toks
        |  FROM documents GROUP BY 1, 2),
        |w AS (
        |  SELECT lang, source, toks,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= toks THEN s0 + 1
        |         WHEN s0 * s0 > toks THEN s0 - 1 ELSE s0 END AS wt
        |  FROM (SELECT *, CAST(floor(sqrt(CAST(toks AS DOUBLE)))
        |          AS BIGINT) AS s0 FROM dom) t),
        |tot AS (SELECT sum(wt) AS ww, sum(toks) // 2 AS b FROM w),
        |alloc AS (
        |  SELECT lang, source, toks, wt,
        |    (b // ww) * wt + ((b % ww) * wt) // ww AS base,
        |    ((b % ww) * wt) % ww AS rem, b
        |  FROM w CROSS JOIN tot),
        |lr AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source)
        |      AS rr,
        |    b - sum(base) OVER () AS leftover
        |  FROM alloc)
        |SELECT lang, source, CAST(toks AS BIGINT) AS toks,
        |  CAST(wt AS BIGINT) AS weight,
        |  CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc,
        |  CAST(((base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END)
        |      // toks) * 1000000
        |    + (((base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END)
        |      % toks) * 1000000) // toks AS BIGINT) AS epochs_ppm
        |FROM lr ORDER BY lang, source""".stripMargin
    ) { (s, d) =>
      val dom = docs(s, d)
        .groupBy("lang", "source")
        .agg(sum(expr("n_chars div 4 + 1")).as("toks"))
      // bounded domain table checkpointed: `tot` would otherwise re-plan
      // the whole corpus scan+aggregate (two parquet scans — the q198
      // lesson, verified in the plan)
      val w = dom
        .withColumn("s0",
          floor(sqrt(col("toks").cast("double"))).cast("long"))
        .withColumn("wt",
          when((col("s0") + 1) * (col("s0") + 1) <= col("toks"),
            col("s0") + 1)
            .when(col("s0") * col("s0") > col("toks"), col("s0") - 1)
            .otherwise(col("s0")))
        .localCheckpoint(true)
      val tot = w.agg(sum("wt").as("ww"),
        (sum("toks") / lit(2)).cast("long").as("b"))
      val alloc = w.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("toks"), col("wt"),
          col("b"),
          expr("(b div ww) * wt + ((b % ww) * wt) div ww").as("base"),
          expr("((b % ww) * wt) % ww").as("rem"))
      // every table from here is domain-scale (bounded): the
      // single-partition windows are over <= |lang|x|source| rows
      val lr = alloc
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"), col("source"))))
        .withColumn("leftover",
          col("b") - sum("base").over(
            Window.orderBy(lit(1)).rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
      lr.select(col("lang"), col("source"),
          col("toks").cast("long").as("toks"),
          col("wt").cast("long").as("weight"),
          (col("base") + when(col("rr") <= col("leftover"), 1L)
            .otherwise(0L)).cast("long").as("alloc"),
          expr("((base + (CASE WHEN rr <= leftover THEN 1 ELSE 0 END))" +
            " div toks) * 1000000" +
            " + (((base + (CASE WHEN rr <= leftover THEN 1 ELSE 0 END))" +
            " % toks) * 1000000) div toks").cast("long").as("epochs_ppm"))
        .orderBy("lang", "source")
    },

    // NOVELTY CURVE — the dataset-growth diagnostic: as the corpus is
    // ingested in doc_id order (the crawl-order proxy), what fraction of
    // each decile's distinct 5-grams has never been seen in any earlier
    // document? A flattening curve says new data is mostly duplicate
    // mass. Scale shape: explode 5-grams → codegen'd 60-bit hash BEFORE
    // any exchange (gram strings never cross a shuffle) → (doc, h)
    // distinct → DISK_ONLY checkpoint (TWO consumers — the
    // first-occurrence aggregate and the join-back — would otherwise
    // re-plan the corpus explode; round-8 barrier rule) → min-doc per
    // hash (two-phase) → shuffle_hash join back on h → per-doc counts →
    // bounded decile rollup. Token-mass-linear, the honest floor for a
    // first-occurrence scan; the decile bound comes from a memoized
    // 1-column max, not a broadcast-scalar subquery (which would
    // serialize the consumers' stages).
    Q(
      "q204_novelty_curve",
      s"""WITH shr AS (
        |  SELECT doc_id, unnest(${OracleSql.shingles("ws", 5)}) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents) t),
        |dh AS (SELECT DISTINCT doc_id, ${OracleSql.md560("s")} AS h FROM shr),
        |fo AS (SELECT h, min(doc_id) AS first_doc FROM dh GROUP BY 1),
        |pd AS (
        |  SELECT dh.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN fo.first_doc = dh.doc_id THEN 1 ELSE 0 END)
        |      AS n_novel
        |  FROM dh JOIN fo USING (h) GROUP BY 1),
        |mx AS (SELECT max(doc_id) AS md FROM documents)
        |SELECT CAST(doc_id * 10 // (md + 1) AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS grams,
        |  CAST(sum(n_novel) AS BIGINT) AS novel,
        |  CAST((sum(n_novel) // sum(n_grams)) * 1000000
        |    + ((sum(n_novel) % sum(n_grams)) * 1000000) // sum(n_grams)
        |    AS BIGINT) AS novelty_ppm
        |FROM pd CROSS JOIN mx GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val md = maxDocId(s, d)
      val dh = docs(s, d)
        .select(col("doc_id"),
          explode(TextOps.shingles(TextOps.tokens(col("text")), 5))
            .as("sh"))
        .select(col("doc_id"),
          call_function("md5_prefix60", col("sh")).as("h"))
        .distinct()
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val fo = dh.groupBy("h").agg(min("doc_id").as("first_doc"))
      dh.join(fo.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .groupBy((col("doc_id") * 10 / lit(md + 1)).cast("long")
          .as("decile"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_grams").cast("long").as("grams"),
          sum("n_novel").cast("long").as("novel"))
        .select(col("decile"), col("n_docs"), col("grams"), col("novel"),
          expr("(novel div grams) * 1000000" +
            " + ((novel % grams) * 1000000) div grams").cast("long")
            .as("novelty_ppm"))
        .orderBy("decile")
    },

    // TAXONOMY CO-OCCURRENCE — category tagging by token-membership
    // lists (the keyword-taxonomy pass every safety/topic pipeline
    // runs) with the full pairwise co-occurrence matrix and Jaccard in
    // ppm. Scale shape: ONE corpus scan, per-doc 0/1 flags via token
    // intersection (map-only), a SINGLE-ROW aggregate holding all 10
    // pair sums, then a 10-row stack — no joins, no per-category
    // passes; output is |categories|²-bounded.
    Q(
      "q207_taxonomy_cooccur",
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(list_intersect(string_split(text, ' '),
        |      ['fast', 'slow', 'big', 'small'])) > 0 THEN 1 ELSE 0 END
        |      AS c_perf,
        |    CASE WHEN len(list_intersect(string_split(text, ' '),
        |      ['scan', 'join', 'sort', 'merge'])) > 0 THEN 1 ELSE 0 END
        |      AS c_exec,
        |    CASE WHEN len(list_intersect(string_split(text, ' '),
        |      ['table', 'column', 'row', 'vector'])) > 0 THEN 1 ELSE 0
        |      END AS c_data,
        |    CASE WHEN len(list_intersect(string_split(text, ' '),
        |      ['stream', 'batch', 'window', 'queue'])) > 0 THEN 1 ELSE 0
        |      END AS c_stream
        |  FROM documents),
        |a AS (SELECT
        |  sum(c_data*c_data) AS dd, sum(c_data*c_exec) AS de,
        |  sum(c_data*c_perf) AS dp, sum(c_data*c_stream) AS ds,
        |  sum(c_exec*c_exec) AS ee, sum(c_exec*c_perf) AS ep,
        |  sum(c_exec*c_stream) AS es, sum(c_perf*c_perf) AS pp,
        |  sum(c_perf*c_stream) AS ps, sum(c_stream*c_stream) AS ss
        |  FROM f)
        |SELECT cat_a, cat_b, CAST(n_both AS BIGINT) AS n_both,
        |  CAST(CASE WHEN na + nb - n_both = 0 THEN 0
        |    ELSE n_both * 1000000 // (na + nb - n_both) END AS BIGINT)
        |    AS jaccard_ppm
        |FROM (
        |  SELECT 'data' AS cat_a, 'data' AS cat_b, dd AS n_both,
        |    dd AS na, dd AS nb FROM a
        |  UNION ALL SELECT 'data', 'exec', de, dd, ee FROM a
        |  UNION ALL SELECT 'data', 'perf', dp, dd, pp FROM a
        |  UNION ALL SELECT 'data', 'stream', ds, dd, ss FROM a
        |  UNION ALL SELECT 'exec', 'exec', ee, ee, ee FROM a
        |  UNION ALL SELECT 'exec', 'perf', ep, ee, pp FROM a
        |  UNION ALL SELECT 'exec', 'stream', es, ee, ss FROM a
        |  UNION ALL SELECT 'perf', 'perf', pp, pp, pp FROM a
        |  UNION ALL SELECT 'perf', 'stream', ps, pp, ss FROM a
        |  UNION ALL SELECT 'stream', 'stream', ss, ss, ss FROM a) m
        |ORDER BY cat_a, cat_b""".stripMargin
    ) { (s, d) =>
      val cats = Seq(
        "perf" -> Seq("fast", "slow", "big", "small"),
        "exec" -> Seq("scan", "join", "sort", "merge"),
        "data" -> Seq("table", "column", "row", "vector"),
        "stream" -> Seq("stream", "batch", "window", "queue"))
      val f = docs(s, d).select(
        cats.map { case (name, kws) =>
          when(arrays_overlap(TextOps.tokens(col("text")),
            array(kws.map(lit): _*)), 1L).otherwise(0L).as(s"c_$name")
        }: _*)
      val a = f.agg(
        sum(expr("c_data * c_data")).as("dd"),
        sum(expr("c_data * c_exec")).as("de"),
        sum(expr("c_data * c_perf")).as("dp"),
        sum(expr("c_data * c_stream")).as("ds"),
        sum(expr("c_exec * c_exec")).as("ee"),
        sum(expr("c_exec * c_perf")).as("ep"),
        sum(expr("c_exec * c_stream")).as("es"),
        sum(expr("c_perf * c_perf")).as("pp"),
        sum(expr("c_perf * c_stream")).as("ps"),
        sum(expr("c_stream * c_stream")).as("ss"))
      a.selectExpr(
          """stack(10,
            |'data', 'data', dd, dd, dd,
            |'data', 'exec', de, dd, ee,
            |'data', 'perf', dp, dd, pp,
            |'data', 'stream', ds, dd, ss,
            |'exec', 'exec', ee, ee, ee,
            |'exec', 'perf', ep, ee, pp,
            |'exec', 'stream', es, ee, ss,
            |'perf', 'perf', pp, pp, pp,
            |'perf', 'stream', ps, pp, ss,
            |'stream', 'stream', ss, ss, ss)
            |AS (cat_a, cat_b, n_both, na, nb)""".stripMargin)
        .select(col("cat_a"), col("cat_b"),
          col("n_both").cast("long").as("n_both"),
          when(col("na") + col("nb") - col("n_both") === 0L, 0L)
            .otherwise(expr(
              "n_both * 1000000 div (na + nb - n_both)"))
            .cast("long").as("jaccard_ppm"))
        .orderBy("cat_a", "cat_b")
    },

    // COLLOCATION MINING — the phrase-lexicon pass a tokenizer/vocab
    // curation pipeline runs before merging multiword units: rank
    // bigrams by PMI-shaped strength c12²/(c1·c2) (corpus-size factor
    // dropped — constant per corpus, ranking-invariant). The score is a
    // DOUBLE but summation-free: two IEEE divisions in a fixed order are
    // bit-identical cross-engine (no libm, no accumulation order). Scale
    // shape: bigrams/unigrams hash to 60-bit keys BEFORE any exchange
    // (q191's rule); the bigram-count aggregate carries min(bigram) as
    // the narrow display payload; the unigram table is built ONCE and
    // joined twice shuffle_hash (one subtree aliased twice — exchange
    // reuse); the c12 >= 3 filter prunes the join build side to the
    // repeated-pair mass; the final top-64 is TakeOrderedAndProject
    // (never a global window).
    Q(
      "q210_collocations",
      s"""WITH tok AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT ${OracleSql.bigramRows},
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM tok WHERE len(ws) >= 2),
        |bh AS (SELECT ${OracleSql.md560("b")} AS hb, b,
        |         ${OracleSql.md560("w1")} AS hw1,
        |         ${OracleSql.md560("w2")} AS hw2 FROM bg),
        |cnt AS (SELECT hb, count(*) AS c12, min(b) AS bigram,
        |          min(hw1) AS hw1, min(hw2) AS hw2
        |        FROM bh GROUP BY 1),
        |${OracleSql.unigramCounts}
        |SELECT bigram, CAST(c12 AS BIGINT) AS c12,
        |  ((CAST(c12 AS DOUBLE) * c12) / u1.cu) / u2.cu AS score
        |FROM cnt
        |JOIN uni u1 ON cnt.hw1 = u1.hw
        |JOIN uni u2 ON cnt.hw2 = u2.hw
        |WHERE c12 >= 3
        |ORDER BY score DESC, bigram LIMIT 64""".stripMargin
    ) { (s, d) => collocations(docs(s, d)) },

    // TOKENIZER FERTILITY — the tokenizer-eval metric (tokens per word,
    // chars per token) a vocab team tracks per language before and after
    // a merge-table change: high fertility = the tokenizer fragments
    // that language's words (worse compression, longer sequences).
    // Subword count per word is the deterministic ceil(len/4) BPE-piece
    // proxy. Scale shape: a pure map stage (the per-word fold runs over
    // ONE bound token array — no explode, no per-word rows) into a
    // |lang|-bounded aggregate that collapses map-side; ratios are
    // integer floor divisions on the SUMS, so nothing double-accumulates
    // cross-engine.
    Q(
      "q214_tokenizer_fertility",
      """WITH t AS (
        |  SELECT lang, len(string_split(text, ' ')) AS words,
        |    list_sum(list_transform(string_split(text, ' '),
        |      w -> (length(w) + 3) // 4)) AS toks,
        |    n_chars
        |  FROM documents)
        |SELECT lang, CAST(sum(words) AS BIGINT) AS words,
        |  CAST(sum(toks) AS BIGINT) AS toks,
        |  CAST((sum(toks) * 1000000) // sum(words) AS BIGINT)
        |    AS fertility_ppm,
        |  CAST((sum(n_chars) * 100) // sum(toks) AS BIGINT)
        |    AS chars_per_tok_c
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .select(col("lang"), col("n_chars"),
          size(TextOps.tokens(col("text"))).cast("long").as("words"),
          TextOps.bindWords { ws =>
            aggregate(ws, lit(0L),
              (acc, w) => acc + shiftright(length(w) + lit(3), 2)
                .cast("long"))
          }.as("toks"))
        .groupBy("lang")
        .agg(sum("words").cast("long").as("words"),
          sum("toks").cast("long").as("toks"),
          expr("(sum(toks) * 1000000) div sum(words)")
            .as("fertility_ppm"),
          expr("(sum(n_chars) * 100) div sum(toks)")
            .as("chars_per_tok_c"))
        .orderBy("lang")
    },

    // SPAN-CORRUPTION PREP (T5/UL2 denoising) — size the (input,
    // target) sequences a span-corruption objective produces:
    // deterministic masking of every 7th 3-token block (~1/7 ≈ 14%
    // noise density, mean span 3), one sentinel per span on each side.
    // The per-doc mask/span counts come from a CLOSED FORM over the
    // token count (validated against the positional definition for
    // n = 1..199 in Round9fLawsSpec) — a pure arithmetic map stage, no
    // per-token explode, no HOF; the lang aggregate collapses map-side.
    Q(
      "q219_span_corruption",
      """WITH tok AS (
        |  SELECT lang, len(string_split(text, ' ')) AS n FROM documents),
        |d AS (
        |  SELECT lang, n,
        |    ((n + 2) // 3 - 1) // 7 + 1 AS m,
        |    CASE WHEN (((n + 2) // 3 - 1) % 7) = 0
        |         THEN 3 * ((n + 2) // 3) - n ELSE 0 END AS overhang
        |  FROM tok),
        |e AS (SELECT lang, n, m AS spans, 3 * m - overhang AS masked
        |      FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n - masked + spans) AS BIGINT) AS input_toks,
        |  CAST(sum(masked + spans) AS BIGINT) AS target_toks,
        |  CAST((sum(masked) * 1000000) // sum(n) AS BIGINT) AS mask_ppm
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n"))
        .withColumn("nb", expr("(n + 2) div 3"))
        .select(col("lang"), col("n"),
          expr("(nb - 1) div 7 + 1").as("spans"),
          (expr("((nb - 1) div 7 + 1) * 3") -
            when(expr("(nb - 1) % 7") === 0L, expr("3 * nb - n"))
              .otherwise(0L)).as("masked"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n") - col("masked") + col("spans")).cast("long")
            .as("input_toks"),
          sum(col("masked") + col("spans")).cast("long")
            .as("target_toks"),
          expr("(sum(masked) * 1000000) div sum(n)").as("mask_ppm"))
        .orderBy("lang")
    },

    // VOCAB COVERAGE / OOV RATE — the tokenizer-eval metric that pairs
    // with q214's fertility: what share of each language's token mass
    // falls OUTSIDE the top-16 corpus vocabulary (what a closed vocab
    // would map to <unk>). Scale shape: words hash to 60-bit keys
    // BEFORE the vocab-count exchange (min(w) carries the display word,
    // the q210 pattern); the top-16 cut is TakeOrderedAndProject; the
    // flag pass is a second token explode against the BROADCAST 16-row
    // vocab (two scans beat checkpointing token mass — q191's rule),
    // collapsing map-side to |lang| rows.
    Q(
      "q222_vocab_coverage",
      s"""WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |th AS (SELECT lang, ${OracleSql.md560("w")} AS hw FROM toks),
        |vocab AS (
        |  SELECT hw FROM (
        |    SELECT ${OracleSql.md560("w")} AS hw, count(*) AS c, min(w) AS word
        |    FROM toks GROUP BY 1)
        |  ORDER BY c DESC, word LIMIT 16),
        |fl AS (
        |  SELECT lang, CASE WHEN vocab.hw IS NULL THEN 1 ELSE 0 END
        |    AS oov
        |  FROM th LEFT JOIN vocab ON th.hw = vocab.hw)
        |SELECT lang, CAST(count(*) AS BIGINT) AS toks,
        |  CAST(sum(oov) AS BIGINT) AS oov,
        |  CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
        |FROM fl GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) => vocabCoverageCore(docs(s, d)) },

    // STOPWORD-PROFILE DIVERGENCE — the cheap stylometric drift check a
    // source-mix monitor runs: function-word rates are topic-invariant
    // but SOURCE-variant (register, boilerplate, scraping artifacts),
    // so each source's 8-stopword ppm profile vs the corpus profile
    // (L1 distance) flags sources whose text "sounds different" before
    // any model sees it. All rates independently floored ppm — no
    // cross-engine float path. Scale shape: the token explode is
    // map-side and everything not in the 8-word class folds to one
    // '•other' key BEFORE the exchange (the class-scale-exchange
    // rule), so the shuffle carries |sources|·9 partial rows; the
    // (source, class) aggregate is checkpointed once for its four
    // consumers (totals, grid, corpus profile, corpus total — q203
    // rule); the grid/L1 stages are |sources|·8-bounded.
    Q(
      "q230_stopword_divergence",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    CASE WHEN w IN ('the','of','and','to','in','a','is','that')
        |      THEN w ELSE chr(8226) END AS w2,
        |    count(*) AS c
        |  FROM tok GROUP BY 1, 2),
        |nt AS (SELECT source, sum(c) AS n FROM c GROUP BY 1),
        |sw(w) AS (VALUES ('the'),('of'),('and'),('to'),('in'),('a'),
        |  ('is'),('that')),
        |grid AS (
        |  SELECT nt.source, sw.w,
        |    coalesce(cc.c, 0) * 1000000 // nt.n AS ppm, nt.n
        |  FROM nt CROSS JOIN sw
        |  LEFT JOIN c cc ON cc.source = nt.source AND cc.w2 = sw.w),
        |corp AS (SELECT w2, sum(c) AS c FROM c GROUP BY 1),
        |ct AS (SELECT sum(c) AS n FROM c),
        |corpr AS (
        |  SELECT sw.w, coalesce(corp.c, 0) * 1000000 // ct.n AS ppm
        |  FROM sw LEFT JOIN corp ON corp.w2 = sw.w, ct)
        |SELECT g.source, CAST(max(g.n) AS BIGINT) AS n_tokens,
        |  CAST(sum(abs(g.ppm - r.ppm)) AS BIGINT) AS l1_ppm
        |FROM grid g JOIN corpr r USING (w)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) => stopwordDivergenceCore(docs(s, d)) },

    // TEMPLATE-PREFIX CLUSTERS — machine-generated/template spam shares
    // its OPENING (boilerplate headers, form letters, SEO stubs) even
    // when tails differ, which full-doc dedup (q50) and shingle LSH
    // (q52, density-diluted by long unique tails) both under-weight.
    // Cluster docs by the 60-bit hash of their first-8-token prefix;
    // report the cluster-size histogram with document/char mass so a
    // curation rollout sees how much template mass each size tier
    // holds. Scale shape: the prefix hashes to fixed width BEFORE the
    // exchange (8 B/doc — the md5_prefix64 doctrine); the cluster
    // aggregate is hash-keyed with map-side collapse; the histogram
    // exchange is |max-cluster-size|-bounded.
    Q(
      "q235_prefix_clusters",
      s"""WITH t AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_chars,
        |    ${OracleSql.md560(
          "list_aggregate(ws[1:8], 'string_agg', ' ')")} AS pk
        |  FROM t WHERE len(ws) >= 8),
        |cl AS (SELECT pk, count(*) AS m, sum(n_chars) AS chars
        |       FROM p GROUP BY pk),
        |d AS (SELECT m, count(*) AS n_clusters, sum(m) AS n_docs,
        |        sum(chars) AS chars
        |      FROM cl WHERE m >= 2 GROUP BY m)
        |SELECT CAST(m AS BIGINT) AS cluster_size,
        |  CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(chars AS BIGINT) AS chars
        |FROM d ORDER BY cluster_size""".stripMargin
    ) { (s, d) => prefixClustersCore(docs(s, d)) },

    // LEXICAL COMPLEXITY PROFILE — the reading-level proxy a curriculum
    // mixer (q212) wants per source: syllables-per-word (vowel-group
    // runs, the classic Flesch numerator) and chars-per-word, as exact
    // ppm ratios, with docs histogrammed into 0.25-syllable grade
    // bands. Per-row work is two codegen'd kernels (split + one regexp
    // pass); the rollup is one corpus exchange into |sources|×|grades|
    // rows with map-side collapse. The per-source ratios run as
    // base-100 staged long division (q229 pattern) so no intermediate
    // forms sum·1e6 — a 10 TB source (~3e12 vowel groups > 9.2e12/1e6)
    // would silently wrap the direct product; staged keeps every
    // operand under 100·sum(words). DuckDB's HUGEINT direct product
    // equals the staged floor exactly, so the gate stays hash-exact.
    Q(
      "q244_lexical_complexity",
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS y,
        |    CAST(length(text) AS BIGINT) AS ch
        |  FROM documents),
        |g AS (SELECT source, (y * 1000000 // w) // 250000 AS grade,
        |        w, y, ch FROM d)
        |SELECT source, CAST(grade AS BIGINT) AS grade,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(y) AS BIGINT) AS n_vgroups,
        |  CAST(sum(y) * 1000000 // sum(w) AS BIGINT) AS spw_ppm,
        |  CAST(sum(ch) * 1000000 // sum(w) AS BIGINT) AS cpw_ppm
        |FROM g GROUP BY 1, 2 ORDER BY source, grade""".stripMargin
    ) { (s, d) => lexicalComplexityCore(docs(s, d)) },


    // CHAR-BIGRAM REPETITIVENESS — template spam and boilerplate reuse
    // the same character patterns; organic prose spreads across many.
    // Per doc: Gini–Simpson over character bigrams (rational — q231's
    // no-libm rule), reported as rep_ppm = Σf²·1e6/n² (HIGH = repetitive),
    // histogrammed per source in 8000-ppm bands. The Σf² runs in ONE
    // codegen'd per-row kernel (plans/BigramSqSum) — the SQL-shaped
    // explode would shuffle the corpus BY CHARACTER (an exchange the
    // size of the corpus itself at 100 TB; the oracle keeps that shape
    // because DuckDB has no custom kernels and its gate tables are
    // small). Integer envelope: n²·1e6 exact while n ≤ 3e6 chars per
    // doc — a per-row bound, never the corpus.
    Q(
      "q245_char_diversity",
      """WITH bg AS (
        |  SELECT doc_id, source, unnest(list_transform(
        |    range(1, length(text)), i -> substr(text, i, 2))) AS b
        |  FROM documents WHERE length(text) >= 2),
        |f AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
        |      FROM bg GROUP BY 1, 2, 3),
        |d AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(sum(c * c) AS BIGINT) AS ssq
        |      FROM f GROUP BY 1, 2),
        |r AS (SELECT source, n, (ssq * 1000000) // (n * n) AS rep
        |      FROM d)
        |SELECT source, CAST(rep // 8000 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(sum(rep) AS BIGINT) AS rep_sum
        |FROM r GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin
    ) { (s, d) => charDiversityCore(docs(s, d)) },

    // VOCABULARY COVERAGE (Good–Turing) — how much of a source's
    // shingle vocabulary remains UNSEEN: the Turing estimator says the
    // probability mass of never-observed types ≈ f₁/N (singleton share)
    // — the classic "is this crawl exhausted or barely scratched"
    // pre-flight before budgeting more acquisition from a source. Also
    // reports the type-token ratio. One corpus exchange into (source,
    // hash) counts with map-side collapse — shingles hash to 32-bit
    // md5_prefix64 BEFORE the exchange (the fixed-width rule: a shuffle
    // carrying computed strings is a memory landmine; counting needs
    // only equality, and the oracle hashes identically so the gate
    // stays exact). The per-source rollup is vocabulary-scale. Integer
    // envelope: f₁·1e6 exact through 9.2e12 singletons per source;
    // at ≥2^32 distinct shingles the 32-bit space saturates both
    // engines identically (q240 note).
    Q(
      "q254_vocab_coverage",
      s"""WITH ${OracleSql.hashedShingleRows("source")},
        |f AS (SELECT source, h, CAST(count(*) AS BIGINT) AS c
        |      FROM hv GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS v,
        |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS f1
        |      FROM f GROUP BY 1)
        |SELECT source, n, v, f1,
        |  CAST(f1 * 1000000 // n AS BIGINT) AS unseen_ppm,
        |  CAST(v * 1000000 // n AS BIGINT) AS ttr_ppm
        |FROM g ORDER BY source""".stripMargin
    ) { (s, d) => goodTuringCore(docs(s, d)) }
  )

  /** q254 core over any (source, text) frame. Factored for crafted
    * coverage laws (an all-repeats source has f₁ = 0; an all-unique
    * source has unseen_ppm = ttr_ppm = 1e6). */
  private[graft] def goodTuringCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TextOps.hashedShingleRows(d, col("source"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").cast("long").as("n"),
        count(lit(1)).cast("long").as("v"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("f1"))
      .selectExpr("source", "n", "v", "f1",
        "(f1 * 1000000) div n as unseen_ppm",
        "(v * 1000000) div n as ttr_ppm")
      .orderBy("source")

  /** q244 core over any (source, text) frame. Factored for crafted
    * complexity laws (a one-word doc of v vowel groups grades at
    * ⌊v/0.25⌋; all-consonant docs grade 0 with spw_ppm 0). */
  private[graft] def lexicalComplexityCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(col("source"),
        size(split(col("text"), " ")).cast("long").as("w"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .cast("long").as("y"),
        length(col("text")).cast("long").as("ch"))
      // per-doc grade: y·1e6 ≤ 9.2e12 needs y ≤ 9.2e6 vowel groups
      // per DOC — a per-row bound, direct multiply is safe here
      .withColumn("grade", expr("(y * 1000000 div w) div 250000"))
      .groupBy("source", "grade")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("w").as("n_words"), sum("y").as("n_vgroups"),
        sum("ch").as("n_chars"))
      // corpus-mass ratios: staged base-100 division, both lanes
      .selectExpr("source", "grade", "n_docs", "n_words", "n_vgroups",
        "n_chars",
        "n_vgroups div n_words as ya1",
        "pmod(n_vgroups, n_words) as yr1",
        "n_chars div n_words as ca1", "pmod(n_chars, n_words) as cr1")
      .selectExpr("source", "grade", "n_docs", "n_words", "n_vgroups",
        "ya1", "ca1",
        "(yr1 * 100) div n_words as ya2",
        "pmod(yr1 * 100, n_words) as yr2",
        "(cr1 * 100) div n_words as ca2",
        "pmod(cr1 * 100, n_words) as cr2")
      .selectExpr("source", "grade", "n_docs", "n_words", "n_vgroups",
        "ya1", "ca1", "ya2", "ca2",
        "(yr2 * 100) div n_words as ya3",
        "pmod(yr2 * 100, n_words) as yr3",
        "(cr2 * 100) div n_words as ca3",
        "pmod(cr2 * 100, n_words) as cr3")
      .selectExpr("source", "cast(grade as long) as grade", "n_docs",
        "cast(n_words as long) as n_words",
        "cast(n_vgroups as long) as n_vgroups",
        "cast(ya1 * 1000000 + ya2 * 10000 + ya3 * 100 +" +
          " (yr3 * 100) div n_words as long) as spw_ppm",
        "cast(ca1 * 1000000 + ca2 * 10000 + ca3 * 100 +" +
          " (cr3 * 100) div n_words as long) as cpw_ppm")
      .orderBy("source", "grade")

  /** q245 core over any (source, text) frame. Factored for crafted
    * repetitiveness laws (an all-same-char doc has rep_ppm exactly 1e6;
    * a doc of n+1 distinct chars has Σf² = n so rep_ppm = ⌊1e6/n⌋). */
  private[graft] def charDiversityCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.filter(length(col("text")) >= 2)
      .select(col("source"),
        (length(col("text")).cast("long") - 1L).as("n"),
        call_function("bigram_sq_sum", col("text")).as("ssq"))
      .withColumn("rep", expr("(ssq * 1000000) div (n * n)"))
      .groupBy(col("source"), expr("rep div 8000").cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n").cast("long").as("n_bigrams"),
        sum("rep").cast("long").as("rep_sum"))
      .orderBy("source", "bucket")

  /** q235 core over any (doc_id, text, n_chars) frame. Factored for
    * crafted template laws (shared prefix + distinct tails must
    * cluster; 7-token docs must not participate). */
  private[graft] def prefixClustersCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(col("n_chars"), TextOps.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 8)
      .select(col("n_chars"),
        call_function("md5_prefix60",
          concat_ws(" ", slice(col("ws"), 1, 8))).as("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("m"), sum("n_chars").as("chars"))
      .filter(col("m") >= 2)
      .groupBy(col("m").cast("long").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum("m").cast("long").as("n_docs"),
        sum("chars").cast("long").as("chars"))
      .orderBy("cluster_size")

  /** q230 core over any (source, text) frame. Factored for crafted
    * profile laws (identical profiles → L1 = 0; a stopword-free source
    * diverges by exactly the corpus profile mass). */
  private[graft] def stopwordDivergenceCore(
      d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import d.sparkSession.implicits._
    val sw = Seq("the", "of", "and", "to", "in", "a", "is", "that")
    val c = d
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("source"),
        when(col("w").isin(sw: _*), col("w")).otherwise("•")
          .as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // |sources|·9 rows; four consumers
    val nt = c.groupBy("source").agg(sum("c").as("n"))
    val grid = nt.crossJoin(broadcast(sw.toDF("w")))
      .join(c.withColumnRenamed("w2", "w"), Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        expr("coalesce(c, 0) * 1000000 div n").as("ppm"), col("n"))
    val corp = sw.toDF("w") // broadcast the RIGHT side: a left join
      .join(broadcast(c.groupBy("w2").agg(sum("c").as("cc"))),
        col("w") === col("w2"), "left")
      .crossJoin(broadcast(c.agg(sum("c").as("tn"))))
      .select(col("w"), expr("coalesce(cc, 0) * 1000000 div tn")
        .as("cppm"))
    grid.join(broadcast(corp), Seq("w"))
      .groupBy("source")
      .agg(max("n").cast("long").as("n_tokens"),
        sum(abs(col("ppm") - col("cppm"))).cast("long").as("l1_ppm"))
      .orderBy("source")
  }

  /** q222 core over any (lang, text) frame. Factored for crafted OOV
    * laws (a hand-built vocab boundary). */
  private[graft] def vocabCoverageCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = d
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
    val vocab = toks
      .select(call_function("md5_prefix60", col("w")).as("hw"),
        col("w"))
      .groupBy("hw").agg(count(lit(1)).as("c"), min("w").as("word"))
      .orderBy(col("c").desc, col("word")).limit(16)
      .select("hw")
    toks
      .select(col("lang"),
        call_function("md5_prefix60", col("w")).as("hw"))
      .join(broadcast(vocab.withColumn("in_v", lit(1))), Seq("hw"),
        "left")
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("toks"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).cast("long")
          .as("oov"))
      .select(col("lang"), col("toks"), col("oov"),
        expr("oov * 1000000 div toks").as("oov_ppm"))
      .orderBy("lang")
  }

  /** (hw, cu): each distinct 60-bit word hash of the token arrays `ws`
    * of `tok` with its count. The Spark twin of `OracleSql.unigramCounts`
    * (q191, q210). */
  private def unigramCounts(
      tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tok.select(explode(col("ws")).as("w"))
      .select(call_function("md5_prefix60", col("w")).as("hw"))
      .groupBy("hw").agg(count(lit(1)).as("cu"))

  /** q210 core over any (text) frame: PMI-shaped bigram lexicon, top-64.
    * Factored for crafted-corpus laws (always-paired bigram scores
    * exactly 1.0; Cauchy-Schwarz bound score <= 1). */
  private[graft] def collocations(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = d.select(TextOps.tokens(col("text")).as("ws"))
    val bh = tok.filter(size(col("ws")) >= 2)
      .select(col("ws"),
        posexplode(TextOps.shingles(col("ws"), 2)).as(Seq("p", "b")))
      .select(col("b"),
        call_function("md5_prefix60", col("b")).as("hb"),
        call_function("md5_prefix60",
          element_at(col("ws"), col("p") + 1)).as("hw1"),
        call_function("md5_prefix60",
          element_at(col("ws"), col("p") + 2)).as("hw2"))
    val cnt = bh.groupBy("hb")
      .agg(count(lit(1)).as("c12"), min("b").as("bigram"),
        min("hw1").as("hw1"), min("hw2").as("hw2"))
      .filter(col("c12") >= 3L)
    // Checkpointed: the unigram table has TWO consumers (the hw1 and
    // hw2 joins) and ReuseExchange does NOT dedup the two aliased
    // subtrees (verified in the plan — three corpus scans without it);
    // the barrier makes both joins read one vocab-scale materialization.
    // DISK_ONLY: vocab scales with the corpus (q183 lesson).
    val uni = unigramCounts(tok)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    cnt
      .join(uni.select(col("hw").as("hw1"), col("cu").as("cu1"))
        .hint("shuffle_hash"), Seq("hw1"))
      .join(uni.select(col("hw").as("hw2"), col("cu").as("cu2"))
        .hint("shuffle_hash"), Seq("hw2"))
      .select(col("bigram"), col("c12").cast("long").as("c12"),
        (col("c12").cast("double") * col("c12") / col("cu1") /
          col("cu2")).as("score"))
      .orderBy(col("score").desc, col("bigram"))
      .limit(64)
  }

  /** The BPE induction loop shared by q142 (emits the merge table) and
    * q148 (applies it to encode). Corpus-scale stage: distributed word
    * count + top-V TakeOrderedAndProject; the merge loop then runs on
    * <= 1024 collected (word, count) rows — driver state independent of
    * corpus size (the k-means-seed pattern). Ties break
    * (count DESC, left ASC, right ASC); Java String.replace is the same
    * non-overlapping left-to-right scan as SQL replace(). */
  private[graft] def bpeMerges(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): Seq[(Long, String, String, Long)] = {
    val vocab = Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(1024)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var repr: Array[(String, Long)] = vocab.map { case (w, c) =>
      (" " + w.toCharArray.mkString(" ") + " ", c)
    }
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (round <- 1 to k) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      repr.foreach { case (rep, c) =>
        val syms = rep.trim.split(" ")
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + c
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((round.toLong, l, r, c))
        repr = repr.map { case (rep, cc) =>
          (rep.replace(" " + l + " " + r + " ", " " + l + r + " "), cc)
        }
      }
    }
    merges.toSeq
  }

  /** DuckDB oracle for q148: the q142 induction CTE chain, then every
    * document word encoded by the same K-replace chain (merge pairs via
    * uncorrelated scalar subqueries on bestN), summed per doc. */
  private[queries] def bpeEncodeOracle(k: Int): String = {
    val chain = (0 until k).foldLeft(
      "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')") { (acc, r) =>
      s"""replace($acc,
         |  (SELECT ' ' || l || ' ' || r2 || ' ' FROM best$r),
         |  (SELECT ' ' || l || r2 || ' ' FROM best$r))""".stripMargin
    }
    bpePrefix(k) +
      s""",
        |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |       FROM documents),
        |enc AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim($chain), ' ')) AS BIGINT) AS nt
        |  FROM dw)
        |SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
        |  CAST(count(*) AS BIGINT) AS n_words
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for q142: the K-round merge loop unrolled into chained
    * CTEs — each round extracts weighted adjacent symbol pairs, picks the
    * (count DESC, pair ASC) argmax, and applies the merge via sentinel-
    * delimited replace() (non-overlapping left-to-right = greedy BPE). */
  private[queries] def bpeOracle(k: Int): String = {
    val sb = new StringBuilder(bpePrefix(k))
    sb.append("\nSELECT round, l AS sym_l, r2 AS sym_r, pair_cnt FROM (\n")
    sb.append((0 until k).map(r => s"SELECT * FROM best$r").mkString("\nUNION ALL\n"))
    sb.append("\n) ORDER BY round")
    sb.toString
  }

  /** Shared induction CTE chain: vocab + repr0 + K rounds of
    * pairsN/bestN/reprN+1. */
  private def bpePrefix(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH vocab AS (
        |  SELECT w AS word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |  ) GROUP BY 1 ORDER BY cnt DESC, word LIMIT 1024
        |),
        |repr0 AS (
        |  SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS repr, cnt
        |  FROM vocab
        |)""".stripMargin)
    for (r <- 0 until k) {
      sb.append(s""",
        |pairs$r AS (
        |  SELECT list_extract(s, i) AS l, list_extract(s, i+1) AS r2, cnt
        |  FROM (SELECT string_split(trim(repr), ' ') AS s, cnt FROM repr$r),
        |       unnest(range(1, len(s))) AS t(i)
        |),
        |best$r AS (
        |  SELECT CAST(${r + 1} AS BIGINT) AS round, l, r2,
        |         CAST(sum(cnt) AS BIGINT) AS pair_cnt
        |  FROM pairs$r GROUP BY l, r2 ORDER BY pair_cnt DESC, l, r2 LIMIT 1
        |),
        |repr${r + 1} AS (
        |  SELECT replace(repr, ' ' || l || ' ' || r2 || ' ',
        |                 ' ' || l || r2 || ' ') AS repr, cnt
        |  FROM repr$r, best$r
        |)""".stripMargin)
    }
    sb.toString
  }
}
