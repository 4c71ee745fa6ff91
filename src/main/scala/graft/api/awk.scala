package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{ArrayOps, NestedOps, Reducers, StrOps, TextOps}

/** The user-facing façade: the reference's public vocabulary
  * (`dak.*` — src/dask_awkward/lib/structure.py `__all__`,
  * reducers.py `__all__`, io modules) mapped 1:1 onto this engine, so a
  * dask-awkward user can switch by name. Per-row ("axis=1") operators take
  * and return `Column`s over nested-typed columns; axis-0 operators are the
  * corresponding DataFrame/aggregate calls (noted per method).
  *
  * Naming follows the reference (snake_case); each simply delegates to the
  * typed implementation in graft.functions.*.
  */
object awk {

  // ---- io (SURVEY §2.1) --------------------------------------------------
  def from_parquet(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame =
    graft.sources.Sources.fromParquet(spark, path, columns)
  def to_parquet(df: DataFrame, dest: String): Unit =
    graft.sources.Sources.toParquet(df, dest)
  def from_json(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sources.fromJson(spark, path)
  def to_json(df: DataFrame, dest: String): Unit =
    graft.sources.Sources.toJson(df, dest)
  def from_text(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sources.fromText(spark, path)
  /** Tolerant read + per-file status report — the reference's
    * (data, report) pair (io/io.py:651-696, parquet.py:36-61). */
  def from_parquet_with_report(spark: SparkSession,
      path: String): (DataFrame, DataFrame) =
    graft.sources.Sources.fromParquetWithReport(spark, path)

  // ---- structure (§2.6) --------------------------------------------------
  def num(arr: Column): Column = ArrayOps.num(arr)
  /** Concatenate each row's inner lists — reference `flatten(axis=1)`:
    * None inner lists are removed, None elements kept. Spark's bare
    * flatten would null the whole row on one null inner list. */
  def flatten(arr: Column): Column =
    org.apache.spark.sql.functions.flatten(filter(arr, _.isNotNull))
  def firsts(arr: Column): Column = ArrayOps.firsts(arr)
  def singletons(c: Column): Column = ArrayOps.singletons(c)
  def pad_none(arr: Column, target: Int, clip: Boolean = false): Column =
    ArrayOps.padNone(arr, target, clip)
  def fill_none(arr: Column, value: Column): Column = ArrayOps.fillNone(arr, value)
  def drop_none(arr: Column): Column = ArrayOps.dropNone(arr)
  def is_none(arr: Column): Column = ArrayOps.isNone(arr)
  def mask(arr: Column, m: Column, validWhen: Boolean = true): Column =
    ArrayOps.maskArr(arr, m, validWhen)
  def where(cond: Column, x: Column, y: Column): Column =
    ArrayOps.whereArr(cond, x, y)
  def local_index(arr: Column): Column = ArrayOps.localIndex(arr)
  def run_lengths(arr: Column): Column = ArrayOps.runLengths(arr)
  def unflatten(arr: Column, counts: Column): Column =
    ArrayOps.unflatten(arr, counts)
  def ravel(arr: Column): Column = ArrayOps.ravel1(arr)
  def sort(arr: Column, ascending: Boolean = true): Column =
    if (ascending) array_sort(arr) else ArrayOps.sortDesc(arr)
  def argsort(arr: Column, ascending: Boolean = true): Column =
    if (ascending) ArrayOps.argsort(arr) else ArrayOps.argsortDesc(arr)
  def zip(cols: (String, Column)*): Column =
    struct(cols.map { case (n, c) => c.as(n) }: _*)
  def unzip(df: DataFrame, structCol: String): DataFrame =
    df.select(col(structCol + ".*"))
  def with_field(rec: Column, name: String, value: Column): Column =
    rec.withField(name, value)
  def without_field(rec: Column, name: String): Column = rec.dropFields(name)
  def with_name(c: Column, name: String): Column =
    graft.functions.Behaviors.withName(c, name)
  def with_parameter(c: Column, key: String, value: String): Column =
    graft.functions.Behaviors.withParameter(c, key, value)
  def without_parameters(c: Column): Column =
    graft.functions.Behaviors.withoutParameters(c)
  /** to_regular/from_regular with the carried size invariant
    * (structure.py:479-505, 871-895): the fixed width validates per row
    * AND rides column metadata (parquet-footer-persistent). */
  def to_regular(c: Column, n: Int, as: String = "value"): Column =
    ArrayOps.toRegularTyped(c, n, as)
  def from_regular(c: Column, as: String = "value"): Column =
    ArrayOps.fromRegularTyped(c, as)
  def regular_size(df: DataFrame, name: String): Option[Long] =
    ArrayOps.regularSize(df.schema, name)

  // ---- describe (lib/describe.py) ----------------------------------------
  /** `fields` (describe.py:9-24): top-level field names of a DataFrame or
    * of a struct-typed column's schema. */
  def fields(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq
  def fields(df: DataFrame, structCol: String): Seq[String] =
    df.schema(structCol).dataType match {
      case s: org.apache.spark.sql.types.StructType => s.fieldNames.toSeq
      case _ => Nil
    }
  /** `backend` (describe.py:27-41): always "typetracer" in the reference;
    * here the engine is always Spark/Catalyst. */
  def backend(df: DataFrame): String = "spark"
  def values_astype(c: Column, dt: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Column =
    NestedOps.valuesAstype(c, dt, to)
  def full_like(c: Column, dt: org.apache.spark.sql.types.DataType,
      v: Column): Column = NestedOps.fullLike(c, dt, v)
  def isclose(a: Column, b: Column, rtol: Double = 1e-5,
      atol: Double = 1e-8): Column = ArrayOps.isclose(a, b, rtol, atol)
  def nan_to_num(c: Column, nan: Double = 0.0): Column = ArrayOps.nanToNum(c, nan)
  /** axis=0: unionByName; axis=1: element-wise list concat. */
  def concatenate(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
  def concatenate_inner(a: Column, b: Column): Column = ArrayOps.concatInner(a, b)

  // ---- combinators (§2.4) ------------------------------------------------
  def cartesian(a: Column, b: Column): Column = ArrayOps.cartesian(a, b)
  /** Reference signature: `ak.cartesian([a, b, c, ...])` — the list form
    * (structure.py:245-282). */
  def cartesian(arrs: Seq[Column]): Column = ArrayOps.cartesianN(arrs)
  def argcartesian(a: Column, b: Column): Column = ArrayOps.argcartesian(a, b)
  def argcartesian(arrs: Seq[Column]): Column = ArrayOps.argcartesianN(arrs)
  def combinations(arr: Column, n: Int, replacement: Boolean = false,
      fields: Seq[String] = null): Column =
    if (n == 2)
      ArrayOps.combinations2(arr, replacement,
        Option(fields).getOrElse(Seq("c0", "c1")))
    else if (fields != null)
      ArrayOps.combinationsNamed(arr, n, fields, replacement)
    else ArrayOps.combinationsN(arr, n, replacement)
  def argcombinations(arr: Column, n: Int): Column =
    if (n == 2) ArrayOps.argcombinations2(arr)
    else ArrayOps.argcombinationsN(arr, n)
  def broadcast_arrays(a: Column, b: Column,
      dt: org.apache.spark.sql.types.DataType)(
      f: (Column, Column) => Column): Column = NestedOps.zipLeaves(a, b, dt)(f)

  // ---- reducers (§2.5; axis=1 forms — axis=0 are native df.agg) ----------
  def sum(arr: Column): Column = Reducers.sumArr(arr)
  def prod(arr: Column): Column = Reducers.prodArr(arr)
  def min(arr: Column): Column = Reducers.minArr(arr)
  def max(arr: Column): Column = Reducers.maxArr(arr)
  def count(arr: Column): Column = Reducers.countArr(arr)
  def count_nonzero(arr: Column): Column = Reducers.countNonzeroArr(arr)
  def any(arr: Column, pred: Column => Column): Column = Reducers.anyArr(arr, pred)
  def all(arr: Column, pred: Column => Column): Column = Reducers.allArr(arr, pred)
  def argmin(arr: Column): Column = Reducers.argminArr(arr)
  def argmax(arr: Column): Column = Reducers.argmaxArr(arr)
  def mean(arr: Column): Column = Reducers.meanArr(arr)
  def `var`(arr: Column, ddof: Int = 0): Column = Reducers.varArr(arr, ddof)
  def std(arr: Column, ddof: Int = 0): Column = Reducers.stdArr(arr, ddof)
  def ptp(arr: Column): Column = Reducers.ptpArr(arr)
  def softmax(arr: Column): Column = Reducers.softmaxArr(arr)
  def moment(arr: Column, n: Int): Column = Reducers.momentArr(arr, n)

  // ---- inspect (§2.2) ----------------------------------------------------
  /** `sample` — reference inspect.py:241-273. Factor mode keeps every Nth
    * row by a deterministic key (the reference restarts counting per
    * partition; a key-modulus is the repartition-proof equivalent).
    * Probability mode is hash-Bernoulli: keep rows whose md5(key) 32-bit
    * prefix falls below p — the same rows survive on any engine, any
    * partitioning, any rerun (what you want for resumable 100 TB jobs). */
  def sample(df: DataFrame, key: Column, factor: Int = 0,
      probability: Double = -1.0): DataFrame = {
    require((factor > 0) ^ (probability >= 0.0),
      "give exactly one of factor or probability")
    if (factor > 0) df.filter(key.cast("long") % factor === 0)
    else df.filter(
      conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        < (probability * 4294967296.0).toLong)
  }

  /** The reference's str namespace. */
  val str: StrOps.type = StrOps
  /** Pipeline additions (dedup / similarity / text analysis). */
  val text: TextOps.type = TextOps
  /** North-star extensions beyond the reference vocabulary: as-of/range
    * joins and near-dup group resolution (connected components). */
  val joins: graft.functions.JoinOps.type = graft.functions.JoinOps
  val graph: graft.functions.GraphOps.type = graft.functions.GraphOps
}
