package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table access over the driver-generated testdata directory layout
  * (TESTDATA.md): one parquet file per table in `$dir/<name>.parquet`.
  *
  * Kept deliberately thin: `spark.read.parquet` gives us Catalyst's
  * FileSourceScan with column pruning + predicate pushdown + row-group
  * skipping for free — the reference hand-rolls exactly this
  * ("necessary columns", /root/reference/src/dask_awkward/lib/optimize.py:69-223).
  * The one thing kept across reads is the schema. A bare read infers it
  * with a one-task Spark job that ships the Hadoop conf to an executor
  * to read one footer, on every read; the reference reads footers once
  * per collection and keeps the form as its meta. So `table` infers a
  * table's schema once and every later read passes it to
  * `spark.read.schema`. The memo key is the path, its modification time
  * (a table rewritten in place is inferred again) and
  * `spark.sql.legacy.parquet.nanosAsLong`, the one session conf that
  * changes what inference returns here (`events` sets it, and only for
  * a TIMESTAMP(NANOS) `ts`). Each read
  * still builds a fresh relation with its own file listing and
  * expression ids, so a self-join of two reads resolves as before.
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), StructType]

  private val nanosTs =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]

  private def mtime(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, mtime(spark, path), spark.conf.get(NanosAsLong, "false"))
    spark.read.schema(schemas.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)).parquet(path)
  }

  /** Whether column `c` of the parquet table `path` (one file, or a
    * directory of part files sharing a schema) is TIMESTAMP(NANOS), read
    * from one footer on the driver (no Spark job). */
  private def nanosColumn(spark: SparkSession, path: String,
      c: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = if (!fs.getFileStatus(root).isDirectory) Some(root)
      else fs.listStatus(root).iterator.map(_.getPath)
        .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    file.exists { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        schema.containsField(c) &&
          (schema.getType(schema.getFieldIndex(c))
            .getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation =>
              t.getUnit == TimeUnit.NANOS
            case _ => false
          })
      } finally r.close()
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` arrives as either parquet TIMESTAMP(MICROS) (readable
    * directly) or TIMESTAMP(NANOS), which Spark 4 refuses to read as a
    * timestamp. For the nanos layout, read raw nanos (legacy conf) and
    * rebuild a microsecond timestamp with integer division (nanos exceed
    * 2^53, so `div`, never double `/`). DuckDB truncates ns→us the same
    * way, so both generations hash identically through the gate.
    * Spark reads the conf from the session when the scan runs, so it is
    * set on the session, and only when the footer (read once per file
    * version) says `ts` is nanos: every other parquet read keeps the
    * default.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    if (nanosTs.computeIfAbsent((path, mtime(s, path)),
        _ => nanosColumn(s, path, "ts"))) s.conf.set(NanosAsLong, "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // Session TZ is pinned to UTC (GraftSession), so NTZ→LTZ is a
        // semantic no-op; LTZ keeps epoch-arithmetic casts (ts AS DOUBLE)
        // legal, matching the type the nanos path produces.
        raw.withColumn("ts", raw("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `compute` memoized per data dir: the first call for a dir runs it
    * (one bounded driver-side job: a count, a max, a seed collect), later
    * calls reuse the value. Queries size structures or take seeds from it
    * instead of a broadcast-scalar subquery, which would serialize its
    * consumers' stages. Dirs are immutable fixtures; a long-lived service
    * would key on snapshot version. */
  def perDir[V](compute: (SparkSession, String) => V)
      : (SparkSession, String) => V = {
    val memo = new java.util.concurrent.ConcurrentHashMap[String, V]
    (s, d) => memo.computeIfAbsent(d, dir => compute(s, dir))
  }
}

/** One registered query: the Spark-native implementation plus the
  * equivalent ANSI SQL the driver runs in DuckDB as the oracle.
  * Column names MUST match between the two (the driver sorts columns by
  * name before hashing); every query orders its output deterministically
  * so row order can never be a source of mismatch.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Q = Q(name, fn, Some(sql))
}
