package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources
import java.nio.file.Files

/** IO round-trips (reference test_parquet.py/test_io_json.py/
  * test_io_text.py idiom: write per-partition files, read back, compare). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    freshDir(s"graft-$name") + "/out"

  test("parquet round-trip with column pushdown") {
    val dir = tmp("parquet")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Sources.toParquet(df, dir)
    val back = Sources.fromParquet(spark, dir, columns = Seq("id", "v"))
    assert(back.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == Seq((1L, 1.5), (2L, 2.5)))
    // pruned read reaches the scan
    assert(Inspect.necessaryColumns(back).values.head.toSet == Set("id", "v"))
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from parquet footers, " +
    "no row scan (spark.sql.parquet.aggregatePushdown)") {
    val dir = tmp("aggpush")
    val df = (0 until 1000).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    Sources.toParquet(df, dir)
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // aggregate pushdown is a DSv2-only capability; parquet defaults to
    // the v1 FileScan path
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val back = spark.read.format("parquet").load(dir)
        .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
      val plan = back.queryExecution.executedPlan.toString
      // at 100 TB this is the difference between a metadata read and a
      // full scan for corpus-stats queries
      assert(plan.contains("PushedAggregation"),
        s"aggregation not pushed to the scan:\n$plan")
      val r = back.collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1000L, 0L, 999L)))
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
      prevV1 match {
        case Some(v) => spark.conf.set("spark.sql.sources.useV1SourceList", v)
        case None => spark.conf.unset("spark.sql.sources.useV1SourceList")
      }
    }
  }

  test("partitioned parquet: partition filters prune directories before I/O") {
    val dir = tmp("part")
    val df = (0 until 400).map(i =>
      (i.toLong, Seq("en", "de", "fr", "zh")(i % 4), i * 1.5))
      .toDF("id", "lang", "v")
    Sources.toParquetPartitioned(df, dir, Seq("lang"))
    // hive layout on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("lang=en", "lang=de", "lang=fr", "lang=zh"))
    val back = Sources.fromParquet(spark, dir).filter(col("lang") === "de")
    assert(back.count() == 100)
    // the filter lands in PartitionFilters (directory pruning), NOT in
    // PushedFilters (row-group stats) — only matching dirs are listed
    val plan = Inspect.explainString(back)
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"), plan)
  }

  test("json round-trip: line-delimited, nested struct, schema pushdown") {
    val dir = tmp("json")
    val df = Seq((1L, Seq(1, 2, 3)), (2L, Seq[Int]())).toDF("id", "xs")
    Sources.toJson(df, dir)
    val inferred = Sources.fromJson(spark, dir)
    assert(inferred.count() == 2)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("xs", ArrayType(LongType))))
    val pushed = Sources.fromJson(spark, dir, schema = Some(schema))
    assert(pushed.schema == schema)
    assert(pushed.orderBy("id").select("xs").collect()
      .map(_.getSeq[Long](0)).toSeq == Seq(Seq(1L, 2L, 3L), Seq()))
  }

  test("text round-trip with custom record delimiter") {
    val dir = tmp("text")
    Seq("alpha", "beta", "gamma").toDF("value").coalesce(1)
      .write.mode("overwrite").text(dir)
    val lines = Sources.fromText(spark, dir)
    assert(lines.orderBy("value").collect().map(_.getString(0)).toSeq ==
      Seq("alpha", "beta", "gamma"))
  }

  test("ORC and CSV round-trips (format breadth beyond the reference)") {
    val data = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    val orcDir = tmp("orc")
    Sources.toOrc(data, orcDir)
    val orcBack = Sources.fromOrc(spark, orcDir).orderBy("id")
    assert(orcBack.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // ORC rides the same FileSourceScan path as parquet: projection and
    // predicate both reach the scan
    val pruned = Sources.fromOrc(spark, orcDir, columns = Seq("id", "v"))
      .filter(col("v") > 2.0)
    assert(Inspect.necessaryColumns(pruned).values.head.toSet ==
      Set("id", "v"))
    assert(Inspect.pushedFilters(pruned).mkString(";").contains("v"))

    val csvDir = tmp("csv")
    Sources.toCsv(data, csvDir)
    // explicit schema (the scale path — no inference scan)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val csvBack = Sources.fromCsv(spark, csvDir, schema = Some(schema))
      .orderBy("id")
    assert(csvBack.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // inferred-schema path still round-trips
    val inferred = Sources.fromCsv(spark, csvDir).orderBy("id")
    assert(inferred.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1, "a", 1.5), (2, "b", 2.5)))
  }

  test("permissive JSON: corrupt lines land in _corrupt_record") {
    import org.apache.spark.sql.types._
    val dir = tmp("badjson")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      "{\"id\": 1}\nnot json at all\n{\"id\": 2}\n".getBytes)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    val rows = df.collect()
    assert(rows.count(_.isNullAt(1)) == 2)      // two good records
    assert(rows.count(r => !r.isNullAt(1)) == 1) // one corrupt line captured
  }

  test("tolerant parquet read skips corrupt files") {
    val dir = tmp("tolerant")
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    // drop a garbage file into the directory
    Files.write(java.nio.file.Paths.get(dir, "part-junk.parquet"),
      "not a parquet file".getBytes)
    val back = Sources.fromParquetTolerant(spark, dir)
    assert(back.count() == 1)
  }

  test("read-report: tolerant read plus per-file status DF " +
    "(reference parquet.py:36-61, io/io.py:651-696, test_parquet.py:207)") {
    val dir = tmp("report")
    Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      .repartition(2).write.mode("overwrite").parquet(dir)
    Files.write(java.nio.file.Paths.get(dir, "part-junk.parquet"),
      "not a parquet file".getBytes)
    val (data, report) = Sources.fromParquetWithReport(spark, dir)
    assert(data.count() == 2) // bad file skipped, good rows intact
    val rows = report.collect()
    assert(rows.length == 3) // one report row per data file, junk included
    val (bad, ok) = rows.partition(r => !r.isNullAt(2))
    assert(bad.length == 1 && bad.head.getString(0).endsWith("part-junk.parquet"))
    assert(ok.length == 2 && ok.forall(_.getSeq[String](1) == Seq("id", "s")))
    // report is queryable SQL, the reference's whole point
    assert(report.where(col("exception").isNotNull).count() == 1)
  }

  test("idempotentBatchWriter: a replayed micro-batch does not duplicate") {
    val dest = tmp("sink")
    val w = Sources.idempotentBatchWriter(dest)
    w(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), 0L)
    w(Seq((3L, "c")).toDF("id", "s"), 1L)
    // crash-recovery replay of batch 1 (same id, same contents)
    w(Seq((3L, "c")).toDF("id", "s"), 1L)
    val back = spark.read.parquet(dest)
    assert(back.count() == 3, "replayed batch appended instead of replacing")
    assert(back.select("__batch_id").distinct().count() == 2)
    // a REVISED replay (source re-sent corrected rows) replaces too
    w(Seq((3L, "c2"), (4L, "d")).toDF("id", "s"), 1L)
    val back2 = spark.read.parquet(dest)
    assert(back2.count() == 4)
    assert(back2.where(col("id") === 3L).select("s").collect()
      .head.getString(0) == "c2")
    // batch 0 untouched by batch 1's overwrite (dynamic mode)
    assert(back2.where(col("__batch_id") === 0).count() == 2)
  }
}
