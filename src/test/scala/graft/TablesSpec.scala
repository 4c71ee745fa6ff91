package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** `Tables.table` infers a table's schema once: the first read of a
  * (path, modification time, nanosAsLong) key runs Spark's one-task
  * footer-inference job, later reads pass the memoized schema and run
  * none. The memoized read must resolve exactly like a bare
  * `spark.read.parquet`. `events` sets nanosAsLong on the session only
  * for a TIMESTAMP(NANOS) `ts`. */
class TablesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** A fresh directory holding a copy of the named fixture tables, so
    * no other spec has warmed the memo for its paths. */
  private def freshCopy(tables: String*): String = {
    val dir = Paths.get(freshDir("graft-tables-spec"))
    tables.foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  private def outputTypes(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  test("the first read of a fixture table runs one inference job, the " +
    "second runs none") {
    val dir = freshCopy("documents")
    assert(jobsLaunchedBy(Tables.documents(spark, dir)) == 1)
    assert(jobsLaunchedBy(Tables.documents(spark, dir)) == 0)
  }

  test("a memoized read has the schema and analyzed output types of a " +
    "bare spark.read.parquet") {
    Seq("documents", "lineitem", "events").foreach { t =>
      Tables.table(spark, sfDir, t)
      val memo = Tables.table(spark, sfDir, t)
      val bare = spark.read.parquet(s"$sfDir/$t.parquet")
      assert(memo.schema == bare.schema, t)
      assert(outputTypes(memo) == outputTypes(bare), t)
    }
  }

  test("two reads of one table self-join on an id and return the table's " +
    "rows") {
    val a = Tables.orders(spark, sfDir)
    val b = Tables.orders(spark, sfDir)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_custkey"), b("o_totalprice"))
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(joined.orderBy("o_orderkey").collect().toSeq ==
      want.orderBy("o_orderkey").collect().toSeq)
  }

  test("a table rewritten in place with another column set is read with " +
    "the new schema") {
    val dir = freshDir("graft-tables-spec")
    val path = s"$dir/t.parquet"
    spark.range(3).select(col("id"), (col("id") * 2).as("a"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "a"))
    spark.range(3).select(col("id"), concat(lit("x"), col("id")).as("b"))
      .write.mode("overwrite").parquet(path)
    val reread = Tables.table(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "b"))
    assert(reread.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("x0", "x1", "x2"))
  }

  test("one path read under nanosAsLong true and then false is inferred " +
    "once under each") {
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(conf)
    val dir = freshCopy("events")
    try {
      spark.conf.set(conf, "true")
      assert(jobsLaunchedBy(Tables.table(spark, dir, "events")) == 1)
      spark.conf.set(conf, "false")
      assert(jobsLaunchedBy(Tables.table(spark, dir, "events")) == 1)
      spark.conf.set(conf, "true")
      assert(jobsLaunchedBy(Tables.table(spark, dir, "events")) == 0)
    } finally before match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  /** Runs `body` with nanosAsLong first unset, restoring its old value. */
  private def withNanosUnset(body: => Unit): Unit = {
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(conf)
    spark.conf.unset(conf)
    try body finally before match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("events over a TIMESTAMP(MICROS) ts leaves nanosAsLong unset") {
    withNanosUnset {
      Tables.events(spark, sfDir).schema
      assert(!spark.conf.getAll.contains(
        "spark.sql.legacy.parquet.nanosAsLong"))
    }
  }

  test("events over a TIMESTAMP(NANOS) ts sets nanosAsLong and reads ts " +
    "as the same microseconds, truncated") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = freshDir("graft-tables-spec")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = Seq(0L, 1700000000123456789L, 1700000000999999999L)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      val rows = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (n, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", n))
      }
    } finally w.close()
    withNanosUnset {
      val ev = Tables.events(spark, dir)
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(ev.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      assert(ev.orderBy("event_id").select(expr("unix_micros(ts)"))
        .collect().map(_.getLong(0)).toSeq == nanos.map(_ / 1000))
    }
  }
}
