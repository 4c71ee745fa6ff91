package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (same contract as Bench); the driver never
    // sets it, so the t2 gate always dumps every query
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var complexCols = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a query that throws before its write must leave NO output: a
      // previous run's parquet left in place would read as a pass
      deleteTree(new java.io.File(s"$outDir/$name"))
      try {
        val df = fn(spark, sfDir)
        // The driver's checker pandas-sorts result rows over ALL columns;
        // an array/struct/map cell crashes that sort (unhashable
        // numpy.ndarray) and voids the query's correctness row. Gate
        // outputs must be scalar — serialize lists via graft.queries.Ser.
        df.schema.fields.foreach { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.StructType |
                 _: org.apache.spark.sql.types.MapType =>
              complexCols ::= s"$name.${f.name}: ${f.dataType.simpleString}"
            case _ =>
          }
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        GraftSession.releaseQueryState(spark, blocking = false)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset runs also subset the oracle map: otherwise check.py on a
    // reused outDir would validate STALE parquet of non-subset queries
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (complexCols.nonEmpty) {
      complexCols.foreach(c =>
        System.err.println(s"[verify] NON-SCALAR OUTPUT (driver-uncheckable): $c"))
      sys.exit(2)
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
