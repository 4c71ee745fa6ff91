package graft

/** Dev utility: print the formatted physical plan of one or more registered
  * queries (the source for PLANS.md). Usage:
  *   sbt "runMain graft.PlanDump <sfDir> q52_lsh_pairs [q54_jaccard ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.all.filter(q => names.isEmpty || names(q.name)).foreach { q =>
      println(s"\n## ${q.name}\n")
      println("```")
      println(Inspect.explainString(q.fn(spark, sfDir)))
      println("```")
      GraftSession.releaseQueryState(spark, blocking = true)
    }
    spark.stop()
  }
}
