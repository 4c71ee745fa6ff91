package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan SHAPE extraction — the deterministic half of the perf
  * defense (r13 verdict item 1). bench_guard compares wall-clock, which
  * the doctrine documents as hostage to 1.2–1.5x box phases and
  * hypervisor steal; the plan shape (how many parquet scans, exchanges,
  * sorts, joins of each kind, …) is a pure function of code + data
  * layout and catches the regressions that actually matter at 100 TB —
  * an extra shuffle, a broadcast degrading to SMJ, a HashAggregate
  * falling back to SortAggregate — regardless of box weather. The shape
  * is read from the AQE-INITIAL plan, before anything runs: AQE decides
  * exchange reuse at runtime, so the initial plan lists both sides of a
  * self-join and a lost reuse changes no count (`reused_exchange` is
  * absent from every budget entry). Reuse is gated on an executed
  * query's final plan instead (PlanBudgetSpec, q59).
  *
  * Per-query budgets live in `tools/plan_budget.json` (derived at
  * sf0.001 by `runMain graft.PlanStats`); `tools/plan_guard.py` fails
  * any query whose count for a gated node kind EXCEEDS its budget.
  * PlanBudgetSpec spot-checks representative queries against the
  * committed file in-suite and proves a deliberately-degraded plan
  * (shuffle_hash hint removed) trips the gate.
  */
object PlanStats {

  /** Node kinds worth budgeting. Wrapper nodes (WholeStageCodegen,
    * InputAdapter, subquery shells) are counted under informational
    * kinds or not at all; everything else maps to a stable short key so
    * the budget file survives Spark-internal class renames in one
    * place. */
  def kind(n: SparkPlan): Option[String] = n.getClass.getSimpleName match {
    case "FileSourceScanExec" | "BatchScanExec" => Some("scan")
    case "ShuffleExchangeExec" => Some("exchange")
    case "BroadcastExchangeExec" => Some("broadcast_exchange")
    case "ReusedExchangeExec" => Some("reused_exchange")
    case "SortExec" => Some("sort")
    case "SortMergeJoinExec" => Some("smj")
    case "ShuffledHashJoinExec" => Some("shj")
    case "BroadcastHashJoinExec" => Some("bhj")
    case "BroadcastNestedLoopJoinExec" => Some("bnlj")
    case "CartesianProductExec" => Some("cartesian")
    case "WindowExec" => Some("window")
    case "WindowGroupLimitExec" => Some("window_limit")
    case "GenerateExec" => Some("generate")
    case "HashAggregateExec" => Some("hash_agg")
    case "ObjectHashAggregateExec" => Some("object_hash_agg")
    case "SortAggregateExec" => Some("sort_agg")
    case "ExpandExec" => Some("expand")
    case "RDDScanExec" | "ExternalRDDScanExec" => Some("rdd_scan")
    case "InMemoryTableScanExec" => Some("cache_scan")
    case "WholeStageCodegenExec" => Some("wscg")
    case _ => None
  }

  /** Count node kinds in the (pre-execution, AQE-initial) physical plan,
    * recursing into subquery plans. Deterministic for a given code state
    * + data layout: nothing here executes the query. */
  def shape(df: DataFrame): Map[String, Int] = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case x => x
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val self = unwrap(p).collect { case n => n }
      self ++ self.flatMap(_.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .flatMap(kind).groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Gate comparison, shared by plan_guard.py's semantics and
    * PlanBudgetSpec's in-suite checks: a query REGRESSES when any gated
    * kind exceeds its budget (absent = 0). `wscg` and `reused_*` are
    * informational: more codegen spans is not a regression, and the
    * initial plan this reads holds no runtime reuse to count. */
  val informational: Set[String] = Set("wscg", "reused_exchange")
  def exceedances(got: Map[String, Int],
      budget: Map[String, Int]): Seq[(String, Int, Int)] =
    (got.keySet ++ budget.keySet).toSeq.sorted
      .filterNot(informational)
      .map(k => (k, got.getOrElse(k, 0), budget.getOrElse(k, 0)))
      .filter { case (_, g, b) => g > b }

  /** Dump per-query shapes as JSON: `runMain graft.PlanStats <sfDir>
    * <outPath> [qname,qname,...]`. The full-suite dump at sf0.001 IS the
    * budget-derivation run (copy to tools/plan_budget.json). */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "/tmp/plan_shapes.json"
    val only = if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.all
      .filter(q => only.isEmpty || only(q.name))
      .map { q =>
        val s = try shape(q.fn(spark, sfDir)) catch {
          case e: Exception =>
            System.err.println(s"[planstats] ${q.name} FAILED: $e")
            Map("ERROR" -> 1)
        }
        GraftSession.releaseQueryState(spark, blocking = true)
        val body = s.toSeq.sorted
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        System.err.println(s"[planstats] ${q.name} {$body}")
        s"""  "${q.name}": {$body}"""
      }
    val json = rows.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"wrote ${rows.size} query shapes to $outPath")
    spark.stop()
  }
}
