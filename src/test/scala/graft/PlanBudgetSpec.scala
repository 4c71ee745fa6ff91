package graft

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Plan-shape regression gate (VERDICT r13 item 1): physical-plan node
  * budgets are the deterministic complement to bench_guard's wall-clock
  * comparison (which the doctrine documents as hostage to box weather).
  * Full gate = `runMain graft.PlanStats` + `tools/plan_guard.py` against
  * `tools/plan_budget.json` (all 243 queries, sf0.001); this spec keeps
  * two fast invariants inside `sbt test`:
  *   1. representative query shapes still fit their committed budgets;
  *   2. the gate MECHANISM catches a deliberately-degraded plan —
  *      removing a shuffle_hash hint (SMJ + sorts appear) is flagged.
  * The budgets count nodes of the AQE-INITIAL plan, before anything
  * runs. AQE decides exchange reuse at runtime, so the initial plan
  * lists both sides of a self-join and a lost reuse changes no count;
  * the budgets do not gate reuse. The q59 test below does, on the final
  * adaptive plan of an executed query.
  */
class PlanBudgetSpec extends SparkSpec {

  private lazy val budget: Map[String, Map[String, Int]] =
    JsonMethods.parse(new java.io.File("tools/plan_budget.json")) match {
      case JObject(qs) => qs.map { case (q, JObject(kinds)) =>
        q -> kinds.map { case (k, JInt(n)) => k -> n.toInt
                         case (k, v) => fail(s"bad budget $q.$k=$v") }.toMap
      case (q, v) => fail(s"bad budget entry $q=$v")
      }.toMap
      case other => fail(s"bad budget file: $other")
    }

  private val sfDir = "/root/testdata/sf0.001"

  test("representative queries stay within their committed plan budgets " +
    "(full 243-query gate: runMain graft.PlanStats + tools/plan_guard.py)") {
    // mixed bag: flagship agg, LSH fan-out, hinted self-join, IVF argmin,
    // digest dedup, the benchmarked capped self-joins — enough surface that a rule/strategy change in the
    // optimizer extensions trips the in-suite gate, not just the tool
    val names = Seq("q01_agg_pricing", "q50_dedup_exact", "q52_lsh_pairs",
      "q59_cosine_dups", "q88_rp_neardup", "q121_semdedup", "q141_ppjoin")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val exc = PlanStats.exceedances(PlanStats.shape(df), budget(n))
      assert(exc.isEmpty,
        s"$n exceeds plan budget: " +
          exc.map { case (k, g, b) => s"$k $g>budget $b" }.mkString(", "))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  test("every 256-per-bucket cap prunes map-side: q52, q59 and q141 plan " +
    "a WindowGroupLimit pair (partial + final) per in-plan cap") {
    // plan_guard.py fails only on counts ABOVE budget, so an observe()
    // slipped back between the cap's window and its filter (which blocks
    // the rewrite) would read there as an improvement note, not a failure.
    // Caps per plan: q59's and q141's capped frame is self-joined, and the
    // initial plan holds both sides (the exchange is reused at runtime).
    val caps = Map("q52_lsh_pairs" -> 1, "q59_cosine_dups" -> 2,
      "q141_ppjoin" -> 2)
    caps.foreach { case (n, k) =>
      val got = PlanStats.shape(SparkEntry.queries(n)(spark, sfDir))
        .getOrElse("window_limit", 0)
      assert(got >= 2 * k, s"$n: window_limit $got < ${2 * k} for $k cap(s)")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  test("fixed path: a second build of q52, q131, q143 and q55 launches no " +
    "Spark job (base relations reuse their inferred schema)") {
    // none of the four checkpoints or collects on the driver while it
    // builds, so once the first build has inferred each table's schema
    // (and filled any per-dir memo), building again is driver-only
    Seq("q52_lsh_pairs", "q131_heavy_hitters", "q143_cdc_chunks",
        "q55_cosine_knn").foreach { n =>
      val q = SparkEntry.queries(n)
      q(spark, sfDir)
      assert(jobsLaunchedBy(q(spark, sfDir)) == 0, s"$n: second build ran jobs")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  test("q59's capped self-join reuses its exchange at runtime: the final " +
    "adaptive plan holds a ReusedExchange") {
    // the Scale doc's self-join rule: one subtree aliased twice, so the
    // second side reads the first side's shuffle (measured 2x on q88
    // when a per-side difference broke it)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = SparkEntry.queries("q59_cosine_dups")(spark, sfDir)
    df.collect()
    val reused = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case r: ReusedExchangeExec => r }
    assert(reused.nonEmpty, "no ReusedExchange in q59's final plan:\n" +
      df.queryExecution.executedPlan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("negative: a lost shuffle_hash hint (SMJ + sorts replacing SHJ) " +
    "exceeds the hinted plan's budget — the gate catches hint removal") {
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(1000).withColumn("k", col("id") % 100)
      val b = spark.range(1000).withColumn("k", col("id") % 100)
        .withColumn("w", col("id") * 2)
      val hinted = a.join(b.hint("shuffle_hash"), "k")
      val degraded = a.join(b, "k")
      val hintedBudget = PlanStats.shape(hinted)
      assert(hintedBudget.getOrElse("shj", 0) == 1 &&
        hintedBudget.getOrElse("smj", 0) == 0,
        s"hinted plan not SHJ-shaped: $hintedBudget")
      // self-consistency: a plan never exceeds its own shape
      assert(PlanStats.exceedances(hintedBudget, hintedBudget).isEmpty)
      val exc = PlanStats.exceedances(PlanStats.shape(degraded), hintedBudget)
      assert(exc.exists(_._1 == "smj") && exc.exists(_._1 == "sort"),
        s"hint removal not caught: $exc")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }
}
