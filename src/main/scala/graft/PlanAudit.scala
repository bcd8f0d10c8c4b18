package graft
import org.apache.spark.sql.SparkSession

/** Plan walks shared by production and the specs:
  * [[graft.operators.DedupPrepare.ensure]] rejects any layer build with
  * an unpartitioned window, and PlanBudgetSpec pins every query's
  * exchange count. The main dumps formatted plans
  * (`runMain graft.PlanAudit <query>...`) or, with `-counts`, the
  * exchange census that PlanBudgetSpec's budgets are regenerated from. */
object PlanAudit {

  /** Exchange census of a query's pre-AQE physical plan, by TREE WALK
    * (shared with PlanBudgetSpec so tool and gate can't drift). A tree
    * walk, not a toString grep: `InMemoryRelation` PRINTS its cached
    * child plan once per reference, so a textual count multiplies a
    * cached subplan's exchanges by its fan-out — a persisted 5-row
    * rate table read on two branches would read as double its real
    * exchange cost. The walk counts each node once and stops at
    * InMemoryTableScan leaves (the cached build is paid once, like a
    * DedupPrepare layer write). */
  def exchangeCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    // explicit walk: AdaptiveSparkPlanExec is a collect() leaf (its
    // inner plan is not a `children` member), so unwrap it by hand
    def walk(p: SparkPlan): Int = {
      val self = p match { case _: Exchange => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
  /** Unpartitioned window nodes in a plan — a `Window.orderBy` with no
    * `partitionBy` funnels the WHOLE relation through one task (Spark
    * logs `WindowExec: No Partition Defined` for it). The suite's
    * invariant since r8 is ZERO such nodes anywhere, including layer
    * builds ([[graft.operators.DedupPrepare.ensure]] enforces it at
    * write time; PlanBudgetSpec pins every query plan). Same tree walk
    * as [[exchangeCount]] so cached subplans count once. */
  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def walk(p: SparkPlan): Seq[String] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq(s"WindowExec[${w.windowExpression.map(_.sql).mkString(", ")}]")
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq("WindowGroupLimitExec")
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** (WindowExec count, WindowGroupLimitExec count) in the executed
    * plan — same tree walk as [[exchangeCount]]. Used to pin that every
    * rank-cap window in a layer build is bounded map-side by
    * InferWindowGroupLimit (≤cap rows per key leave a task) instead of
    * materializing the full per-key rank. */
  def windowNodeCensus(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def walk(p: SparkPlan): (Int, Int) = {
      val self = p match {
        case _: WindowExec => (1, 0)
        case _: WindowGroupLimitExec => (0, 1)
        case _ => (0, 0)
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      kids.map(walk).foldLeft(self) { case ((w, g), (w2, g2)) => (w + w2, g + g2) }
    }
    walk(df.queryExecution.executedPlan)
  }

  def main(args: Array[String]): Unit = {
    // same session shape as Bench so audited plans match benched plans
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // census the production plan shapes: force the corpus intake
      // layers, and with them docfeats serving, ON (same rationale as
      // SparkTestBase — the budgets pin the at-scale shapes, not the
      // tiny-corpus raw-file / legacy-dispatch fallback)
      .config("spark.graft.intake.minRgBytes", "0")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same env override as Bench: plan census at other scale factors
    // (the sf1.0 soak re-checks the budgets against real file stats)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if (args.headOption.contains("-counts")) {
      // exchange census over every registered query (pre-AQE initial
      // plans — deterministic), the input to PlanBudgetSpec's budgets;
      // an optional comma-separated prefix filter scopes a big-scale
      // census to the queries under audit (each plan build pays its
      // layer builds — at sf10 an unfiltered census pays all of them)
      val only = args.drop(1).headOption
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      for (name <- SparkEntry.queries.keys.toSeq.sorted
          if only.forall(_.exists(name.startsWith))) {
        val ex = exchangeCount(SparkEntry.queries(name)(spark, dir))
        println(s"COUNT $name $ex")
      }
    } else for (name <- args) {
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
