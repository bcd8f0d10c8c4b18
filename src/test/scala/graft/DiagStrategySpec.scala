package graft

import org.scalatest.funsuite.AnyFunSuite

/** `DiagGoldenSpec`'s fixtures under other execution strategies: a
  * report must not depend on which one Spark picks. Spark itself drops
  * to interpreted evaluation when generated code fails to compile or a
  * plan is too wide, and AQE, the shuffle width and the join strategy
  * all change with the data and the session. So does whether a value
  * that is not a number fails the report. Each case sets its confs for
  * the one report and restores them afterwards.
  */
class DiagStrategySpec extends AnyFunSuite with SparkTestBase {

  private val strategies = Seq(
    "whole-stage codegen off" -> Map("spark.sql.codegen.wholeStage" -> "false"),
    "no codegen at all" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "1 shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "13 shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "13"),
    "no size-based broadcast" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  for ((strategy, confs) <- strategies; fixture <- DiagGoldenSpec.Fixtures)
    test(s"$fixture with $strategy: runRoots output equals the committed golden") {
      val fresh = withConfs(confs)(DiagGoldenSpec.report(spark, fixture))
      val golden = DiagGoldenSpec.load(fixture)
      assert(fresh.keySet == golden.keySet)
      fresh.toSeq.sortBy(_._1).foreach { case (name, text) =>
        assert(text == golden(name), s"$fixture/$name differs from its golden")
      }
    }

  for ((strategy, confs) <- strategies)
    test(s"with $strategy, a read cfstats value that is not a number fails the report") {
      val err = intercept[Throwable](
        withConfs(confs)(DiagReport.analyze(spark, DiagPipelineSpec.miniSizedInMiB())))
      val chain = DiagPipelineSpec.messages(err)
      assert(chain.contains(DiagPipelineSpec.NotANumberAt), chain)
      // and an unread line that is not a number does not
      withConfs(confs)(DiagReport.analyze(spark, DiagPipelineSpec.miniWithLevels()))
    }

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
