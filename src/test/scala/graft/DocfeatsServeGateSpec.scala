package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}

/** The docfeats layer-SERVING size gate (r16 — the r15 verdict's one
  * real regression cluster): each gated dispatcher (dd01/dd05,
  * ta13–ta18, sp11) serves the LAYERED form iff the raw corpus crosses
  * `spark.graft.docfeats.serve.minRgBytes`, else the legacy (r14)
  * form. The suite session forces the gate OPEN (conf 0), so every
  * standing plan pin guards the at-scale layered shapes; this spec
  * pins the DISPATCH itself both ways — gate open ⇒ the plan reads the
  * docfeats layer, gate closed ⇒ it does not (and the legacy plan
  * still computes the same rows, which DocFeatsSpec pins exhaustively
  * under the open gate).
  */
class DocfeatsServeGateSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val GateConf = "spark.graft.docfeats.serve.minRgBytes"

  private def usesDocfeats(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("graft_prep_docfeats")

  private def withGateClosed[T](f: => T): T = {
    val prev = spark.conf.get(GateConf)
    // far above any corpus file's bytes-per-row-group: the gate closes
    spark.conf.set(GateConf, Long.MaxValue.toString)
    try f finally spark.conf.set(GateConf, prev)
  }

  private def dispatchers: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    Seq(
      "dd01" -> (() => Dedup.dd01(spark, dir)),
      "dd05" -> (() => Dedup.dd05(spark, dir)),
      "ta13" -> (() => TextAnalysis.ta13(spark, dir)),
      "ta14" -> (() => TextAnalysis.ta14(spark, dir)),
      "ta15" -> (() => TextAnalysis.ta15(spark, dir)),
      "ta16" -> (() => TextAnalysis.ta16(spark, dir)),
      "ta17" -> (() => TextAnalysis.ta17(spark, dir)),
      "ta18" -> (() => TextAnalysis.ta18(spark, dir)),
      "sp11" -> (() => Sampling.sp11(spark, dir)))

  test("gate open (suite default): gated dispatchers read the docfeats layer") {
    assert(spark.conf.get(GateConf) == "0", "suite must force the gate open")
    for ((name, q) <- dispatchers)
      assert(usesDocfeats(q()), s"$name: expected the layered (docfeats) plan")
  }

  test("gate closed: gated dispatchers serve the legacy plan, no docfeats read") {
    withGateClosed {
      for ((name, q) <- dispatchers)
        assert(!usesDocfeats(q()),
          s"$name: expected the legacy plan under a closed gate")
    }
  }

  test("ungated dispatchers stay layered regardless of the gate " +
      "(measured faster layered at both scales)") {
    withGateClosed {
      for ((name, q) <- Seq(
          "ta09" -> (() => TextAnalysis.ta09(spark, dir)),
          "ta12" -> (() => TextAnalysis.ta12(spark, dir)),
          "sp03" -> (() => Sampling.sp03(spark, dir)),
          "cp04" -> (() => Curation.cp04(spark, dir))))
        assert(usesDocfeats(q()), s"$name: must stay layered")
    }
  }

  test("gate closed: legacy-served rows equal the layered rows (all nine)") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val open = dispatchers.map { case (_, q) => rows(q()) }
    withGateClosed {
      for (((name, q), want) <- dispatchers.zip(open))
        assert(rows(q()) == want, s"$name row drift")
    }
  }
}
