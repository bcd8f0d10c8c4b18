package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}

/** The corpus size gate (`spark.graft.intake.minRgBytes`, r15/r16): ONE
  * decision on `documents.parquet` picks both the intake form of
  * [[Tables.documents]] (the docsrc layer vs the raw file) and the
  * serving form of each gated dispatcher (dd01/dd05, ta13–ta18, sp11:
  * the docfeats-layered form vs the legacy (r14) form). The suite
  * session forces the gate OPEN (conf 0), so every standing plan pin
  * guards the at-scale layered shapes; this spec pins the DISPATCH
  * itself both ways — gate open ⇒ documents read the docsrc layer and
  * the dispatchers read docfeats, gate closed ⇒ neither (and the
  * legacy plans still compute the same rows, which DocFeatsSpec pins
  * exhaustively under the open gate) — and that the default gate also
  * decides on a directory-form (Spark-written) corpus.
  */
class DocfeatsServeGateSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val GateConf = "spark.graft.intake.minRgBytes"

  private def reads(df: org.apache.spark.sql.DataFrame, family: String): Boolean =
    df.queryExecution.optimizedPlan.toString.contains(s"graft_prep_$family")
  private def usesDocfeats(df: org.apache.spark.sql.DataFrame): Boolean =
    reads(df, "docfeats")

  private def withGate[T](value: Option[String])(f: => T): T = {
    val prev = spark.conf.get(GateConf)
    value.fold(spark.conf.unset(GateConf))(spark.conf.set(GateConf, _))
    try f finally spark.conf.set(GateConf, prev)
  }
  // far above any corpus file's bytes-per-row-group: the gate closes
  private def withGateClosed[T](f: => T): T =
    withGate(Some(Long.MaxValue.toString))(f)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def dispatchers(d: String): Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    Seq(
      "dd01" -> (() => Dedup.dd01(spark, d)),
      "dd05" -> (() => Dedup.dd05(spark, d)),
      "ta13" -> (() => TextAnalysis.ta13(spark, d)),
      "ta14" -> (() => TextAnalysis.ta14(spark, d)),
      "ta15" -> (() => TextAnalysis.ta15(spark, d)),
      "ta16" -> (() => TextAnalysis.ta16(spark, d)),
      "ta17" -> (() => TextAnalysis.ta17(spark, d)),
      "ta18" -> (() => TextAnalysis.ta18(spark, d)),
      "sp11" -> (() => Sampling.sp11(spark, d)))

  test("gate open (suite default): gated dispatchers read the docfeats layer") {
    assert(spark.conf.get(GateConf) == "0", "suite must force the gate open")
    assert(reads(Tables.documents(spark, dir), "docsrc"),
      "documents: expected the docsrc intake layer")
    for ((name, q) <- dispatchers(dir))
      assert(usesDocfeats(q()), s"$name: expected the layered (docfeats) plan")
  }

  test("gate closed: gated dispatchers serve the legacy plan, no docfeats read") {
    withGateClosed {
      assert(!reads(Tables.documents(spark, dir), "docsrc"),
        "documents: expected the raw file under a closed gate")
      for ((name, q) <- dispatchers(dir))
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
    val open = dispatchers(dir).map { case (_, q) => rows(q()) }
    withGateClosed {
      for (((name, q), want) <- dispatchers(dir).zip(open))
        assert(rows(q()) == want, s"$name row drift")
    }
  }

  test("default gate on a directory-form corpus: same rows as the forced-open gate") {
    // a Spark-written corpus (what LayerMaintenance.ingestBatch appends
    // to): documents.parquet is a DIRECTORY of part files, which the
    // gate's bytes-per-row-group read must sum over, not open as a file
    val d = java.nio.file.Files.createTempDirectory("graft_dircorpus").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .repartition(4).write.parquet(s"$d/documents.parquet")
    val docsOpen = rows(Tables.documents(spark, d))
    val dd01Open = rows(Dedup.dd01(spark, d))
    withGate(None) {
      assert(spark.conf.getOption(GateConf).isEmpty)
      assert(rows(Tables.documents(spark, d)) == docsOpen,
        "documents row drift under the default gate")
      assert(rows(Dedup.dd01(spark, d)) == dd01Open,
        "dd01 row drift under the default gate")
    }
  }
}
