package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Frozen `DiagReport.runRoots` output for the two committed fixtures:
  * the `summary.json` bytes, every workbook CSV, and every parquet tab's
  * schema and rows in file order, under `src/test/resources/golden/`.
  *
  * Unlike GoldenReferenceSpec this needs no reference checkout, so it
  * runs everywhere. A deliberate output change regenerates the goldens
  * (`sbt "Test/runMain graft.DiagGoldenSpec"`) and says why in the
  * commit.
  */
class DiagGoldenSpec extends AnyFunSuite with SparkTestBase {

  for (fixture <- DiagGoldenSpec.Fixtures)
    test(s"$fixture: runRoots output equals the committed golden") {
      val fresh = DiagGoldenSpec.report(spark, fixture)
      val golden = DiagGoldenSpec.load(fixture)
      assert(fresh.keySet == golden.keySet)
      fresh.toSeq.sortBy(_._1).foreach { case (name, text) =>
        assert(text == golden(name), s"$fixture/$name differs from its golden")
      }
    }
}

object DiagGoldenSpec {
  val Fixtures = Seq("diag_mini", "diag_mini2")
  private val GoldenDir = Paths.get("src/test/resources/golden")

  /** A fresh report of one fixture as (golden file name → text). */
  def report(spark: SparkSession, fixture: String): Map[String, String] = {
    val out = Files.createTempDirectory(s"graft_golden_$fixture")
    DiagReport.runRoots(spark, Seq(s"src/test/resources/$fixture"), out.toString)
    dump(spark, out)
  }

  /** `summary.json` and the workbook CSVs as written; each parquet tab
    * as its schema line plus one JSON line per row, in file order. */
  private def dump(spark: SparkSession, out: Path): Map[String, String] = {
    def text(p: Path) = Files.readString(p, StandardCharsets.UTF_8)
    val workbook = Files.list(out.resolve("workbook")).iterator().asScala
      .map(p => s"workbook/${p.getFileName}" -> text(p)).toMap
    val tabs = Files.list(out).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString != "workbook")
      .map { p =>
        val df = spark.read.parquet(p.toString)
        val rows = df.collect().map(_.json)
        s"parquet/${p.getFileName}.rows" ->
          (df.schema.toDDL +: rows).mkString("", "\n", "\n")
      }.toMap
    Map("summary.json" -> text(out.resolve("summary.json"))) ++ workbook ++ tabs
  }

  def load(fixture: String): Map[String, String] = {
    val dir = GoldenDir.resolve(fixture)
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString ->
        Files.readString(p, StandardCharsets.UTF_8)).toMap
  }

  /** Regenerate every golden from the current engine. */
  def main(args: Array[String]): Unit = {
    val spark = SparkTestBase.session
    Fixtures.foreach { fixture =>
      val dir = GoldenDir.resolve(fixture)
      report(spark, fixture).foreach { case (name, text) =>
        val p = dir.resolve(name)
        Files.createDirectories(p.getParent)
        Files.writeString(p, text, StandardCharsets.UTF_8)
      }
    }
    spark.stop()
  }
}
