package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Canceled, Failed, Outcome, TestSuite}

/** Shared local session for specs (one JVM-wide session; Spark reuses it). */
trait SparkTestBase extends TestSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  /** With `GRAFT_REQUIRE_FULL=1` a cancelled test fails: an `assume` that
    * does not hold (a missing checkout or corpus) then shows as a failure
    * instead of a pass that tested nothing. */
  abstract override def withFixture(test: NoArgTest): Outcome =
    super.withFixture(test) match {
      case Canceled(e) if SparkTestBase.requireFull =>
        Failed(new RuntimeException(
          s"cancelled under GRAFT_REQUIRE_FULL=1: ${e.getMessage}", e))
      case other => other
    }
}

object SparkTestBase {
  private val requireFull = sys.env.get("GRAFT_REQUIRE_FULL").contains("1")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // force the corpus intake layers ON regardless of local corpus
      // size: the suite pins the AT-SCALE (production) plan shapes —
      // the runtime size gate (DedupPrepare.rawNeedsIntake) would
      // otherwise serve the tiny test corpora raw and the pins would
      // stop guarding the shapes that actually run at sf1.0/sf10. The
      // same gate picks docfeats layer SERVING, so the suite also pins
      // the layered dispatch; specs that pin the LEGACY dispatch set
      // the conf high (or unset it) locally and restore it
      .config("spark.graft.intake.minRgBytes", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
