package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for specs (one JVM-wide session; Spark reuses it). */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
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
