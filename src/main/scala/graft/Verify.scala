package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated prefix filter (same semantics as Bench's
    // SPARK_GRAFT_BENCH_ONLY): lets dev loops re-check one family, and
    // lets a big-SF verification shard the 88 queries across processes
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    selected.foreach { case (name, fn) =>
      // NonFatal only: an OOM must kill the run, not corrupt the
      // remaining queries' output in a heap-exhausted JVM
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist intermediates (dd03/dd06/dd08 signatures etc.)
      // and can't unpersist them before their own action completes —
      // release per query so 42 runs don't stack dead cached blocks
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
