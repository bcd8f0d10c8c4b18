package graft

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.{col, lit, raise_error, udf}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.sources.DiagSource

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.ExecutionException
import scala.jdk.CollectionConverters._

/** How a diag report gets from the tree to its tabs: the listing the
  * index is built from, reads driven by that index, and the concurrent
  * collect that ends `analyze`. */
class DiagReadPathSpec extends AnyFunSuite with SparkTestBase {

  /** `file:/abs/path` — how the Hadoop local FS prints a listed path. */
  private def hadoopPath(p: java.nio.file.Path): String =
    new Path(p.toAbsolutePath.toUri).toString

  for (fixture <- Seq("diag_mini", "diag_mini2"))
    test(s"$fixture: the index equals an independent walk of the tree") {
      val root = Paths.get(s"src/test/resources/$fixture")
      def walk(dir: java.nio.file.Path): Seq[(Seq[String], String)] =
        if (!Files.exists(dir)) Nil
        else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => (dir.relativize(p).iterator().asScala.map(_.toString).toSeq,
            hadoopPath(p))).toSeq
      val files = walk(root.resolve("nodes"))
        .map { case (parts, p) => (parts.head, parts.tail.mkString("/")) -> p }.toMap
      val addLogs = walk(root.resolve("AdditionalLogs")).collect {
        case (Seq(node, "var", "log", "cassandra", name), p)
            if name.split("\\.")(0) == "system" => (node, p)
      }
      DiagSource.invalidate(root.toString)
      val idx = DiagSource.index(spark, root.toString)
      assert(idx.files == files)
      assert(idx.nodes == files.keys.map(_._1).toSeq.distinct.sorted)
      assert(idx.addLogs.sorted == addLogs.sorted)
      assert(addLogs.nonEmpty == (fixture == "diag_mini"))
    }

  test("a node file deleted after indexing fails the report instead of dropping the node") {
    val src = Paths.get("src/test/resources/diag_mini")
    val root = Files.createTempDirectory("graft_gone").resolve("diag")
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = root.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val victim = root.resolve("nodes/10.0.0.2/nodetool/cfstats").toAbsolutePath.toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.gone.impl", classOf[GoneAfterListingFs].getName)
    GoneAfterListingFs.victim = Some(victim)
    val out = Files.createTempDirectory("graft_gone_out").resolve("report")
    val err =
      try intercept[Throwable](DiagReport.runRoots(spark, Seq(s"gone:$root"), out.toString))
      finally GoneAfterListingFs.victim = None
    assert(!Files.exists(Paths.get(victim)), "the file was listed, then deleted")
    val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => Option(e.getMessage).exists(_.contains(victim))),
      chain.map(_.toString).mkString("\n"))
    assert(!Files.exists(out.resolve("summary.json")))
  }

  test("the concurrent tab collect rethrows a failing tab's own exception") {
    val tabs = DiagReport.analyze(spark, "src/test/resources/diag_mini")
    val bad = spark.range(4).select(raise_error(lit("tab exploded")).as("x"))
    val direct = intercept[Throwable](bad.collect())
    val pooled = intercept[Throwable](DiagReport.collected(spark, Seq(tabs.nodeTable,
      tabs.workload, tabs.gc, tabs.tombstones, tabs.thresholds, bad, tabs.seenTables)))
    assert(!pooled.isInstanceOf[ExecutionException])
    assert(pooled.getClass == direct.getClass)
    assert(pooled.getMessage.contains("tab exploded"), pooled.getMessage)
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "diag-collect" && t.isAlive)
    assert(alive.isEmpty, alive.map(_.getName))
  }

  test("a failing tab cancels the other tabs' jobs instead of waiting for them") {
    val tabs = DiagReport.analyze(spark, "src/test/resources/diag_mini")
    val nap = udf { (x: Long) => Thread.sleep(30000); x }
    val slow = spark.range(1).select(nap(col("id")).as("x"))
    val bad = spark.range(4).select(raise_error(lit("tab exploded")).as("x"))
    val t0 = System.nanoTime
    val err = intercept[Throwable](
      DiagReport.collected(spark, Seq(slow, tabs.workload, tabs.gc, tabs.tombstones,
        tabs.thresholds, bad, tabs.seenTables)))
    val secs = (System.nanoTime - t0) / 1e9
    assert(err.getMessage.contains("tab exploded"), err.getMessage)
    assert(secs < 10, s"the failure surfaced after $secs s")
    eventually(timeout(Span(5, Seconds))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}

/** The local FS under the `gone:` scheme. Right after a listing returns
  * [[GoneAfterListingFs.victim]], it deletes that file: the file is in
  * the index, and gone by the time it is read. */
class GoneAfterListingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("gone:///")
  override def getScheme: String = "gone"
  override def listStatus(f: Path): Array[FileStatus] = {
    val listed = super.listStatus(f)
    listed.map(_.getPath.toUri.getPath).filter(GoneAfterListingFs.victim.contains)
      .foreach(p => Files.delete(Paths.get(p)))
    listed
  }
}

object GoneAfterListingFs {
  @volatile var victim: Option[String] = None
}
