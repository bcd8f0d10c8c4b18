package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The corpus fingerprint names every layer table, so its string must not
  * move when the listing under it changes: a moved fingerprint silently
  * orphans every standing layer and rebuilds them all. */
class CorpusFingerprintSpec extends AnyFunSuite with SparkTestBase {

  private def fp(dir: String, file: String) = {
    DedupPrepare.invalidate(dir)
    DedupPrepare.corpusFingerprint(spark, dir, file)
  }

  test("sf0.001 documents.parquet keeps its fingerprint string") {
    // the read-only sf0.001 corpus (TESTDATA.md). The fingerprint hashes
    // the file's mtime, which is whenever the corpus was provisioned on
    // this box, not part of its seed-42 bytes, so no literal can be
    // pinned. The expected string is the hash of the same file as
    // listed before `FsWalk` existed: `FileSystem.listFiles`, with the
    // entry format and hashing that listing used.
    val dir = Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString
    assume(Files.exists(Paths.get(dir, "documents.parquet")), "sf0.001 corpus not present")
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val listed = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      listed += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
    }
    val expected = f"${scala.util.hashing.MurmurHash3.orderedHash(listed.result().sorted)}%08x"
    assert(fp(dir, "documents.parquet") == expected)
  }

  test("a directory-form table hashes every data file under it: path, length, mtime") {
    val dir = Files.createTempDirectory("graft_fp")
    val table = dir.resolve("documents.parquet")
    Seq("part-0.parquet", "_SUCCESS", ".part-0.parquet.crc", "k=1/part-1.parquet",
      "k=2/sub/part-2.parquet")
      .zipWithIndex.foreach { case (rel, i) =>
        val p = table.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.write(p, Array.fill[Byte](i + 1)(1))
      }
    Files.createDirectories(table.resolve("empty"))
    def entry(p: Path) =
      s"file:$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    // the local FS is a checksum FS: it lists no `.<name>.crc` sidecar
    def sidecar(p: Path) = {
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }
    val expected = Files.walk(table).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !sidecar(p)).map(entry).toSeq.sorted
    assert(fp(dir.toString, "documents.parquet") ==
      f"${scala.util.hashing.MurmurHash3.orderedHash(expected)}%08x")
    assert(fp(dir.toString, "absent.parquet") ==
      f"${scala.util.hashing.MurmurHash3.orderedHash(Seq("absent"))}%08x")
  }
}
