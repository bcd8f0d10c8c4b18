package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.parse.Parsers

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

/** Spark readers over a diagnostic snapshot tree
  * `<root>/nodes/<node-dir>/…` (SURVEY.md §2.1; layout per reference
  * README.md:119-146).
  *
  * Reading strategy: every file is read *whole* by one `binaryFile`
  * scan, so a file's lines stay in one task in order — the stateful
  * parsers in graft.parse then run per file inside `map`/`flatMap`, and
  * per-file state never crosses partitions (SURVEY.md §7.5). Diag files
  * are small (MBs); skew is bounded. Node identity is an exact lookup of
  * the scan's `path` column in the index listing.
  *
  * Discovery (listing node dirs) uses the Hadoop FileSystem API, so the
  * same code serves file:// and s3a:// roots; listing is driver-side
  * metadata only — contents flow through executors.
  */
object DiagSource {

  /** One-sweep file index of a diag root (r2 verdict "What's wrong" #3:
    * the per-(node, rel) `exists()` probes, per-candidate `spark.read`s
    * and the linear path→node scan were node-count-many sequential
    * namenode round-trips on a 10k-node snapshot). A single recursive
    * `listFiles` over `<root>/nodes` (+ one over `<root>/AdditionalLogs`)
    * captures every (node, rel → path) fact; all discovery below is then
    * O(1) map lookups, and path→node resolution in executors is an exact
    * lookup of the listed path.
    */
  final case class DiagIndex(
      nodes: Seq[String],
      files: Map[(String, String), String],
      addLogs: Seq[(String, String)]) {
    /** (node, fullPath) for every node that has `rel`, node-sorted. */
    def forRel(rel: String): Seq[(String, String)] =
      nodes.flatMap(n => files.get((n, rel)).map(n -> _))
    /** system* log files under logs/cassandra + the AdditionalLogs side
      * channel: (node, fullPath, isZip). */
    def logFiles: Seq[(String, String, Boolean)] = {
      val inTree = files.toSeq.collect {
        case ((n, rel), p) if rel.startsWith("logs/cassandra/") &&
          rel.stripPrefix("logs/cassandra/").split("\\.")(0) == "system" &&
          !rel.stripPrefix("logs/cassandra/").contains("/") => (n, p)
      }
      (inTree ++ addLogs).sorted.map { case (n, p) =>
        (n, p, isZip(p))
      }
    }
  }

  private val indexCache =
    scala.collection.concurrent.TrieMap.empty[String, DiagIndex]

  /** Strip the scheme so a listed child ("file:/a/b") and the qualified
    * sweep base meet on one prefix. */
  private def uriPath(p: String): String = new Path(p).toUri.getPath

  private def sweep(spark: SparkSession, base: Path): Seq[(String, String)] = {
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Nil
    else {
      val it = fs.listFiles(base, true)
      val out = Seq.newBuilder[(String, String)]
      // qualify: a relative root lists fully-qualified children, and the
      // prefix strip must compare like with like
      val baseUri = uriPath(fs.makeQualified(base).toString).stripSuffix("/")
      while (it.hasNext) {
        val st = it.next()
        val full = st.getPath.toString
        val rel = uriPath(full).stripPrefix(baseUri).stripPrefix("/")
        if (rel.nonEmpty) out += ((rel, full))
      }
      out.result()
    }
  }

  /** Drop a cached index (or all of them): the cache assumes a diag
    * tree is a static snapshot, so a caller that regenerates a tree at
    * the same path (fixture churn in tests, a re-pulled tarball) must
    * invalidate before re-analyzing or it reads the stale file list
    * (r3 ADVICE). `DiagReport.runRoots` does this per root. */
  def invalidate(root: String): Unit = indexCache.remove(root)
  def invalidateAll(): Unit = indexCache.clear()

  /** The per-root index, swept once per process (diag trees are assumed
    * STATIC SNAPSHOTS for the life of the cache entry; the cache is
    * keyed by the root string — see [[invalidate]] for trees that are
    * rewritten in place). */
  def index(spark: SparkSession, root: String): DiagIndex =
    indexCache.getOrElseUpdate(root, {
      val nodeFiles = sweep(spark, new Path(root, "nodes"))
        .flatMap { case (rel, full) =>
          val cut = rel.indexOf('/')
          if (cut < 0) None
          else Some((rel.substring(0, cut), rel.substring(cut + 1), full))
        }
      val add = sweep(spark, new Path(root, "AdditionalLogs"))
        .flatMap { case (rel, full) =>
          // AdditionalLogs/<node>/var/log/cassandra/system* (explore.py:1060-1066)
          val parts = rel.split("/")
          if (parts.length == 5 && parts(1) == "var" && parts(2) == "log" &&
            parts(3) == "cassandra" && parts(4).split("\\.")(0) == "system")
            Some((parts(0), full))
          else None
        }
      DiagIndex(
        nodes = nodeFiles.map(_._1).distinct.sorted,
        files = nodeFiles.map(t => (t._1, t._2) -> t._3).toMap,
        addLogs = add)
    })

  /** Node directory names under `<root>/nodes/`. */
  def nodeDirs(spark: SparkSession, root: String): Seq[String] =
    index(spark, root).nodes

  /** Rotated logs may be zipped (explore.py:311-316). */
  private def isZip(path: String): Boolean = path.endsWith(".zip")

  /** The lines of one diag file: the first member of a `.zip`, like the
    * reference (explore.py:313), else the file itself — UTF-8 either way. */
  private def lines(path: String, bytes: Array[Byte]): Iterator[String] = {
    val raw = new java.io.ByteArrayInputStream(bytes)
    val in =
      if (!isZip(path)) raw
      else {
        val zis = new ZipInputStream(raw)
        if (zis.getNextEntry == null) return Iterator.empty
        zis
      }
    val br = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    Iterator.continually(br.readLine()).takeWhile(_ != null)
  }

  /** (node, path, bytes) for listed (node, path) files, in one
    * `binaryFile` scan. The scan's `path` is the listing's
    * `Path.toString` byte for byte, so the node is an exact map-literal
    * lookup (plan-visible, inside codegen); a path the index did not
    * list fails the job rather than yield a null node. */
  private def read(spark: SparkSession, files: Seq[(String, String)])
      : Dataset[(String, String, Array[Byte])] = {
    import spark.implicits._
    val nodeOf = typedlit(files.map(_.swap).toMap)
    spark.read.format("binaryFile").load(files.map(_._2): _*)
      .select(
        coalesce(try_element_at(nodeOf, col("path")),
          raise_error(concat(lit("diag file not in the index: "), col("path")))),
        col("path"), col("content"))
      .as[(String, String, Array[Byte])]
  }

  /** (nodeDir, content) for every node's `<rel>` file that exists. */
  def wholeFiles(spark: SparkSession, root: String, rel: String): DataFrame = {
    import spark.implicits._
    val paths = index(spark, root).forRel(rel)
    if (paths.isEmpty)
      return spark.emptyDataset[(String, String)].toDF("node_dir", "content")
    read(spark, paths)
      // every line "\n"-terminated: `content.linesIterator` then yields
      // exactly the file's lines, a trailing blank one included
      .map { case (node, path, bytes) =>
        (node, lines(path, bytes).map(_ + "\n").mkString) }
      .toDF("node_dir", "content")
  }

  /** Whole content of one file, read driver-side (used only for the
    * small cluster-wide singleton files — no Spark job per probe). */
  private def readWhole(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** First node dir (sorted) that has `<rel>`, with content — the
    * reference's `initial_run` latch (explore.py:631-633, 722-724):
    * cluster-wide files (status, gossip, schema) are read from one node.
    */
  def firstFile(spark: SparkSession, root: String, rel: String): Option[String] =
    index(spark, root).forRel(rel).headOption
      .map { case (_, p) => readWhole(spark, p) }

  /** Content of a node's `<rel>` file, if the index saw one. */
  private def fileContent(spark: SparkSession, root: String, node: String,
      rel: String): Option[String] =
    index(spark, root).files.get((node, rel)).map(readWhole(spark, _))

  /** node_dir → ip: the dot-normalized dir name when it matches a status
    * ip ('_'/'-' → '.', explore.py:606-608); otherwise the reference's
    * gossip fallback (find_ip_addr, explore.py:251-263) — first line of
    * the node's own gossipinfo mentioning the dir name yields the ip.
    * Hostname-named node dirs resolve through the fallback instead of
    * silently losing their uptime join. */
  def nodeIpMap(spark: SparkSession, root: String,
      statusIps: Set[String]): Map[String, String] =
    nodeDirs(spark, root).flatMap { n =>
      val norm = n.replace('_', '.').replace('-', '.')
      val direct =
        if (statusIps.contains(n)) Some(n)
        else if (statusIps.contains(norm)) Some(norm)
        else None
      val ip = direct.orElse {
        fileContent(spark, root, n, "nodetool/gossipinfo").flatMap { c =>
          c.linesIterator.find(l => l.contains(n) && l.contains("/"))
            .map(l => Parsers.extractIp(l.split("/").last))
            .filter(_.nonEmpty)
        }
      }
      ip.map(n -> _)
    }.toMap

  // ------------------------------------------------------------ datasets

  /** status rows from the first node that has `nodetool/status`. */
  def status(spark: SparkSession, root: String): Dataset[StatusRow] = {
    import spark.implicits._
    firstFile(spark, root, "nodetool/status") match {
      case Some(content) =>
        spark.createDataset(Parsers.parseStatus(content.linesIterator).toSeq)
      case None => spark.emptyDataset[StatusRow]
    }
  }

  /** gossip blocks from the first node that has `nodetool/gossipinfo`. */
  def gossip(spark: SparkSession, root: String): Dataset[GossipNode] = {
    import spark.implicits._
    firstFile(spark, root, "nodetool/gossipinfo") match {
      case Some(content) => spark.createDataset(Parsers.parseGossip(content.linesIterator))
      case None => spark.emptyDataset[GossipNode]
    }
  }

  /** Cluster name from any node's `describecluster` (explore.py:644-649). */
  def clusterName(spark: SparkSession, root: String): String =
    firstFile(spark, root, "nodetool/describecluster")
      .flatMap(c => Parsers.getParam(c.linesIterator, "Name:", 1))
      .getOrElse("cluster")

  /** OSS release version from any node's `nodetool/version` (266-271). */
  def ossVersion(spark: SparkSession, root: String): String =
    firstFile(spark, root, "nodetool/version")
      .flatMap(_.linesIterator.toSeq.headOption.map(_.split(":")(1).trim))
      .getOrElse("OSS")

  /** Per-node uptime seconds + DC from `nodetool/info` (904, 1411-1419).
    * Small (one row per node) — callers broadcast it. */
  def nodeInfo(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    wholeFiles(spark, root, "nodetool/info").as[(String, String)]
      .map { case (node, content) =>
        val up = Parsers.getParam(content.linesIterator, "Uptime", 3)
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        val dc = content.linesIterator.find(_.contains("Data Center"))
          .map(l => l.split(":")(1).trim).getOrElse("")
        (node, up, dc)
      }.toDF("node_dir", "uptime_sec", "dc")
  }

  /** All nodes' cfstats (falling back to tablestats per node) as the
    * long-format TableMetric relation — the fact table (S5). */
  def cfstats(spark: SparkSession, root: String): Dataset[TableMetric] = {
    import spark.implicits._
    // which nodes have cfstats is index metadata (no FS probes) — the
    // fact files are read exactly once, in the union below
    val haveCf = index(spark, root).forRel("nodetool/cfstats").map(_._1).toSet
    val cf = wholeFiles(spark, root, "nodetool/cfstats")
    val ts = wholeFiles(spark, root, "nodetool/tablestats")
      .filter(!col("node_dir").isInCollection(haveCf.toSeq :+ ""))
    cf.unionByName(ts).as[(String, String)]
      .flatMap { case (node, content) =>
        Parsers.parseCfstats(node, content.linesIterator)
      }
  }

  /** All nodes' proxyhistograms (S6). */
  def proxyHist(spark: SparkSession, root: String): Dataset[ProxyHistRow] = {
    import spark.implicits._
    wholeFiles(spark, root, "nodetool/proxyhistograms").as[(String, String)]
      .flatMap { case (node, content) =>
        Parsers.parseProxyHist(node, content.linesIterator)
      }
  }

  /** Schema catalog from the first node's `driver/schema` (S7). Parsed
    * driver-side (one small file) — the resulting dimensions are tiny
    * and broadcast by the analysis layer. */
  def schema(spark: SparkSession, root: String, knownDcs: Seq[String]): Parsers.SchemaCatalog =
    firstFile(spark, root, "driver/schema")
      .map(c => Parsers.parseSchema(c.linesIterator, knownDcs))
      .getOrElse(Parsers.SchemaCatalog(Nil, Nil))

  /** GC + tombstone events from every node's `logs/cassandra/system*`
    * files (S8–S10), transparently decoding `.zip` members
    * (explore.py:311-316), plus the `AdditionalLogs/<node>/var/log/
    * cassandra/system*` side channel (1048-1066).
    */
  def logEvents(spark: SparkSession, root: String, tpTs: Long)
      : (Dataset[GcEvent], Dataset[TombstoneEvent]) = {
    import spark.implicits._
    val files = index(spark, root).logFiles
    if (files.isEmpty)
      return (spark.emptyDataset[GcEvent], spark.emptyDataset[TombstoneEvent])
    // persisted: both event streams fan out of one parse pass
    // (the reference re-reads the file instead — SURVEY.md §4)
    val all = read(spark, files.map(f => (f._1, f._2)))
      .map { case (node, path, bytes) =>
        val ev = Parsers.parseLog(node, lines(path, bytes), tpTs)
        (ev.gc, ev.tombstones)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (all.flatMap(_._1), all.flatMap(_._2))
  }
}
