package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration
import graft.model._
import graft.parse.Parsers

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import scala.reflect.ClassTag

/** Spark readers over a diagnostic snapshot tree
  * `<root>/nodes/<node-dir>/…` (SURVEY.md §2.1; layout per reference
  * README.md:119-146).
  *
  * Reading strategy: the index's `(node, path)` pairs are parallelized
  * straight into tasks. A task opens each of its files through the
  * Hadoop FileSystem API and reads it *whole*, so a file's lines stay in
  * one task in order; the stateful parsers in graft.parse run per file
  * in the task that reads it, and per-file state never crosses
  * partitions (SURVEY.md §7.5). Diag files are small (MBs); skew is
  * bounded. A file's node comes from its index pair, so nothing is
  * listed or stat-ed twice, and raw bytes never become a column.
  *
  * Discovery walks the tree with `listStatus` ([[FsWalk]]) through the
  * Hadoop FileSystem API, so the same code serves file:// and s3a://
  * roots; listing is driver-side metadata only — contents flow through
  * executors.
  */
object DiagSource {

  /** One-sweep file index of a diag root (r2 verdict "What's wrong" #3:
    * the per-(node, rel) `exists()` probes, per-candidate `spark.read`s
    * and the linear path→node scan were node-count-many sequential
    * namenode round-trips on a 10k-node snapshot). One recursive walk of
    * `<root>/nodes` (+ one of `<root>/AdditionalLogs`) captures every
    * (node, rel → path) fact; all discovery below is then O(1) map
    * lookups, and every read carries its node from the index pair.
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

  /** (rel, fullPath) of every file under `base`. */
  private def sweep(spark: SparkSession, base: Path): Seq[(String, String)] = {
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify: a relative root lists fully-qualified children, and the
    // prefix strip must compare like with like
    val baseUri = uriPath(fs.makeQualified(base).toString).stripSuffix("/")
    FsWalk.files(fs, base).flatMap { st =>
      val full = st.getPath.toString
      val rel = uriPath(full).stripPrefix(baseUri).stripPrefix("/")
      if (rel.nonEmpty) Some((rel, full)) else None
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

  /** `read` over the lines of one diag file: the first member of a
    * `.zip`, like the reference (explore.py:313), else the file itself —
    * UTF-8 either way. `read` must consume the lines before it returns;
    * the file is closed then. */
  private def withLines[T](conf: Configuration, path: String)
      (read: Iterator[String] => T): T = {
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    try {
      val in =
        if (!isZip(path)) raw
        else {
          val zis = new ZipInputStream(raw)
          if (zis.getNextEntry == null) return read(Iterator.empty)
          zis
        }
      val br = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      read(Iterator.continually(br.readLine()).takeWhile(_ != null))
    } finally raw.close()
  }

  /** `parse(node, lines)` for each listed (node, path) file, flattened.
    * The pairs are sliced over at most the session's default parallelism;
    * each task opens its own files, with the Hadoop conf shipped once as
    * a broadcast, and parses each in the task that reads it. A listed
    * file that is gone by then fails the job. */
  private def readEach[T: ClassTag](spark: SparkSession, files: Seq[(String, String)])
      (parse: (String, Iterator[String]) => Seq[T]): RDD[T] = {
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    sc.parallelize(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
      .flatMap { case (node, path) => withLines(conf.value.value, path)(parse(node, _)) }
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
    * Small (one row per node) — callers collect it once. */
  def nodeInfo(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(readEach(spark, index(spark, root).forRel("nodetool/info")) {
      (node, lines) =>
        val ls = lines.toSeq
        val up = Parsers.getParam(ls.iterator, "Uptime", 3)
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        val dc = ls.find(_.contains("Data Center"))
          .map(l => l.split(":")(1).trim).getOrElse("")
        Seq((node, up, dc))
    }).toDF("node_dir", "uptime_sec", "dc")
  }

  /** All nodes' cfstats (falling back to tablestats per node) as the
    * long-format TableMetric relation — the fact table (S5). */
  def cfstats(spark: SparkSession, root: String): Dataset[TableMetric] = {
    import spark.implicits._
    // which nodes have cfstats is index metadata (no FS probes) — each
    // node's fact file is read exactly once, in the one read below
    val idx = index(spark, root)
    val cf = idx.forRel("nodetool/cfstats")
    val haveCf = cf.map(_._1).toSet
    val ts = idx.forRel("nodetool/tablestats").filterNot(f => haveCf(f._1))
    spark.createDataset(readEach(spark, cf ++ ts) {
      (node, lines) => Parsers.parseCfstats(node, lines).toVector
    })
  }

  /** All nodes' proxyhistograms (S6). */
  def proxyHist(spark: SparkSession, root: String): Dataset[ProxyHistRow] = {
    import spark.implicits._
    spark.createDataset(readEach(spark,
      index(spark, root).forRel("nodetool/proxyhistograms")) {
      (node, lines) => Parsers.parseProxyHist(node, lines).toVector
    })
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
    val all = parsedLogs(spark, root, tpTs)
    (all.flatMap(_._1), all.flatMap(_._2))
  }

  /** One (GC events, tombstone events) row per log file, persisted: both
    * event streams fan out of this one parse pass (the reference re-reads
    * the file instead — SURVEY.md §4). The caller owns the cache. */
  private[graft] def parsedLogs(spark: SparkSession, root: String, tpTs: Long)
      : Dataset[(Seq[GcEvent], Seq[TombstoneEvent])] = {
    import spark.implicits._
    val files = index(spark, root).logFiles.map(f => (f._1, f._2))
    spark.createDataset(readEach(spark, files) { (node, lines) =>
      val ev = Parsers.parseLog(node, lines, tpTs)
      Seq((ev.gc, ev.tombstones))
    }).persist(StorageLevel.MEMORY_AND_DISK)
  }
}
