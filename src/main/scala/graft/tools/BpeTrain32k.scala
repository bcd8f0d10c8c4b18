package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The real model-scale BPE training RUN (r11 verdict #2) — converts the
  * one projected-not-run claim into a committed artifact:
  * `bpeMergesBatched` at k=64 to 32,768 merges over the sf1.0 word dict,
  * the resulting merge table written as a single deterministic parquet
  * under artifacts/ with its SHA-256 printed, then one ta17 run served
  * from the real vocabulary via the ta17With swap hook with fertility /
  * first-ids sanity printed.
  *
  * Usage: runMain graft.tools.BpeTrain32k [srcDir] [merges] [k] [outParquet]
  */
object BpeTrain32k {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("testdata/sf1.0")
    val target = args.lift(1).map(_.toInt).getOrElse(32768)
    val k = args.lift(2).map(_.toInt).getOrElse(64)
    val out = args.lift(3).getOrElse("artifacts/bpemerges_sf1_32k.parquet")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "24")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the engine's word dict: ws-tokenized corpus occurrences (the same
    // relation bpeMerges/bpeWords train and encode over — tok_split is
    // bit-exact split(lower(trim(text)), '\s+'))
    graft.functions.GraftFunctions.register(spark)
    val words = spark.read.parquet(s"$src/documents.parquet")
      .select(explode(call_function("tok_split", col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    println(s"corpus $src: ${words.distinct().count()} distinct words")

    val t0 = System.nanoTime()
    var lastLog = 0L
    val mg = TextAnalysis.bpeMergesBatched(spark, words, target, k,
      onScan = (scan, admitted, secs) => {
        val done = System.nanoTime()
        if ((done - lastLog) / 1e9 > 60 || scan <= 3) {
          lastLog = done
          println(f"TRAIN scan=$scan%d admitted=$admitted%d " +
            f"scan_s=$secs%.1f elapsed_min=${(done - t0) / 6e10}%.1f")
        }
      })
    val learned = mg.orderBy("rank").collect()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"TRAIN done: ${learned.length}%d merges, wall=${wall / 60}%.1f min")

    // deterministic single-file artifact: one row group, rank order
    import spark.implicits._
    val dir = new java.io.File(out).getAbsoluteFile.getParentFile
    dir.mkdirs()
    val tmp = out + ".spark_tmp"
    learned.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .toDF("rank", "l", "r").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map(new java.io.File(tmp, _))
    require(part.length == 1, s"expected 1 part file, got ${part.length}")
    val dst = new java.io.File(out)
    if (dst.exists()) dst.delete()
    java.nio.file.Files.move(part.head.toPath, dst.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(dst.toPath))
      .map("%02x".format(_)).mkString
    println(s"ARTIFACT $out rows=${learned.length} sha256=$sha")

    // serve ta17 once from the real vocabulary: encode the sf1.0 word
    // dict through the committed table, then the standard ta17 plan
    val t1 = System.nanoTime()
    val lex = TextAnalysis.bpeWordsFrom(spark, words.distinct(),
      spark.read.parquet(out))
    val ta17 = TextAnalysis.ta17With(spark, src, lex)
    val stats = ta17.agg(
      count(lit(1)).as("docs"),
      avg(col("bpe_per_tok")).as("fertility"),
      min(col("bpe_per_tok")).as("fmin"), max(col("bpe_per_tok")).as("fmax"),
      sum(col("n_bpe")).as("bpe_total"), sum(col("n_tokens")).as("tok_total"))
      .head()
    println(f"TA17@32k docs=${stats.getLong(0)}%d " +
      f"fertility=${stats.getDouble(1)}%.4f " +
      f"min=${stats.getDouble(2)}%.3f max=${stats.getDouble(3)}%.3f " +
      f"bpe=${stats.getLong(4)}%d toks=${stats.getLong(5)}%d " +
      f"serve_s=${(System.nanoTime() - t1) / 1e9}%.1f")
    println("TA17@32k sample: " + ta17.limit(3).collect().mkString(" | "))
    spark.stop()
  }
}
