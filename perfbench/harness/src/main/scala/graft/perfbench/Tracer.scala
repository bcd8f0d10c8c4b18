package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Task metrics summed over the tasks of one span. */
final class Fold {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  def add(o: Fold): Fold = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
    this
  }
}

/** Folds Spark task metrics per span. The tracer puts each span's id in
  * the job group ("spark.jobGroup.id") around the call it measures;
  * every job inherits the group of the span open on the calling thread.
  * Jobs that belong to a layer-build SQL execution (a bucketed
  * `saveAsTable` into a `graft_prep_*` table) fold under a separate key,
  * so a query span's own work and the layer builds it triggers are kept
  * apart. */
final class TaskFolder extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val buildExecs = ConcurrentHashMap.newKeySet[Long]()
  private val folds = new ConcurrentHashMap[String, Fold]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      // a layer build is a saveAsTable (its plan's root command) whose
      // arguments name a graft_prep_ table; the insert it runs is a child
      // execution. A query that reads a layer has a different root.
      val plan = e.physicalPlanDescription
      val root = plan.linesIterator.take(3).mkString(" ")
      val isBuild = plan.contains("graft_prep_") &&
        (root.contains("SaveAsV1TableCommand") ||
          root.contains("CreateDataSourceTableAsSelectCommand"))
      if (isBuild || e.rootExecutionId.exists(buildExecs.contains))
        buildExecs.add(e.executionId)
    case _ =>
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = {
    val props = job.properties
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val exec = Option(props.getProperty("spark.sql.execution.id"))
        .flatMap(_.toLongOption)
      val key = if (exec.exists(buildExecs.contains)) Tracer.buildKey(g) else g
      job.stageIds.foreach(stageKey.put(_, key))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val key = stageKey.get(t.stageId)
    val m = t.taskMetrics
    if (key != null && m != null) {
      val f = folds.computeIfAbsent(key, _ => new Fold)
      f.synchronized {
        f.tasks += 1
        f.cpuNs += m.executorCpuTime
        f.gcMs += m.jvmGCTime
        f.inputBytes += m.inputMetrics.bytesRead
        f.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        f.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        f.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def fold(key: String): Fold = Option(folds.get(key)).getOrElse(new Fold)
}

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, driverCpuNs: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Outside-in tracer: spans are opened by the benchmark around calls into
  * the program's public functions and kept in memory until the run ends.
  * Each span carries the driver thread's CPU time and the JVM's GC time
  * over its interval; the [[TaskFolder]] adds the executor-side task
  * metrics of the jobs it ran. */
final class Tracer(spark: SparkSession, val runId: String) {
  val folder = new TaskFolder
  spark.sparkContext.addSparkListener(folder)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val threads = ManagementFactory.getThreadMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", Tracer.group(runId, id))
    stack = id :: stack
    val (cpu0, gc0, t0) = (threads.getCurrentThreadCpuTime, gcMs, System.nanoTime())
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, runId, t0, t1,
        threads.getCurrentThreadCpuTime - cpu0, gcMs - gc0)
      stack = stack.tail
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
  }

  /** Wait for every task-end event of the finished spans to be folded. */
  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Task metrics of a span's own jobs (not its children's); `builds`
    * selects the layer-build jobs instead of the span's other jobs. */
  def fold(s: Span, builds: Boolean = false): Fold = {
    val g = Tracer.group(runId, s.id)
    folder.fold(if (builds) Tracer.buildKey(g) else g)
  }

  def json: String = spans.sortBy(_.id).map { s =>
    val f = fold(s)
    val b = fold(s, builds = true)
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""run":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${selfSeconds(s)},"driver_cpu_s":${s.driverCpuNs / 1e9},""" +
      s""""jvm_gc_s":${s.gcMs / 1e3},"tasks":${f.tasks},"task_cpu_s":${f.cpuNs / 1e9},""" +
      s""""input_bytes":${f.inputBytes},"shuffle_write_bytes":${f.shuffleWriteBytes},""" +
      s""""fetch_wait_s":${f.fetchWaitMs / 1e3},"spill_bytes":${f.spillBytes},""" +
      s""""build_tasks":${b.tasks},"build_task_cpu_s":${b.cpuNs / 1e9}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  def group(runId: String, id: Int): String = s"perfbench-$runId-$id"
  def buildKey(group: String): String = s"$group#build"
}
