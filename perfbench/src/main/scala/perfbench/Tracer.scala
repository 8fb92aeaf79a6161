package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where a Spark job came from: the first stack frame outside Spark,
  * Scala and the JDK. Pure string parsing, pinned by the self-test. */
object CallSite {
  private val framework = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
  private val frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$]+)\.(?:scala|java):\d+\)""".r
  private val short = """\bat ([\w$]+)\.(?:scala|java):\d+""".r

  /** First non-framework frame of a long-form call site (one frame per
    * line, `class.method(File.scala:N)`), as (class, file module). */
  def firstUserFrame(longForm: String): Option[(String, String)] =
    longForm.split("\n").iterator.flatMap(l => frame.findFirstMatchIn(l))
      .map(m => (m.group(1), m.group(2)))
      .find { case (cls, _) => !framework.exists(cls.startsWith) }

  /** Module of a short-form call site such as `collect at NswIndex.scala:850`. */
  def shortModule(shortForm: String): Option[String] =
    short.findFirstMatchIn(shortForm).map(_.group(1))
      .filterNot(Set("CompletableFuture", "ThreadPoolExecutor", "Thread"))
}

/** In-memory spans plus a SparkListener that records every job, its
  * stages' task metrics and the call site it was submitted from.
  *
  * Spans are the benchmark's own boundaries around each call into the
  * library: name, start, end, parent and operation id. Each public call
  * sets a job group naming its span, and every job is attributed to a
  * layer: the library module in its call site, or, when the first
  * non-framework frame is the benchmark itself (it forced a lazy frame
  * the library returned), the layer of the span that made the call. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var opId = -1

  private val execSites = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id.toLong)))
        .flatMap(CallSite.firstUserFrame)
        .map { case (cls, mod) => if (cls.startsWith("perfbench.")) "" else mod }
        .orElse(CallSite.shortModule(e.stageInfos.maxBy(_.stageId).name))
        .getOrElse("")
      val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), site, e.time)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      val m = e.taskMetrics
      rec.foreach { r =>
        r.synchronized {
          r.tasks += 1
          r.stages += e.stageId
          if (m != null) {
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.inputRows += m.inputMetrics.recordsRead
            r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Block until every event posted so far has been delivered. The bus
    * is asynchronous and `waitUntilEmpty` is private[spark] in the Scala
    * signature but public in bytecode, so it is reached reflectively. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def beginOp(): Int = { opId += 1; opId }

  /** Run `body` inside a span; `layer` is the library module the call
    * enters. The job group names the span so jobs can be matched back. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), opId,
      name, layer, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    val sc = spark.sparkContext
    sc.setJobGroup(groupOf(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Every recorded job with the span it belongs to: the span named by
    * its job group, else the innermost span open when it started. */
  def attributed(): Seq[(JobRec, Span)] = {
    drain()
    val byGroup = spans.map(s => groupOf(s.id) -> s).toMap
    jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      byGroup.get(j.group).orElse(
        spans.filter(s => s.startMs <= j.start && j.start <= s.endMs)
          .sortBy(s => -s.startNs).headOption).map(s => (j, s))
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Layer a job counts against: its call-site module, or the layer of
    * the span that forced it when the call site is benchmark code. */
  def layerOf(j: JobRec, s: Span): String = if (j.site.nonEmpty) j.site else s.layer

  /** Driver time of a span: wall time not covered by any running job. */
  def driverMs(s: Span, js: Seq[JobRec]): Double = {
    val wall = s.endMs - s.startMs
    (wall - Stats.coveredLength(js.map(j => (j.start, j.end)), s.startMs, s.endMs)).toDouble
  }

  /** The run's trace file: one JSON line per span, with its self time,
    * then one per attributed job. */
  def write(path: String, attributed: Seq[(JobRec, Span)]): Unit = {
    val self = selfNs(spans.toSeq.map(s => (s.id, s.parent, s.startNs, s.endNs)))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Main.json.writeValueAsString(ListMap("span" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "self_ms" -> self(s.id) / 1e6)))
      }
      attributed.foreach { case (j, s) =>
        w.println(Main.json.writeValueAsString(ListMap("job" -> j.id, "span" -> s.id, "layer" -> layerOf(j, s),
          "ms" -> j.ms, "stages" -> j.stages.size, "tasks" -> j.tasks,
          "input_rows" -> j.inputRows, "shuffle_bytes" -> j.shuffleBytes)))
      }
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
      startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = Long.MaxValue
  }

  final class JobRec(val id: Int, val group: String, val site: String, val start: Long) {
    @volatile var end: Long = start
    var tasks = 0L
    val stages = mutable.Set[Int]()
    var cpuNs = 0L
    var gcMs = 0L
    var inputRows = 0L
    var shuffleBytes = 0L
    def ms: Long = end - start
  }

  private def groupOf(id: Int) = s"perfbench-span-$id"

  /** Self time of each span given as (id, parent, start, end): its
    * duration minus the part of it that its child spans cover. */
  def selfNs(spans: Seq[(Int, Int, Long, Long)]): Map[Int, Long] = {
    val kids = spans.groupBy(_._2)
    spans.map { case (id, _, start, end) =>
      val c = kids.getOrElse(id, Nil).map(k => (k._3, k._4))
      id -> (end - start - Stats.coveredLength(c, start, end))
    }.toMap
  }
}
