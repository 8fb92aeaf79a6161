package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run: the session, the run's
  * arguments, its scratch directory and (in a traced run) the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val tmp: String, val cores: Int, val traceFile: String) {
  var tracer: Option[Tracer] = None
  /** Wall seconds of each named set-up step, for the report. */
  val setupSteps = mutable.LinkedHashMap[String, Double]()

  def step[T](name: String)(body: => T): T = {
    val (r, ms) = Main.timed(body)
    setupSteps.synchronized(setupSteps(name) = ms / 1000.0)
    r
  }

  /** A span when tracing, a plain call otherwise. */
  def span[T](name: String, layer: String)(body: => T): T =
    tracer.fold(body)(_.span(name, layer)(body))

  /** [[Main.inParallel]] on at most `cores` threads. */
  def parallel[T](steps: (() => T)*): Seq[T] = Main.inParallel(cores)(steps: _*)

  def freshDir(name: String): String = {
    val d = new File(tmp, name)
    Main.deleteRecursively(d)
    d.mkdirs()
    d.getPath
  }
}

/** One operation's outcome: its kind, wall time, named sub-timings,
  * whether every correctness check on its output held, per-kind recall,
  * and the units of work it did. */
final case class Op(kind: String, ms: Double, parts: Map[String, Double], ok: Boolean,
    recall: Map[String, Double] = Map.empty, work: Double = 1.0)

/** What a workload reports: end-to-end metrics from the untraced phase,
  * per-layer metrics from the traced phase (traced runs only). */
final case class Outcome(endToEnd: Map[String, (Double, String)],
    perLayer: Map[String, Double], attempted: Long, failed: Long,
    report: Map[String, Any])

object Main {

  /** Writes the reports and traces: Scala maps, sequences and options as
    * JSON, doubles with every digit. */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  val endToEnd = Seq("setup_s" -> "s", "rss_peak_mb" -> "MB", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "work_per_s" -> "1/s", "recall_min" -> "1")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val tmp = opts("tmp")
    val cores = opts("cores").toInt
    val traceFile = opts.getOrElse("trace-out", s"$tmp/spans.jsonl")

    val pre = Preflight.start()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.EngineConf.recommended)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, seed, seconds, trace, tmp, cores, traceFile)
    val out = try workload match {
      case "query_serve" => QueryServe.run(ctx)
      case "maintain_mixed" => MaintainMixed.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } finally spark.stop()

    val rss = Preflight.vmHwmMb()
    val preflight = pre.finish()
    val e2e = out.endToEnd + ("rss_peak_mb" -> (rss, "MB"))
    val missing = endToEnd.map(_._1).filterNot(e2e.contains)
    require(missing.isEmpty, s"workload $workload did not report ${missing.mkString(", ")}")
    val metrics = if (trace) Layers.complete(out.perLayer) else e2e
    val correct = out.failed == 0
    def withUnits(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    println(json.writeValueAsString(Map("perfbench_report" -> (ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "end_to_end" -> withUnits(e2e), "preflight" -> preflight,
      "setup_steps_s" -> ctx.setupSteps) ++ out.report.toSeq.sortBy(_._1)))))
    println(json.writeValueAsString(ListMap("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> withUnits(metrics))))
    if (!correct) sys.exit(1)
  }

  /** Closed loop over whole units of work (a unit is one or more ops, so
    * every run holds the same mix of op kinds): run unit i, then the next
    * only if the time elapsed plus the last unit's duration stays within
    * `seconds` and fewer than `maxUnits` ran. At least one unit runs. */
  def closedLoop(seconds: Double, maxUnits: Int = Int.MaxValue)(unit: Int => Seq[Op]): Seq[Op] = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer[Op]()
    var units = 0
    var last = 0.0
    do {
      val u0 = System.nanoTime()
      ops ++= unit(units)
      units += 1
      last = (System.nanoTime() - u0) / 1e9
    } while (units < maxUnits && (System.nanoTime() - t0) / 1e9 + last <= seconds)
    ops.toSeq
  }

  /** Run independent set-up steps on up to `threads` driver threads and
    * wait for all; the first failure is rethrown. Only set-up overlaps:
    * every timed operation runs on the one client thread. */
  def inParallel[T](threads: Int)(steps: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(threads, steps.size))
    try {
      val fs = steps.map(s => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = s() }))
      fs.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The end-to-end metrics every workload derives the same way from its
    * ops (recall_min is the workload's own), and report entries. */
  def opMetrics(ops: Seq[Op], setupS: Double): (Map[String, (Double, String)], Map[String, Any]) = {
    val ms = ops.map(_.ms)
    val (tailV, tailN) = Stats.tail(ms)
    val wallS = ms.sum / 1000.0
    (Map("setup_s" -> (setupS, "s"), "op_p50_ms" -> (Stats.median(ms), "ms"),
      "op_tail_ms" -> (tailV, "ms"), "work_per_s" -> (ops.map(_.work).sum / wallS, "1/s")),
      Map("ops" -> ops.size, "op_ms" -> ops.map(o => ListMap(o.kind -> o.ms)),
        "op_tail_slowest_n" -> tailN,
        "op_quartiles_ms" -> (if (ms.size < 2) Nil else Stats.quartiles(ms).productIterator.toSeq),
        "recall_by_kind" -> recallByKind(ops)))
  }

  /** Mean recall of the ops' checked answers, per kind of answer. */
  def recallByKind(ops: Seq[Op]): Map[String, Double] =
    ops.flatMap(_.recall.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / v.size }

  /** Median of each named sub-timing across ops that recorded it. */
  def partMedians(ops: Seq[Op]): Map[String, Double] =
    ops.flatMap(_.parts.toSeq).groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }

  /** The library's size-derived index knobs at `n` rows, and whether `n`
    * is past the small-corpus floor where they start to grow with n. */
  def indexKnobs(spark: SparkSession, n: Long): Map[String, Any] = {
    import graft.index.{IvfIndex, NswIndex}
    ListMap("rows" -> n, "ivf_k" -> IvfIndex.kFor(spark, n),
      "nsw_degree" -> NswIndex.degreeFor(spark, n), "nsw_beam" -> NswIndex.beamFor(spark, n),
      "scale_regime" -> (n > NswIndex.autoFloorN))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytesAndFiles(path: String): (Long, Long) = {
    val s = Files.walk(Paths.get(path))
    try {
      var bytes = 0L; var files = 0L
      s.filter(p => Files.isRegularFile(p)).forEach { p =>
        bytes += Files.size(p); files += 1
      }
      (bytes, files)
    } finally s.close()
  }
}
