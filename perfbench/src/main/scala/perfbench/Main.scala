package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command line of one benchmark run (see run.py, which builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: String, work: String, tiny: Boolean, commit: String,
    tables: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), need("work"),
      m.getOrElse("size", "full") == "tiny", m.getOrElse("commit", "unknown"),
      m.getOrElse("tables", ""))
  }
}

/** State of one run: the session, the tracer and listener, and the raw
  * facts (timed operations, set-up times, counts, checks) that run.py
  * turns into metrics.
  */
final class Ctx(val args: Args) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val seed: Long = args.seed
  val tiny: Boolean = args.tiny
  val work: String = args.work
  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis().toDouble
  private var session: SparkSession = _
  val tracer = new Tracer(anchorNs, () => session.sparkContext)
  // one listener per SparkContext: job and stage ids restart with each one
  private val listeners = mutable.ArrayBuffer.empty[StageListener]

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val bulks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var recording = true
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private val sessionsStarted = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** The session at `cores` local threads; restarts Spark when the core
    * count changes (the extraction scaling leg).
    */
  def spark(cores: Int = nproc): SparkSession = {
    if (session != null && session.sparkContext.defaultParallelism == cores) return session
    if (session != null) {
      PerfbenchBus.drain(session.sparkContext)
      session.stop()
    }
    val t0 = System.nanoTime()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    listeners += new StageListener(anchorEpochMs, () => tracer.enabled)
    session.sparkContext.addSparkListener(listeners.last)
    sessionsStarted += Map("cores" -> cores, "start_s" -> (System.nanoTime() - t0) / 1e9)
    session
  }

  def elapsedS: Double = (System.nanoTime() - anchorNs) / 1e9

  /** Times one set-up repetition. */
  def setup[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    setups += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Times one operation of `kind` inside a root span. A thrown operation
    * is recorded as failed, with its reason, and its time is dropped.
    */
  def op[A](kind: String)(f: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"op/$kind")(f)
      lastOpMs = (System.nanoTime() - t0) / 1e6
      if (recording)
        ops += Map("kind" -> kind, "ms" -> lastOpMs, "ok" -> true, "traced" -> tracer.enabled)
      Some(r)
    } catch {
      case NonFatal(e) =>
        if (recording) ops += Map("kind" -> kind, "ok" -> false, "traced" -> tracer.enabled,
          "reason" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  /** Runs `f` as warm-up: its operations are neither timed nor counted. */
  def warmUp[A](f: => A): A = {
    recording = false
    try f finally recording = true
  }

  /** Wall time of the last operation that succeeded. */
  var lastOpMs: Double = 0.0

  /** One sample of a per-run quantity that run.py reports as a median. */
  def sample(name: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One bulk step: `items` processed in `seconds`. */
  def bulk(kind: String, items: Double, seconds: Double): Unit =
    if (recording) bulks += Map("kind" -> kind, "items" -> items, "seconds" -> seconds)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  /** Enables spans and the listener when this run is traced. */
  def traceOn(): Unit = if (args.trace) tracer.enabled = true

  def traceOff(): Unit = tracer.enabled = false

  def finish(conf: Map[String, String]): Map[String, Any] = {
    if (session != null) PerfbenchBus.drain(session.sparkContext)
    Map(
      "workload" -> args.workload, "seed" -> seed, "trace" -> args.trace,
      "size" -> (if (tiny) "tiny" else "full"), "seconds" -> args.seconds,
      "host" -> Host.probe(args.commit), "env" -> Host.graftEnv, "spark_conf" -> conf,
      "sessions" -> sessionsStarted.toSeq,
      "setup_s" -> setups.toSeq, "ops" -> ops.toSeq, "bulk" -> bulks.toSeq,
      "checks" -> checks.toSeq, "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "layer" -> layer.toMap, "info" -> info.toMap,
      "spans" -> tracer.spans, "jobs" -> listeners.flatMap(_.jobRecords).toSeq,
      "stages" -> listeners.flatMap(_.stageRecords).toSeq)
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val c = new Ctx(args)
    Files.createDirectories(Paths.get(args.work))
    val calBefore = Host.calibrate(c.nproc)
    val conf = try {
      args.workload match {
        case "extract" => ExtractWorkload.run(c)
        case "ingest-query" => QueryWorkloads.ingestQuery(c)
        case "upload-query" => QueryWorkloads.uploadQuery(c)
        case "battery" => BatteryWorkload.run(c)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      c.spark().conf.getAll
    } catch {
      case e: Throwable =>
        c.stop()
        throw e
    }
    val record = c.finish(conf)
    c.stop()
    val full = record + ("calibration" -> Map("before" -> calBefore,
      "after" -> Host.calibrate(c.nproc)))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args.out), mapper.writeValueAsString(full))
  }
}
