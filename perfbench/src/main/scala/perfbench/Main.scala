package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** One timed operation: its class, latency, the user rows it wrote or
  * covered, and whether it threw or failed its check. */
final case class OpRec(cls: String, seconds: Double, rows: Long,
    ok: Boolean, err: String)

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, out: Path, corpus: Option[Path], cpus: Int)

/** Closed-loop op runner: times the operation (as a traced op when the
  * tracer is on), then checks its result outside the timed region. An
  * op that throws or fails its check counts as failed; nothing is
  * retried. With `alternate` set, every second op is traced and
  * recorded there instead. */
final class Recorder {
  val ops = ArrayBuffer.empty[OpRec]
  def failed: Int = ops.count(!_.ok)
  var alternate: Option[Recorder] = None
  private var n = 0L

  def run[T](cls: String, rows: Long)(op: => T)(
      check: T => Option[String]): Unit = {
    n += 1
    alternate match {
      case Some(traced) if n % 2 == 0 =>
        Tracer.enabled = true
        try traced.run(cls, rows)(op)(check) finally Tracer.enabled = false
      case _ =>
        val t0 = System.nanoTime()
        val res = try Right(Tracer.op(cls)(op)) catch {
          case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val err = res.fold(Some(_), r =>
          try check(r) catch { case e: Exception => Some(s"check threw: $e") })
        ops += OpRec(cls, dt, rows, err.isEmpty, err.orNull)
    }
  }
}

/** Results the JVM hands back to `run.py`, which turns them into the
  * metrics (see `perfbench/metrics.py`). */
final class Report {
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val checks = ArrayBuffer.empty[(String, Option[String])]
  val rec = new Recorder
  var timedWallS = 0.0
  var traced: Option[Recorder] = None
  var tracedWallS = 0.0
  val passes = ArrayBuffer.empty[Map[String, Double]]
  val tracedPasses = ArrayBuffer.empty[Map[String, Double]]
}

object Main {

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m.get("corpus").map(Paths.get(_).toAbsolutePath),
      m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  def session(args: Args): SparkSession = {
    val local = args.work.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    if (args.trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** VmHWM of this JVM, in MB */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = session(args)
    val report = new Report
    report.setup("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val jobs = new JobListener
    if (args.trace) {
      Tracer.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(jobs)
    }
    report.info("spark_version") = spark.version
    report.info("jdk") = System.getProperty("java.version")
    report.info("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576
    report.info("cpus") = args.cpus
    report.info("seed") = args.seed
    try args.workload match {
      case "ingest" => Ingest.run(spark, args, report)
      case "query" => Query.run(spark, args, report)
      case "pipeline" => Pipeline.run(spark, args, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Exception =>
        e.printStackTrace()
        report.checks += (("workload", Some(s"aborted: $e")))
    }
    if (args.trace) Tracer.enabled = false
    report.info("peak_rss_mb") = peakRssMb()
    val traceJson =
      if (args.trace) Some(TraceDump.json(jobs)) else None
    report.info("jvm_main_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Files.writeString(args.out, ReportJson.render(report, traceJson))
    spark.stop()
  }
}
