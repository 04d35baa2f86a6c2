package perfbench

import graft.core.Store
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One timed region of the traced run. Times are nanoseconds on the
  * tracer's clock (see [[Tracer.nowNs]]); `layer` is the graft module
  * (or `spark` / `catalyst` / `bench`) the region belongs to. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long, thread: String)

/** Span recorder for the traced run. Spans nest through a
  * thread-local stack; the client thread's innermost span id is also
  * published as a Spark local property, so the jobs it launches can be
  * attributed to it. Everything stays in memory until [[TraceDump]]
  * writes it out.
  * Disabled, it records nothing and [[span]] is a plain call. */
object Tracer {
  @volatile var enabled = false
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  // nanoTime for span widths, anchored to wall-clock millis once so
  // Spark listener timestamps (epoch millis) share the same axis
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowNs: Long = System.nanoTime() - anchorNs
  def msToNs(epochMs: Long): Long = (epochMs - anchorMs) * 1000000L

  @volatile private var ctx: org.apache.spark.SparkContext = _
  def attach(sc: org.apache.spark.SparkContext): Unit = ctx = sc

  /** current (span id, op id) of this thread, (0, 0) outside any op */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Root span of one benchmark operation. */
  def op[T](name: String)(body: => T): T = region("bench", name, root = true)(body)

  def span[T](layer: String, name: String)(body: => T): T =
    region(layer, name, root = false)(body)

  private def region[T](layer: String, name: String, root: Boolean)(
      body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val (parent, op0) = current
    val op = if (root) id else op0
    stack.set((id, op) :: stack.get)
    publish(id, op)
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      stack.set(stack.get.tail)
      val (p, o) = current
      publish(p, o)
      record(Span(id, if (root) 0L else parent, op, layer, name, t0, t1,
        Thread.currentThread.getName))
    }
  }

  /** A region timed elsewhere (store calls). */
  def record(s: Span): Unit = spans.synchronized { spans += s }

  def nextId(): Long = ids.incrementAndGet()

  private val counts = ArrayBuffer.empty[(Long, String, Double)]
  /** a per-op quantity (segments touched, rows returned, ...) */
  def count(name: String, v: Double): Unit = if (enabled) {
    val op = current._2
    counts.synchronized { counts += ((op, name, v)) }
  }
  def countSnapshot(): Seq[(Long, String, Double)] =
    counts.synchronized(counts.toVector)

  private def publish(span: Long, op: Long): Unit = {
    val sc = ctx
    if (sc != null) {
      sc.setLocalProperty(SpanProp, if (span == 0) null else span.toString)
      sc.setLocalProperty(OpProp, if (op == 0) null else op.toString)
    }
  }

  def snapshot(): Seq[Span] = spans.synchronized(spans.toVector)
}

/** Per-job aggregate of the task metrics Spark reports, tagged with
  * the span that launched the job. */
final class JobStat(val jobId: Int, val span: Long, val op: Long,
    val startNs: Long) {
  var endNs: Long = startNs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inRows = 0L
  var inBytes = 0L
  var outRows = 0L
  var outBytes = 0L
}

/** SparkListener that folds task metrics into [[JobStat]]s. Jobs
  * started outside a traced op keep span 0 and count toward no op. */
final class JobListener extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  // listener-bus callbacks arrive after the fact, so they record
  // everything; the span/op properties tell traced jobs apart
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          .map(_.toLong).getOrElse(0L)
      val j = new JobStat(e.jobId, prop(Tracer.SpanProp),
        prop(Tracer.OpProp), Tracer.msToNs(e.time))
      j.stages = e.stageIds.size
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = Tracer.msToNs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)
         if e.taskMetrics != null) {
      val m = e.taskMetrics
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inRows += m.inputMetrics.recordsRead
      j.inBytes += m.inputMetrics.bytesRead
      j.outRows += m.outputMetrics.recordsWritten
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Seq[JobStat] = synchronized(jobs.values.toVector)
}

/** Catalyst phase timings of every executed statement
  * (`qe.tracker.phases`), kept as (statement, phase, startNs, endNs).
  * Installed through `spark.sql.queryExecutionListeners`, so every
  * session, `newSession()`s included, gets one; they share one log.
  * The callback arrives on the listener bus, so the summariser
  * attributes each statement to a traced span later, by time. */
final class PhaseListener extends QueryExecutionListener {
  private def note(qe: QueryExecution): Unit = {
    val id = PhaseListener.stmt.incrementAndGet()
    val ps = qe.tracker.phases.toSeq.map { case (name, t) =>
      (id, name, Tracer.msToNs(t.startTimeMs), Tracer.msToNs(t.endTimeMs))
    }
    PhaseListener.phases.synchronized { PhaseListener.phases ++= ps }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    note(qe)
  override def onFailure(f: String, qe: QueryExecution,
      e: Exception): Unit = note(qe)
}

object PhaseListener {
  private val phases = ArrayBuffer.empty[(Long, String, Long, Long)]
  private val stmt = new AtomicLong(0)
  def snapshot(): Seq[(Long, String, Long, Long)] = phases.synchronized(phases.toVector)
}

/** Counting and timing [[Store]] decorator, passed to
  * `new Repo(root, spark, store)`. Counters are JVM-global so task-side
  * copies (the trait is Serializable) count too in local mode; only
  * calls made inside a span become spans themselves. */
final class CountingStore(val back: Store) extends Store {
  import CountingStore._

  private def timed[T](kind: String, bytes: T => Long)(body: => T): T = {
    if (!Tracer.enabled) return body
    val (parent, op) = Tracer.current
    val t0 = Tracer.nowNs
    val r = body
    val t1 = Tracer.nowNs
    val c = counters(kind)
    c.n.incrementAndGet()
    c.bytes.addAndGet(bytes(r))
    c.ns.addAndGet(t1 - t0)
    if (parent != 0)
      Tracer.record(Span(Tracer.nextId(), parent, op, "core",
        s"core.store.$kind", t0, t1, Thread.currentThread.getName))
    r
  }

  def ls(dir: String): Seq[String] = timed[Seq[String]]("ls", _ => 0L)(back.ls(dir))
  def read(path: String): Array[Byte] =
    timed[Array[Byte]]("read", _.length.toLong)(back.read(path))
  def write(path: String, data: Array[Byte]): Boolean = {
    val fresh = timed[Boolean]("write", _ => data.length.toLong)(
      back.write(path, data))
    if (!fresh && Tracer.enabled) counters("write_dedup").n.incrementAndGet()
    fresh
  }
  def rm(path: String, recursive: Boolean): Unit =
    timed[Unit]("rm", _ => 0L)(back.rm(path, recursive))
  def mv(from: String, to: String): Unit =
    timed[Unit]("mv", _ => 0L)(back.mv(from, to))
  def exists(path: String): Boolean =
    timed[Boolean]("exists", _ => 0L)(back.exists(path))
  def walk(prefix: String): Seq[String] =
    timed[Seq[String]]("walk", _ => 0L)(back.walk(prefix))
  def uri(path: String): String = back.uri(path)
}

object CountingStore {
  final class Counter {
    val n = new AtomicLong(0)
    val bytes = new AtomicLong(0)
    val ns = new AtomicLong(0)
  }
  val kinds = Seq("read", "write", "write_dedup", "ls", "exists", "mv",
    "rm", "walk")
  val counters: Map[String, Counter] = kinds.map(_ -> new Counter).toMap

  def reset(): Unit = counters.values.foreach { c =>
    c.n.set(0); c.bytes.set(0); c.ns.set(0)
  }
}
