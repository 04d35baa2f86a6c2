package perfbench

/** Minimal JSON rendering of the [[Report]] and the trace. */
object ReportJson {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def ops(r: Recorder): Seq[Map[String, Any]] = r.ops.toSeq.map { o =>
    Map("cls" -> o.cls, "s" -> o.seconds, "rows" -> o.rows, "ok" -> o.ok,
      "err" -> o.err)
  }

  def render(r: Report, trace: Option[String]): String = {
    val m = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup" -> r.setup, "info" -> r.info,
      "checks" -> r.checks.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "ops" -> ops(r.rec), "timed_wall_s" -> r.timedWallS,
      "passes" -> r.passes)
    r.traced.foreach { t =>
      m("traced_ops") = ops(t)
      m("traced_wall_s") = r.tracedWallS
      m("traced_passes") = r.tracedPasses
    }
    val body = value(m)
    trace match {
      case Some(t) => body.dropRight(1) + ",\"trace\":" + t + "}"
      case None => body
    }
  }
}

object TraceDump {
  /** Wait for the listener bus to deliver the run's last events: every
    * job ended and no new statement for a quiet interval. */
  private def drain(jobs: JobListener): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    var stable = 0
    while (System.nanoTime() < deadline && stable < 3) {
      Thread.sleep(100)
      val n = PhaseListener.snapshot().size
      val open = jobs.snapshot().exists(j => j.endNs == j.startNs)
      stable = if (n == last && !open) stable + 1 else 0
      last = n
    }
  }

  def json(jobs: JobListener): String = {
    drain(jobs)
    val spans = Tracer.snapshot().map { s =>
      Seq(s.id, s.parent, s.op, s.layer, s.name, s.startNs, s.endNs,
        s.thread)
    }
    val js = jobs.snapshot().map { j =>
      Map("job" -> j.jobId, "span" -> j.span, "op" -> j.op,
        "start" -> j.startNs, "end" -> j.endNs, "stages" -> j.stages,
        "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
        "sched_ms" -> j.schedMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill, "in_rows" -> j.inRows, "in_bytes" -> j.inBytes,
        "out_rows" -> j.outRows, "out_bytes" -> j.outBytes)
    }
    val ps = PhaseListener.snapshot().map { case (id, n, a, b) => Seq(id, n, a, b) }
    val store = CountingStore.counters.map { case (k, c) =>
      k -> Map("n" -> c.n.get, "bytes" -> c.bytes.get, "ns" -> c.ns.get)
    }
    val counts = Tracer.countSnapshot().map { case (op, n, v) => Seq(op, n, v) }
    ReportJson.value(Map("spans" -> spans, "jobs" -> js, "phases" -> ps,
      "counts" -> counts,
      "store" -> store, "span_fields" -> Seq("id", "parent", "op", "layer",
        "name", "start", "end", "thread")))
  }
}

/** The measured loop shared by the workloads: whole cycles until the
  * time is up. A traced run traces every second op (`alternate`), so
  * its traced and untraced ops share the same period and the
  * summariser can report the overhead; a workload whose ops are not
  * comparable one by one measures a first untraced half and a second
  * traced half instead. */
object Loop {
  def timed(args: Args, report: Report, alternate: Boolean = true)(
      cycle: (Recorder, Int) => Unit): Unit = {
    var i = 0
    def loop(rec: Recorder, seconds: Double): Double = {
      val t0 = System.nanoTime()
      def el = (System.nanoTime() - t0) / 1e9
      do { cycle(rec, i); i += 1 } while (el < seconds)
      el
    }
    val traced = new Recorder
    if (!args.trace) report.timedWallS = loop(report.rec, args.seconds)
    else if (alternate) {
      report.rec.alternate = Some(traced)
      CountingStore.reset()
      report.timedWallS = loop(report.rec, args.seconds)
      report.tracedWallS = traced.ops.map(_.seconds).sum
      report.traced = Some(traced)
    } else {
      report.timedWallS = loop(report.rec, args.seconds / 2)
      CountingStore.reset()
      Tracer.enabled = true
      report.tracedWallS = loop(traced, args.seconds / 2)
      Tracer.enabled = false
      report.traced = Some(traced)
    }
  }

  /** wall seconds of `body` */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
