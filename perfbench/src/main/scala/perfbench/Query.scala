package perfbench

import graft.api.Collection
import graft.core.Closed
import graft.engine.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Interval and time-travel reads beside a trickle of appends. */
object Query {
  val SeriesN = 4
  val Rows = 500000L
  val PageLen = 25000L
  val Overwrites = 1
  // request widths in rows: fixed lists the seed only orders, so every
  // cycle covers the same number of rows
  val Narrow = (1 to 16).map(_ * 3000L)
  val Travel = Seq(10000L, 40000L)
  val Wide = 375000L

  /** state of every series right after one set-up commit */
  final case class Snapshot(beforeMs: Long, models: Vector[SeriesModel])

  private def ts(k: Long) = java.sql.Timestamp.from(
    java.time.Instant.ofEpochSecond(Gen.BaseSec + k))
  private def sqlTs(k: Long) =
    java.time.Instant.ofEpochSecond(Gen.BaseSec + k).toString
      .replace("T", " ").stripSuffix("Z")

  /** k range [lo, hi] selected by a closed flag over bounds lo..hi */
  private def rangeOf(lo: Long, hi: Long, c: Closed): (Long, Long) =
    (if (c.left) lo else lo + 1, if (c.right) hi else hi - 1)

  private def agg(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("value")), lit(0.0))).head()
    (r.getLong(0), r.getDouble(1))
  }

  def run(spark: SparkSession, args: Args, report: Report): Unit = {
    val in = new Inputs(spark, args.cpus)
    var wid = 0L
    def nextW(): Long = { wid += 1; wid }
    val setupRng = new scala.util.Random(args.seed)

    // set-up: SeriesN series of Rows rows at PageLen-row segments, then
    // Overwrites rounds of partial overwrites, one revision each. Built
    // once: a build costs 4-13 s (its commits), too much to repeat
    // within the run budget
    def build(): (Path, Collection, Vector[Target], Vector[Snapshot]) = {
      val root = args.work.resolve("query-store")
      Ingest.rmTree(root)
      val r = Ingest.repo(spark, root, args.trace)
      val c = r.createCollection(Ingest.PgSchema, "q", pageLen = Some(PageLen))
      val targets = (0 until SeriesN).map(j => new Target(c, s"s$j", false)).toVector
      wid = 0
      val snaps = Vector.newBuilder[Snapshot]
      def commit(t: Target, lo: Long, hi: Long): Unit = {
        val w = nextW()
        t.series.write(in.sorted(false, lo, hi, w), presorted = true)
        t.model.write(lo, hi, w)
        // one revision per millisecond, so `beforeMs` names it exactly
        Thread.sleep(2)
        snaps += Snapshot(System.currentTimeMillis(), targets.map(_.model.copy()))
        Thread.sleep(2)
      }
      targets.foreach(t => commit(t, 0, Rows - 1))
      for (_ <- 0 until Overwrites; t <- targets) {
        val n = 10000 + setupRng.nextInt(190001)
        val lo = (setupRng.nextDouble() * (Rows - n)).toLong
        commit(t, lo, lo + n - 1)
      }
      (root, c, targets, snaps.result())
    }
    var built: (Path, Collection, Vector[Target], Vector[Snapshot]) = null
    val buildS = Loop.time { built = build() }
    val (root, coll, targets, snaps) = built
    // revisions for time travel come from the changelog itself: each
    // set-up snapshot must name exactly one of its revisions
    val revs = coll.changelog.log().map(_.epochMs).sorted
    val travel = snaps.dropRight(1).filter { s =>
      revs.count(_ < s.beforeMs) == snaps.indexOf(s) + 1
    }
    require(travel.size == snaps.size - 1,
      s"changelog has ${revs.size} revisions for ${snaps.size} set-up commits")

    spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g.path", root.toUri.toString)

    // warm-up: a frame read and a SQL read, untimed, on the built store
    val warm = Loop.time {
      agg(targets.head.series.frame(ts(0), ts(1000)))
      spark.sql(s"SELECT count(*) FROM g.q.s0 WHERE ts BETWEEN " +
        s"TIMESTAMP '${sqlTs(0)}' AND TIMESTAMP '${sqlTs(10)}'").collect()
    }
    report.setup("build_s") = buildS
    report.setup("warmup_s") = warm
    report.setup("setup_s") = report.setup("session_s").asInstanceOf[Double] +
      buildS + warm

    // Zipf(1.1) over series
    val zw = (1 to SeriesN).map(i => 1.0 / math.pow(i, 1.1))
    val zc = zw.scanLeft(0.0)(_ + _).tail.map(_ / zw.sum)
    val rng = new scala.util.Random(args.seed * 31 + 7)
    def pick(): Target = targets(zc.indexWhere(_ >= rng.nextDouble()) max 0)
    val closes = Vector(Closed.Both, Closed.Left, Closed.Right, Closed.None_)

    def traceSegments(t: Target, lo: Long, hi: Long, c: Closed,
        beforeMs: Option[Long]): Unit = if (Tracer.enabled) {
      val segs = Tracer.span("api", "api.segments")(
        t.series.segments(ts(lo), ts(hi), beforeMs, c))
      Tracer.count("segments_per_read", segs.size)
      Tracer.count("segments_in_manifest",
        coll.manifest(beforeMs).map(_.rows.count(_.label == t.name)).getOrElse(0).toDouble)
    }

    def frameRead(rec: Recorder, cls: String, width: Long, snap: Option[Snapshot]): Unit = {
      val t = pick()
      val j = targets.indexOf(t)
      val model = snap.map(_.models(j)).getOrElse(t.model)
      val last = model.lastRow
      val w = math.min(width, last)
      val lo = (rng.nextDouble() * (last - w)).toLong
      val hi = lo + w
      val c = closes(rng.nextInt(closes.size))
      val (a, b) = rangeOf(lo, hi, c)
      val want = model.countSum(a, b)
      val before = snap.map(_.beforeMs)
      rec.run(cls, want._1) {
        traceSegments(t, lo, hi, c, before)
        val df = Tracer.span("api", "api.frame_build")(
          t.series.frame(ts(lo), ts(hi), beforeMs = before, closed = c))
        Tracer.span("spark", "spark.action")(agg(df))
      }(got => Checks.countSum(got, want))
    }

    Loop.timed(args, report) { (rec, i) =>
      val mix = rng.shuffle(Seq.fill(Narrow.size)("narrow") ++ Seq("wide") ++
        Seq.fill(Travel.size)("travel") ++ Seq("tail", "paginate", "reduce", "mask",
          "sql", "append_small"))
      val narrow = rng.shuffle(Narrow).iterator
      val travelW = rng.shuffle(Travel).iterator
      mix.foreach {
        case "narrow" => frameRead(rec, "read_narrow", narrow.next(), None)
        case "wide" => frameRead(rec, "read_wide", Wide, None)
        case "travel" =>
          frameRead(rec, "read_travel", travelW.next(),
            Some(travel(rng.nextInt(travel.size))))
        case "tail" =>
          val t = pick()
          val n = 5000
          val last = t.model.lastRow
          val want = t.model.countSum(last - n + 1, last)
          rec.run("read_tail", n) {
            val df = Tracer.span("api", "api.frame_build")(t.series.tail(n))
            Tracer.span("spark", "spark.action")(agg(df))
          }(got => Checks.countSum(got, want))
        case "paginate" =>
          val t = pick()
          val step = PageLen
          val lo = (rng.nextDouble() * (t.model.lastRow - 4 * step)).toLong
          val hi = lo + 4 * step
          val want = t.model.countSum(lo, lo + step - 1)
          rec.run("read_paginate", want._1) {
            val df = Tracer.span("api", "api.frame_build")(
              t.series.paginate(step, ts(lo), ts(hi), closed = Closed.Both).next())
            Tracer.span("spark", "spark.action")(agg(df))
          }(got => Checks.countSum(got, want))
        case "reduce" =>
          val t = pick()
          val lo = (rng.nextDouble() * (t.model.lastRow - 200000)).toLong
          val hi = lo + 125000
          val want = t.model.countSum(lo, hi)
          val days = (hi + Gen.BaseSec) / 86400 - (lo + Gen.BaseSec) / 86400 + 1
          rec.run("read_reduce", want._1) {
            val df = Tracer.span("api", "api.frame_build")(
              t.series.frame(ts(lo), ts(hi), closed = Closed.Both))
            val red = Tracer.span("engine", "engine.reduce_build")(
              Ops.reduce(df, Seq("day" -> "(floor self.ts 'D')",
                "n" -> "(count self.value)", "total" -> "(sum self.value)"), Seq("ts")))
            Tracer.span("spark", "spark.action")(red.collect().toSeq)
          }(rows => {
            val got = (rows.map(_.getAs[Long]("n")).sum,
              rows.map(_.getAs[Double]("total")).sum)
            if (rows.size != days) Some(s"${rows.size} day groups, expected $days")
            else Checks.countSum(got, want)
          })
        case "mask" =>
          val t = pick()
          val lo = (rng.nextDouble() * (t.model.lastRow - 200000)).toLong
          val hi = lo + 100000
          val want = t.model.countLowHalf(lo, hi)
          rec.run("read_mask", t.model.countSum(lo, hi)._1) {
            val g = Tracer.span("api", "api.frame_build")(
              t.series.gframe(ts(lo), ts(hi), closed = Closed.Both))
            val m = Tracer.span("engine", "engine.reduce_build")(
              g.mask("(< (% self.value 1000) 500)"))
            Tracer.span("spark", "spark.action")(m.df.count())
          }(got => Checks.countSum((got, 0.0), (want, 0.0)))
        case "sql" =>
          val t = pick()
          val lo = (rng.nextDouble() * (t.model.lastRow - 100000)).toLong
          val hi = lo + 50000
          val want = t.model.countSum(lo, hi)
          rec.run("read_sql", want._1) {
            val df = Tracer.span("sources", "sources.sql")(spark.sql(
              s"SELECT count(*) AS n, coalesce(sum(value), 0D) AS s FROM g.q.${t.name} " +
                s"WHERE ts BETWEEN TIMESTAMP '${sqlTs(lo)}' AND TIMESTAMP '${sqlTs(hi)}'"))
            val r = Tracer.span("spark", "spark.action")(df.head())
            (r.getLong(0), r.getDouble(1))
          }(got => Checks.countSum(got, want))
        case "append_small" =>
          val t = pick()
          val n = Ingest.AppendSizes(i % Ingest.AppendSizes.size)
          val w = nextW(); val lo = t.model.lastRow + 1; val hi = lo + n - 1
          rec.run("append_small", n) {
            val df = Tracer.span("bench", "bench.input")(in.local(false, lo, hi, w))
            Tracer.span("api", "api.write")(t.series.write(df))
          }(_ => None)
          t.model.write(lo, hi, w)
      }
    }

    report.info("series") = SeriesN
    report.info("rows_per_series") = Rows
    report.info("page_len") = PageLen
    report.info("user_bytes_per_row") = 16
    report.info("segments") = coll.manifest().map(_.rows.size).getOrElse(0)
    report.info("revisions") = coll.changelog.log().size
    report.info("stored_bytes") = Ingest.dirBytes(root)
    report.info("store_fs") = Env.fsType(root)
    report.info("manifest_cache_rows") =
      java.lang.Long.getLong("graft.manifestCacheRows", 2000000L)
    report.info("manifest_chunk_cache_rows") =
      java.lang.Long.getLong("graft.manifestChunkCacheRows", 4000000L)
  }
}
