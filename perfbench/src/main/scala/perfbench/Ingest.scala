package perfbench

import graft.api.{Collection, Repo, Series}
import graft.core.{GSchema, HadoopStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Builds the generated input frames. graft only ever sees these. */
final class Inputs(spark: SparkSession, cpus: Int) {
  val Types = Seq("view", "click", "purchase", "signup", "error")

  private def cols(events: Boolean, k: org.apache.spark.sql.Column,
      w: Long) = {
    val ts = timestamp_seconds(lit(Gen.BaseSec) + k).as("ts")
    val value = ((k % 1000) + lit(1000L * (w % 1000))).cast("double").as("value")
    if (!events) Seq(ts, value)
    else Seq(ts, (k % 1500).as("user_id"),
      element_at(array(Types.map(lit): _*), (k % 5 + 1).cast("int"))
        .as("event_type"), value)
  }

  /** rows lo..hi in index order, spread over the session's cores */
  def sorted(events: Boolean, lo: Long, hi: Long, w: Long): DataFrame =
    spark.range(lo, hi + 1, 1, cpus).select(cols(events, col("id"), w): _*)

  /** the same rows, permuted inside and across partitions by a
    * bijection of `0 until n` (a projection, so no shuffle is paid
    * before graft sees the frame) */
  def unsorted(events: Boolean, lo: Long, hi: Long, w: Long): DataFrame = {
    val n = hi - lo + 1
    val k = lit(lo) + pmod(col("id") * lit(1000003L), lit(n))
    spark.range(0, n, 1, cpus).select(cols(events, k, w): _*)
  }

  /** a small driver-local batch (a LocalRelation), as a client sends */
  def local(events: Boolean, lo: Long, hi: Long, w: Long): DataFrame = {
    val rows = (lo to hi).map { k =>
      val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(Gen.BaseSec + k))
      val v = Gen.value(k, w)
      if (events) Row(ts, k % 1500, Types((k % 5).toInt), v) else Row(ts, v)
    }
    spark.createDataFrame(rows.asJava, if (events) Ingest.EvSchema.sparkSchema
      else Ingest.PgSchema.sparkSchema)
  }
}

/** One series under test with its last-write-wins model. */
final class Target(val collection: Collection, val name: String,
    val events: Boolean) {
  val series: Series = collection.series(name)
  val model = new SeriesModel
  def label = s"${collection.label}/$name"
  /** raw bytes of one user row: ts + value (+ user_id + event_type) */
  def rowBytes: Long = if (events) 8 + 8 + 8 + 5 else 8 + 8
}

object Ingest {
  val PgSchema = GSchema("ts" -> "timestamp*", "value" -> "float")
  val EvSchema = GSchema("ts" -> "timestamp*", "user_id" -> "int",
    "event_type" -> "str", "value" -> "float")
  val Page = 500000L
  val Initial = 200000L
  // per-cycle size lists: the seed orders them, so every cycle (and
  // every seed) writes the same number of rows. Small-append latency
  // grows with size; the five middle sizes are equal, so the median
  // append is a 400-row one on every run
  val AppendSizes = Seq(10L, 20L, 50L, 100L, 150L, 250L, 400L, 400L, 400L, 400L,
    400L, 700L, 1000L, 1300L, 1600L, 1800L, 2000L)
  val OverwriteSizes = Seq(200000L, 10000L, 100000L, 50000L) // <= Initial
  val Builds = 3

  def repo(spark: SparkSession, root: Path, trace: Boolean): Repo = {
    Files.createDirectories(root)
    val uri = root.toUri.toString
    if (trace) new Repo(uri, spark, new CountingStore(new HadoopStore(uri)))
    else new Repo(uri, spark)
  }

  def dirBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def rmTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Read every series back in index order (graft's ordered read,
    * `paginate`: `frame` imposes no order) and check order and values
    * against the series' model. */
  def verify(spark: SparkSession, targets: Seq[Target]): Seq[(String, Option[String])] =
    targets.map { t =>
      val pieces = t.model.segments.toArray
      val parts = t.series.paginate(8000000L).flatMap { page =>
        page.select(unix_seconds(col("ts")) - lit(Gen.BaseSec), col("value"))
          .rdd.mapPartitions { it =>
            Iterator(Checks.summarise(it.map(r => (r.getLong(0), r.getDouble(1))), pieces))
          }.collect()
      }.toSeq
      s"lww:${t.label}" -> Checks.series(parts, t.model)
    }

  def run(spark: SparkSession, args: Args, report: Report): Unit = {
    val in = new Inputs(spark, args.cpus)
    var wid = 0L
    def nextW(): Long = { wid += 1; wid }

    // set-up: a fresh repo holding Initial rows per series, built
    // three times (the first also warms the JVM); the last one is used
    def build(i: Int): (Path, Seq[Target]) = {
      val root = args.work.resolve(s"ingest-$i")
      rmTree(root)
      val r = repo(spark, root, args.trace)
      val pg = r.createCollection(PgSchema, "pg")
      val ev = r.createCollection(EvSchema, "ev")
      val ts = Seq(new Target(pg, "a", false), new Target(pg, "b", false),
        new Target(ev, "e", true))
      wid = 0
      ts.foreach { t =>
        val w = nextW()
        t.series.write(in.sorted(t.events, 0, Initial - 1, w), presorted = true)
        t.model.write(0, Initial - 1, w)
      }
      // a few small appends of each tier, so the timed ones meet a
      // warmed-up append path
      for (t <- ts; n <- Seq(10L, 400L, 2000L)) {
        val w = nextW(); val lo = t.model.lastRow + 1
        t.series.write(in.local(t.events, lo, lo + n - 1, w))
        t.model.write(lo, lo + n - 1, w)
      }
      (root, ts)
    }
    val builds = (0 until Builds).map { i =>
      var out: (Path, Seq[Target]) = null
      val s = Loop.time { out = build(i) }
      if (i < Builds - 1) rmTree(out._1)
      (s, out)
    }
    report.setup("build_s") = builds.map(_._1)
    report.setup("setup_s") = report.setup("session_s").asInstanceOf[Double] +
      Loop.median(builds.map(_._1))
    val (root, targets) = builds.last._2
    val collections = targets.map(_.collection).distinct

    // each cycle: one presorted page, one unsorted page and one
    // overwrite (rotating over the series) in seeded order; seventeen
    // small appends to seeded series in seeded order; a defrag of one
    // collection. The appends run as one block, so no seed puts more of
    // them than another right behind a large write
    val rng = new scala.util.Random(args.seed)
    def append(rec: Recorder, cls: String, t: Target, n: Long)(
        frame: (Long, Long, Long) => DataFrame, presorted: Boolean): Unit = {
      val w = nextW(); val lo = t.model.lastRow + 1; val hi = lo + n - 1
      rec.run(cls, n) {
        val df = Tracer.span("bench", "bench.input")(frame(lo, hi, w))
        Tracer.span("api", "api.write")(t.series.write(df, presorted = presorted))
      }(_ => None)
      t.model.write(lo, hi, w)
    }

    Loop.timed(args, report) { (rec, i) =>
      def rot(j: Int) = targets((i + j) % targets.size)
      val mix = rng.shuffle(Seq("write_presorted", "write_unsorted", "overwrite")) ++
        Seq.fill(AppendSizes.size)("append_small")
      val sizes = rng.shuffle(AppendSizes).iterator
      mix.foreach {
        case "write_presorted" =>
          val t = rot(0)
          append(rec, "write_presorted", t, Page)(in.sorted(t.events, _, _, _), true)
        case "write_unsorted" =>
          val t = rot(1)
          append(rec, "write_unsorted", t, Page)(in.unsorted(t.events, _, _, _), false)
        case "append_small" =>
          val t = targets(rng.nextInt(targets.size))
          append(rec, "append_small", t, sizes.next())(
            in.local(t.events, _, _, _), false)
        case "overwrite" =>
          val t = rot(2)
          val n = OverwriteSizes(i % OverwriteSizes.size)
          val lo = (rng.nextDouble() * (t.model.lastRow + 1 - n)).toLong
          val hi = lo + n - 1
          val w = nextW()
          rec.run("overwrite", n) {
            val df = Tracer.span("bench", "bench.input")(in.sorted(t.events, lo, hi, w))
            Tracer.span("api", "api.write")(t.series.write(df))
          }(_ => None)
          t.model.write(lo, hi, w)
      }
      val c = collections(i % collections.size)
      rec.run("defrag", 0)(Tracer.span("api", "api.defrag")(c.defrag()))(_ => None)
    }

    report.info("verify_s") = Loop.time(report.checks ++= verify(spark, targets))
    val live = targets.map(t => t.model.rows * t.rowBytes).sum
    report.info("live_rows") = targets.map(_.model.rows).sum
    report.info("live_user_bytes") = live
    report.info("user_bytes_per_row") = live.toDouble / targets.map(_.model.rows).sum
    report.info("stored_bytes") = dirBytes(root)
    report.info("series") = targets.size
    report.info("segments") = collections.map(_.manifest().map(_.rows.size).getOrElse(0)).sum
    report.info("revisions") = collections.map(_.changelog.log().size).sum
    report.info("store_fs") = Env.fsType(root)
  }
}

object Env {
  /** filesystem type of the mount holding `p`, from /proc/mounts */
  def fsType(p: Path): String = try {
    val real = p.toRealPath().toString
    scala.io.Source.fromFile("/proc/mounts").getLines()
      .map(_.split(" ")).filter(_.length > 2)
      .filter(f => real == f(1) || real.startsWith(f(1).stripSuffix("/") + "/"))
      .maxByOption(_(1).length).map(_(2)).getOrElse("unknown")
  } catch { case _: Exception => "unknown" }
}
