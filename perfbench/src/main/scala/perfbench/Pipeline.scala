package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The training-data operator suite over a generated corpus: each pass
  * runs nine `SparkEntry.queries` in four families, in a fresh session
  * whose pinned intermediates are released when the pass ends. */
object Pipeline {
  val Families: Seq[(String, Seq[String])] = Seq(
    "text" -> Seq("q60_tfidf_terms", "q113_bm25"),
    "dedup" -> Seq("q23_lsh_pairs", "q152_simhash_pairs"),
    "dml" -> Seq("q188_sql_update", "q128_incremental_index"),
    "window" -> Seq("q82_funnel", "q175_topk_rewrite", "q14_window"))
  val Names: Seq[String] = Families.flatMap(_._2)
  def familyOf(q: String): String = Families.find(_._2.contains(q)).get._1

  /** order-free digest of a result, stable within one JVM */
  def digest(rows: Array[Row]): String =
    graft.core.Hash.sha1(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))

  /** free every block the pass pinned (checkpointed intermediates) */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def run(spark: SparkSession, args: Args, report: Report): Unit = {
    val dir = args.corpus.getOrElse(sys.error("pipeline needs --corpus")).toString
    val queries = SparkEntry.queries
    val missing = Names.filterNot(queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: $missing")

    /** one pass; per query: seconds and the result digest,
      * or the error it threw */
    def pass(onResult: (String, Array[Row], StructType, SparkSession) => Unit)
        : Map[String, (Double, Either[String, String])] = {
      val s = spark.newSession()
      val out = Names.map { q =>
        val t0 = System.nanoTime()
        val res = try Tracer.op(q) {
          Tracer.span("queries", s"queries.$q") {
            val df = queries(q)(s, dir)
            Right((df.collect(), df.schema))
          }
        } catch { case e: Exception => Left(s"$q threw $e") }
        val t = (System.nanoTime() - t0) / 1e9
        res.foreach { case (rows, schema) => onResult(q, rows, schema, s) }
        q -> (t, res.map(r => digest(r._1)))
      }.toMap
      release(spark)
      out
    }

    // The first pass of the process is measured cold, the way a run
    // over a new corpus in a new process meets it. It writes its
    // results out (untimed) for the DuckDB check in run.py, with the
    // oracle SQL beside them; later passes must reproduce them. A
    // traced run first runs one untimed pass, so that its untraced and
    // traced halves both measure warm passes.
    val results = args.work.resolve("results")
    var expected: Map[String, String] = Map.empty
    def keep(q: String, rows: Array[Row], schema: StructType, s: SparkSession): Unit =
      if (!expected.contains(q)) {
        s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
          .mode("overwrite").parquet(results.resolve(q).toString)
      }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }
    Files.writeString(args.work.resolve("oracle_sql.json"), ReportJson.value(oracles))
    def record(res: Map[String, (Double, Either[String, String])]): Unit =
      if (expected.isEmpty) expected = res.collect { case (q, (_, Right(d))) => q -> d }
    if (args.trace) report.setup("warmup_s") = Loop.time(record(pass(keep)))
    report.setup("setup_s") = report.setup("session_s").asInstanceOf[Double] +
      report.setup.get("warmup_s").map(_.asInstanceOf[Double]).getOrElse(0.0)

    Loop.timed(args, report, alternate = false) { (rec, _) =>
      val t0 = System.nanoTime()
      val res = pass(keep)
      record(res)
      report.info("pass_wall_s") = (System.nanoTime() - t0) / 1e9
      val times = res.map { case (q, (t, _)) => q -> t }
      Names.foreach { q =>
        val err = res(q)._2 match {
          case Left(e) => Some(e)
          case Right(d) if !expected.get(q).contains(d) =>
            Some(s"$q result differs from the checked first pass")
          case _ => None
        }
        rec.ops += OpRec(familyOf(q), times(q), 0, err.isEmpty, err.orNull)
      }
      val target = if (Tracer.enabled) report.tracedPasses else report.passes
      target += (times ++ Families.map { case (f, qs) => f -> qs.map(times).sum } +
        ("pass" -> Names.map(times).sum))
    }
    report.info("corpus") = dir
    report.info("queries") = Names
  }
}
