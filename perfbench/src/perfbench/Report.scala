package perfbench

import scala.collection.mutable

import graft.news.DailyReport
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The daily-report workload: a seeded multi-day JSONL archive in the
  * reference's archive schema (768-dim embeddings), and
  * `DailyReport.run` for every measured day in turn with R1–R5
  * collected to the driver, as the reference's PDF renderer does. Day 1
  * is the warm-up report and belongs to set-up; days 2.. are measured.
  *
  * Traced, each report runs the public stage functions in `run`'s order
  * (slice, R1, R2, R2b, R3, R4, R5) with one span each.
  *
  * The report stores nothing, so here `stored_bytes_per_row` is the
  * archive's size per reported article: an input constant of the seed
  * that no engine change moves.
  */
class Report(spark: SparkSession, work: String, seed: Long, seconds: Int) {
  import Main._

  val PerDay = 600
  val Dim = 768
  /** Measured days: one report each. */
  val Days: Int = math.max(3, seconds / 2)

  private def archivePath(tag: String) = s"$work/$tag/archive.jsonl"

  private def writeArchive(tag: String): (Gen.ArchiveTruth, Long) = {
    val f = new java.io.File(archivePath(tag))
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
    val truth = try Gen.archive(seed, Days + 1, PerDay, Dim, w) finally w.close()
    (truth, f.length())
  }

  type Outputs = Map[String, Array[Row]]

  private def plain(path: String, date: String): Outputs = {
    val out = DailyReport.run(spark, path, date)
    Seq("r1_category_counts", "r2_keyword_counts", "r2b_top_keywords",
      "r3_article_list", "r4_clustering", "r5_noun_frequencies")
      .map(k => k -> out(k).collect()).toMap
  }

  private def traced(tr: Trace, path: String, date: String): Outputs = {
    val day = tr.span("news.report.read") {
      val d = DailyReport.daySlice(DailyReport.readArchive(spark, path), date).persist()
      d.count(); d
    }
    def r(span: String, key: String)(f: DataFrame => DataFrame) =
      key -> tr.span(span)(f(day).collect())
    val out = Map(
      r("news.report.r1", "r1_category_counts")(DailyReport.categoryCounts),
      r("news.report.r2", "r2_keyword_counts")(DailyReport.keywordCounts),
      r("news.report.r2b", "r2b_top_keywords")(DailyReport.topKeywords(_)),
      r("news.report.r3", "r3_article_list")(DailyReport.articleList),
      r("news.report.r4", "r4_clustering")(DailyReport.clustering),
      r("news.report.r5", "r5_noun_frequencies")(DailyReport.nounFrequencies))
    day.unpersist(blocking = true)
    out
  }

  /** Compare one report with the generator's truth; returns the
    * mismatches by name (empty when the report is right). */
  private def check(truth: Gen.ArchiveTruth, date: String, o: Outputs): Seq[String] = {
    def counts(rows: Array[Row]) = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = mutable.ArrayBuffer.empty[String]
    if (counts(o("r1_category_counts")) != truth.categoryCounts(date)) bad += "r1"
    if (counts(o("r2_keyword_counts")) != truth.keywordCounts(date)) bad += "r2"
    val top = truth.keywordCounts(date).values.toSeq.sorted.reverse.take(10)
    if (o("r2b_top_keywords").map(_.getLong(1)).toSeq != top) bad += "r2b"
    if (o("r3_article_list").length != truth.articles(date)) bad += "r3"
    if (o("r4_clustering").length != truth.withEmbedding(date)) bad += "r4"
    if (o("r5_noun_frequencies").isEmpty) bad += "r5"
    bad.toSeq
  }

  private final case class Pass(timed: Timed, bad: Map[String, Seq[String]])

  private def measure(truth: Gen.ArchiveTruth, bytes: Long, tag: String,
      trace: Option[Trace]): Pass = {
    val path = archivePath(tag)
    val days = truth.days.drop(1)
    trace.foreach(_.start("report_daily"))
    val cpu0 = cpuNs
    val times = mutable.ArrayBuffer.empty[Double]
    val bad = mutable.LinkedHashMap.empty[String, Seq[String]]
    days.foreach { date =>
      val s0 = System.nanoTime()
      val o = trace match {
        case Some(tr) => tr.span("report")(traced(tr, path, date))
        case None => plain(path, date)
      }
      times += (System.nanoTime() - s0) / 1e9
      val b = trace match {
        case Some(tr) => tr.span("bench.check")(check(truth, date, o))
        case None => check(truth, date, o)
      }
      if (b.nonEmpty) bad(date) = b
      spark.catalog.clearCache()
    }
    val wall = times.sum
    val cpuS = (cpuNs - cpu0) / 1e9
    trace.foreach(_.finish())
    val articles = days.map(truth.articles).sum
    val perArticle = bytes / truth.articles.values.sum
    Pass(Timed(times.toSeq, cpuS, wall, articles, perArticle * articles,
      Outcome(days.length.toLong, bad.size.toLong, Map.empty), Map.empty), bad.toMap)
  }

  /** One set-up: write the archive and run the warm-up report on day 1. */
  private def setup(tag: String): (Gen.ArchiveTruth, Long) = {
    val (truth, bytes) = writeArchive(tag)
    plain(archivePath(tag), truth.days.head)
    spark.catalog.clearCache()
    (truth, bytes)
  }

  def run(tracedRun: Boolean): Result = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var prepared: (Gen.ArchiveTruth, Long) = null
    val reps = setupReps(tracedRun)
    (1 to reps).foreach { k =>
      if (k > 1) deleteTree(s"$work/setup${k - 1}")
      val t0 = System.nanoTime()
      prepared = setup(s"setup$k")
      setups += (System.nanoTime() - t0) / 1e9
    }
    val (truth, bytes) = prepared
    val p = measure(truth, bytes, s"setup$reps", None)
    val info = Seq("days" -> truth.days.length, "per_day" -> PerDay,
      "archive_bytes" -> bytes, "setup_reps_s" -> setups.toSeq,
      "planted_share" -> truth.shares, "check" -> Map("failed_reports" -> p.bad),
      "report_s" -> p.timed.op)
    if (!tracedRun) {
      deleteTree(s"$work/setup$reps")
      Result(p.timed.outcome.attempted, p.timed.outcome.failed,
        endToEnd(setups.toSeq, p.timed), info)
    } else {
      val tr = new Trace(spark)
      val tp = measure(truth, bytes, s"setup$reps", Some(tr))
      val after = measure(truth, bytes, s"setup$reps", None)
      deleteTree(s"$work/setup$reps")
      val passes = Seq(p, tp, after).map(_.timed.outcome)
      Result(passes.map(_.attempted).sum, passes.map(_.failed).sum,
        perLayer(tr, tp.timed, p.timed, after.timed),
        info ++ Seq("traced_check" -> Map("failed_reports" -> tp.bad, "after" -> after.bad),
          "span_accounting_error_s" -> accountingError(tr),
          "traced_end_to_end" -> endToEnd(setups.toSeq, tp.timed).toMap.map { case (k, v) => k -> v._1 }),
        tr.spanLines)
    }
  }
}
