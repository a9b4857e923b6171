package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The query-suite workload: a fixed, named subset of
  * `graft.SparkEntry.queries` (every sixth query by name, listed with
  * its expected row count in `perfbench/query_suite.tsv`) on the
  * sf0.001 testdata copy in `perfbench/testdata`. Queries run in
  * `graft.Bench`'s order (by name) with its family-boundary
  * `clearCache`, each materialised through the `noop` sink; the row
  * count is read through `Dataset.observe`, with no extra job.
  *
  * Cold by construction: a run starts with the engine's four
  * artifact-cache roots deleted (a failed delete fails the run), and
  * every pass reads a fresh copy of the tables. The engine keys its
  * artifacts (and its in-JVM memos of them) by table path, size and
  * mtime, so a new copy builds every artifact again. A set-up is that
  * copy plus one warm-up query, as in `graft.Bench`.
  *
  * Traced, each query runs inside a span named `operators.<family>`
  * (the family with trailing digits stripped, as `graft.Bench` reports
  * it), so the listener counters split by family.
  */
class QuerySuite(spark: SparkSession, work: String, listFile: String, dataDir: String) {
  import Main._

  /** (query name, expected row count), in run order. */
  val expected: Seq[(String, Long)] = {
    val src = scala.io.Source.fromFile(listFile, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows) = l.split("\t")
      n -> rows.toLong
    }.toSeq.sortBy(_._1)
    finally src.close()
  }
  private val queries = graft.SparkEntry.queries

  private def copyData(dir: String): Unit = {
    val to = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(to)
    new java.io.File(dataDir).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, to.resolve(f.getName))
    }
  }

  /** One set-up: a fresh copy of the tables and the warm-up query. */
  private def setup(tag: String): String = {
    val dir = s"$work/$tag/data"
    copyData(dir)
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().count()
    dir
  }

  private final case class Ran(name: String, secs: Double, rows: Long, error: Option[String])

  /** One cold pass over the suite, on a table copy no pass read before. */
  private def pass(dir: String, trace: Option[Trace]): Timed = {
    val (markers0, bytes0) = QuerySuite.artifacts()
    trace.foreach(_.start("query_suite"))
    val cpu0 = cpuNs
    var prevFam = ""
    val ran = expected.map { case (name, _) =>
      val fam = QuerySuite.family(name)
      if (prevFam.nonEmpty && fam != prevFam) spark.catalog.clearCache()
      prevFam = fam
      val obs = new Observation(s"rows_$name")
      def body(): Unit = queries(name)(spark, dir).observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val err =
        try {
          trace match {
            case Some(tr) => tr.span(s"operators.${QuerySuite.reportFamily(name)}")(body())
            case None => body()
          }
          None
        } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t0) / 1e9
      Ran(name, secs, if (err.isEmpty) obs.get("rows").asInstanceOf[Long] else -1L, err)
    }
    val cpuS = (cpuNs - cpu0) / 1e9
    trace.foreach(_.finish())
    val want = expected.toMap
    val bad = ran.filter(r => r.error.nonEmpty || r.rows != want(r.name))
    val rows = ran.filter(_.rows > 0).map(_.rows).sum
    val (markers1, bytes1) = QuerySuite.artifacts()
    val (markers, bytes) = (markers1 - markers0, bytes1 - bytes0)
    Timed(ran.map(_.secs), cpuS, ran.map(_.secs).sum, rows, bytes,
      Outcome(ran.length.toLong, bad.length.toLong, Map(
        "result_rows" -> rows, "cold_builds" -> markers, "artifact_bytes" -> bytes,
        "wrong_queries" -> ListMap(bad.map(r =>
          r.name -> r.error.getOrElse(s"rows ${r.rows}, expected ${want(r.name)}")): _*))),
      Map("operators.cold_builds" -> markers.toDouble))
  }

  def run(traced: Boolean): Result = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var dir = ""
    val reps = setupReps(traced, untraced = 7) // a set-up takes about 0.25 s
    QuerySuite.wipeCaches()
    (1 to reps).foreach { k =>
      if (k > 1) deleteTree(s"$work/setup${k - 1}")
      val t0 = System.nanoTime()
      dir = setup(s"setup$k")
      setups += (System.nanoTime() - t0) / 1e9
    }
    val p = try pass(dir, None) finally deleteTree(s"$work/setup$reps")
    val info = Seq("queries" -> expected.length, "setup_reps_s" -> setups.toSeq,
      "check" -> p.outcome.details, "suite_s" -> p.wallS,
      "query_s" -> ListMap(expected.map(_._1).zip(p.op): _*))
    if (!traced) {
      Result(p.outcome.attempted, p.outcome.failed, endToEnd(setups.toSeq, p), info)
    } else {
      val tr = new Trace(spark)
      val (tp, after) = try {
        copyData(s"$work/traced")
        val tp = pass(s"$work/traced", Some(tr))
        copyData(s"$work/after")
        (tp, pass(s"$work/after", None))
      } finally Seq("traced", "after").foreach(t => deleteTree(s"$work/$t"))
      val passes = Seq(p, tp, after).map(_.outcome)
      val fams = QuerySuite.Families.flatMap { f =>
        Seq(s"operators.$f.wall_s" -> tr.spanSeconds(s"operators.$f"),
          s"operators.$f.cpu_s" -> tr.spanCounter(s"operators.$f", "exec.cpu_s"))
      }
      val allFams = expected.map(q => QuerySuite.reportFamily(q._1)).distinct
      val others = allFams.filterNot(QuerySuite.Families.contains)
      val extra = tp.extra ++ fams ++ Seq(
        "operators.other.wall_s" -> others.map(f => tr.spanSeconds(s"operators.$f")).sum,
        "operators.other.cpu_s" -> others.map(f => tr.spanCounter(s"operators.$f", "exec.cpu_s")).sum)
      Result(passes.map(_.attempted).sum, passes.map(_.failed).sum,
        // the first pass carries the fresh JVM's warm-up, so the overhead
        // is taken against the (warmer) pass after the traced one alone
        perLayer(tr, tp.copy(extra = extra.toMap), after, after),
        info ++ Seq("traced_check" -> tp.outcome.details, "after_check" -> after.outcome.details,
          "span_accounting_error_s" -> accountingError(tr),
          "traced_end_to_end" -> endToEnd(setups.toSeq, tp).toMap.map { case (k, v) => k -> v._1 }),
        tr.spanLines)
    }
  }
}

object QuerySuite {
  /** The engine's artifact-cache roots (as `graft.Bench` lists them). */
  val ArtifactRoots = Seq("/tmp/graft-artifact-cache", "/tmp/graft-postings-cache",
    "/tmp/graft-ivf-cache", "/tmp/graft-incpostings-cache")

  private val FamilyWall = "operators\\.(\\w+)\\.wall_s".r

  /** Families reported one by one (those with the largest share of the
    * suite's time); the rest are summed as `other`. */
  val Families: Seq[String] = Main.PerLayer.map(_._1).collect {
    case FamilyWall(f) if f != "other" => f
  }


  /** `graft.Bench`'s cache-hygiene family: the prefix before the first
    * `_`, with the m1/m2 twins (which share one cached view) as one. */
  def family(name: String): String = {
    val f = name.takeWhile(_ != '_')
    if (f.startsWith("m1") || f.startsWith("m2")) "ml" else f
  }

  /** Reporting family: the hygiene family with trailing digits stripped. */
  def reportFamily(name: String): String = family(name).replaceAll("[0-9]+$", "")

  /** Delete the four artifact-cache roots; throws if one is left. Only
    * before a run's first query: the engine's in-JVM memos point into them. */
  def wipeCaches(): Unit = ArtifactRoots.foreach { r =>
    Main.deleteTree(r)
    require(!new java.io.File(r).exists(), s"could not wipe the artifact cache $r")
  }

  /** Published artifacts (`_GRAFT_DONE` / `CURRENT` markers, as
    * `graft.Bench` counts cold builds) and bytes under the cache roots. */
  def artifacts(): (Int, Long) = {
    var markers = 0
    var bytes = 0L
    ArtifactRoots.map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_)).foreach { r =>
      val st = java.nio.file.Files.walk(r)
      try st.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
        val n = f.getFileName.toString
        if (n == "_GRAFT_DONE" || n == "CURRENT") markers += 1
        bytes += java.nio.file.Files.size(f)
      } finally st.close()
    }
    (markers, bytes)
  }
}
