package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.MiniKafkaServer
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (`run.py` builds and launches it):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *     [--trace-file <file>] [--queries <query_suite.tsv> --data <testdata dir>]
  *
  * One workload per JVM. Prints a `run_info` JSON line, then as the last
  * line the result object (correct, attempted, failed, metrics). Exit
  * code 1 when an output check fails.
  */
object Main {
  val Workloads = Seq("ingest_backfill", "report_daily", "query_suite")
  /** Set-ups per run (`untraced` of them, 3 unless a workload's set-up is
    * short enough to need more for a steady median); `setup_s` is their
    * median. A traced run, which reports no `setup_s` and makes three
    * timed passes, sets up once. */
  def setupReps(traced: Boolean, untraced: Int = 3): Int = if (traced) 1 else untraced

  final case class Timed(op: Seq[Double], cpuS: Double, wallS: Double, rows: Long,
      storedBytes: Long, outcome: Outcome, extra: Map[String, Double])

  /** Operations attempted and failed by the output checks, with details. */
  final case class Outcome(attempted: Long, failed: Long, details: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val load0 = loadAvg
    val spark = session(work)
    val ok = try {
      val res = workload match {
        case "ingest_backfill" => new IngestRun(spark, work, seed, seconds).run(traced)
        case "report_daily" => new Report(spark, work, seed, seconds).run(traced)
        case "query_suite" => new QuerySuite(spark, work, opts("queries"), opts("data")).run(traced)
      }
      val info = Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "cold" -> true,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "load_start" -> load0, "load_end" -> loadAvg,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark_conf" -> ListMap(spark.sparkContext.getConf.getAll.toSeq.sorted
          .filter { case (k, _) => k == "spark.master" || k.startsWith("spark.sql.") }: _*)) ++
        res.info
      println(Json.obj(Seq("run_info" -> ListMap(info: _*))))
      println(Json.obj(Seq("correct" -> (res.failed == 0), "attempted" -> res.attempted,
        "failed" -> res.failed, "metrics" -> ListMap(res.metrics.map { case (k, (v, u)) =>
          k -> ListMap("value" -> v, "unit" -> u) }: _*))))
      opts.get("trace-file").filter(_ => res.spans.nonEmpty).foreach { f =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f),
          (res.spans.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      res.failed == 0
    } catch {
      case e: Throwable => e.printStackTrace(); false // no result line: the run failed
    } finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  final case class Result(attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))], info: Seq[(String, Any)],
      spans: Seq[String] = Nil)

  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics` "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
  }

  /** The end-to-end metrics every workload reports, by name and unit. */
  def endToEnd(setup: Seq[Double], t: Timed): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (median(setup), "s"),
    "cpu_s" -> (t.cpuS, "s"),
    "op_p50_s" -> (quantile(t.op, 0.5), "s"),
    "op_p95_s" -> (quantile(t.op, 0.95), "s"),
    "rows_per_s" -> (t.rows / t.wallS, "1/s"),
    "stored_bytes_per_row" -> (t.storedBytes.toDouble / math.max(1L, t.rows), "bytes"))

  /** Every per-layer metric name with its unit; a workload that does not
    * reach a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.plan_ms" -> "ms", "driver.codegen_compiles" -> "count",
    "driver.codegen_ms" -> "ms", "driver.aqe_replans" -> "count",
    "driver.jobs" -> "count", "driver.stages" -> "count", "driver.tasks" -> "count",
    "driver.gap_s" -> "s", "sched.delay_s" -> "s",
    "exec.cpu_s" -> "s", "exec.run_s" -> "s", "exec.gc_s" -> "s",
    "exchange.write_bytes" -> "bytes", "exchange.read_bytes" -> "bytes",
    "exchange.records" -> "count", "exchange.spill_bytes" -> "bytes",
    "scan.bytes" -> "bytes", "scan.records" -> "count",
    "write.bytes" -> "bytes", "write.records" -> "count", "write.files" -> "count",
    "sources.produce_ms" -> "ms",
    "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.batches" -> "count",
    "stream.rows_per_batch" -> "count",
    "udfs.enrich_s" -> "s",
    "streaming.state_read_s" -> "s", "streaming.span_gate_s" -> "s",
    "streaming.lsh_gate_s" -> "s", "streaming.decontam_gate_s" -> "s",
    "streaming.fresh_hashes_s" -> "s", "streaming.lsh_append_s" -> "s",
    "streaming.span_flagged" -> "ratio", "streaming.lsh_flagged" -> "ratio",
    "streaming.contaminated" -> "ratio",
    "news.upsert_s" -> "s", "news.upsert_inserted" -> "ratio",
    "news.upsert_skipped" -> "ratio", "news.state_files" -> "count",
    "news.state_bytes" -> "bytes",
    "news.report.read_s" -> "s", "news.report.r1_s" -> "s", "news.report.r2_s" -> "s",
    "news.report.r2b_s" -> "s", "news.report.r3_s" -> "s", "news.report.r4_s" -> "s",
    "news.report.r5_s" -> "s",
    "operators.cold_builds" -> "count",
    "operators.idx.wall_s" -> "s", "operators.idx.cpu_s" -> "s",
    "operators.dedup.wall_s" -> "s", "operators.dedup.cpu_s" -> "s",
    "operators.sim.wall_s" -> "s", "operators.sim.cpu_s" -> "s",
    "operators.m.wall_s" -> "s", "operators.m.cpu_s" -> "s",
    "operators.a.wall_s" -> "s", "operators.a.cpu_s" -> "s",
    "operators.sql.wall_s" -> "s", "operators.sql.cpu_s" -> "s",
    "operators.graph.wall_s" -> "s", "operators.graph.cpu_s" -> "s",
    "operators.t.wall_s" -> "s", "operators.t.cpu_s" -> "s",
    "operators.other.wall_s" -> "s", "operators.other.cpu_s" -> "s",
    "trace.wall_s" -> "s", "trace.unattributed_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_cpu_s" -> "s")

  /** Per-layer metrics of a traced pass, with the tracing overhead
    * against the mean of the untraced passes made before and after it
    * in the same JVM (bracketing cancels the JVM's warming between them). */
  def perLayer(tr: Trace, traced: Timed, before: Timed, after: Timed): Seq[(String, (Double, String))] = {
    val tot = tr.layerTotals
    val c = tr.counts
    val rowsIn = math.max(1.0, c.getOrElse("streaming.rows_in", 0.0))
    val offered = c.getOrElse("news.upsert_offered", 0.0)
    val ins = c.getOrElse("news.upsert_inserted", 0.0)
    val self = tr.selfTimes
    val spanS = Seq("udfs.enrich", "streaming.state_read", "streaming.span_gate",
      "streaming.lsh_gate", "streaming.decontam_gate", "streaming.fresh_hashes",
      "streaming.lsh_append", "news.upsert", "news.report.read", "news.report.r1",
      "news.report.r2", "news.report.r2b", "news.report.r3", "news.report.r4",
      "news.report.r5").map(n => s"${n}_s" -> tr.spanSeconds(n))
    val derived = Map(
      "streaming.span_flagged" -> c.getOrElse("streaming.span_flagged", 0.0) / rowsIn,
      "streaming.lsh_flagged" -> c.getOrElse("streaming.lsh_flagged", 0.0) / rowsIn,
      "streaming.contaminated" -> c.getOrElse("streaming.contaminated", 0.0) / rowsIn,
      "news.upsert_inserted" -> (if (offered > 0) ins / offered else 0.0),
      "news.upsert_skipped" -> (if (offered > 0) 1.0 - ins / offered else 0.0),
      "trace.wall_s" -> tr.wallSeconds,
      "trace.unattributed_s" -> self.find(_._1.parent < 0).map(_._2).getOrElse(0.0),
      "trace.overhead_s" ->
        (quantile(traced.op, 0.5) - (quantile(before.op, 0.5) + quantile(after.op, 0.5)) / 2),
      "trace.overhead_cpu_s" -> (traced.cpuS - (before.cpuS + after.cpuS) / 2)) ++ spanS
    val all = tot ++ traced.extra ++ derived
    PerLayer.map { case (n, u) => n -> (all.getOrElse(n, 0.0), u) }
  }

  /** Span accounting: the self times of all spans add up to the root's
    * wall time (children stay inside their parents and do not overlap). */
  def accountingError(tr: Trace): Double =
    math.abs(tr.selfTimes.map(_._2).sum - tr.wallSeconds)
}

/** The `ingest_backfill` workload (see [[Ingest]]). */
final class IngestRun(spark: SparkSession, work: String, seed: Long, seconds: Int) {
  import Ingest._
  import Main._

  /** An odd number of batches, so the median article sits inside one. */
  private val nEvents = (BackfillPerTrigger * (2 * (seconds / 10) + 1)).toInt
  private val gen = Gen.stream(seed, nEvents, "main")
  private val warm = Gen.stream(seed, WarmEvents, "warm")

  final class Prepared(val env: Env, val dirs: Dirs, val pos: Array[(Int, Long)], val produceMs: Double)

  /** One set-up: fresh broker and dirs, the pipeline warmed on one batch
    * of a topic of its own (through the traced replay when `tracedWarm`,
    * so a traced pass starts as warm as an untraced one), then the
    * backlog produced. */
  private def setup(tag: String, tracedWarm: Boolean): Prepared = {
    val base = s"$work/$tag"
    val env = new Env(new MiniKafkaServer(numPartitions = Partitions),
      evalShingles(spark, gen.evalPassages))
    produce(env.port, "warm", warm.events)
    val wt = if (tracedWarm) Some(new Trace(spark)) else None
    wt.foreach(_.start("warmup"))
    drain(spark, env, "warm", new Dirs(s"$base/warm"), WarmEvents, wt, mutable.Map.empty)
    wt.foreach(_.finish())
    val (pos, ns) = produce(env.port, Topic, gen.events)
    new Prepared(env, new Dirs(s"$base/main"), pos, ns / 1e6)
  }

  private def teardown(p: Prepared, tag: String): Unit = {
    p.env.close()
    deleteTree(s"$work/$tag")
  }

  /** The timed drain on a prepared set-up. */
  private def timed(p: Prepared, trace: Option[Trace]): Timed = {
    trace.foreach(_.start("ingest_backfill"))
    val cpu0 = cpuNs
    val t0 = System.nanoTime()
    val ends = mutable.Map.empty[Long, Long]
    val q = drain(spark, p.env, Topic, p.dirs, BackfillPerTrigger, trace, ends)
    val cpuS = (cpuNs - cpu0) / 1e9
    trace.foreach(_.finish())
    val carried = carrier(p.pos, batchEnds(q))
    require(carried.forall(ends.contains), "backfill left events unconsumed")
    val op = carried.map(b => (ends(b) - t0) / 1e9).toSeq
    val wall = (ends.values.max - t0) / 1e9
    val rows = lakeRows(spark, p.dirs.store)
    val sizes = p.dirs.all.map(du)
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    def dms(k: String) = prog.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val extra = Map(
      "sources.produce_ms" -> p.produceMs,
      "sources.latest_offset_ms" -> dms("latestOffset"),
      "sources.get_batch_ms" -> dms("getBatch"),
      "stream.query_planning_ms" -> dms("queryPlanning"),
      "stream.wal_commit_ms" -> dms("walCommit"),
      "stream.trigger_ms" -> dms("triggerExecution"),
      "stream.batches" -> prog.length.toDouble,
      "stream.rows_per_batch" -> prog.map(_.numInputRows).sum.toDouble / math.max(1, prog.length),
      "news.state_files" -> sizes.map(_._1).sum.toDouble,
      "news.state_bytes" -> sizes.map(_._2).sum.toDouble)
    val checked = check(spark, p.dirs, gen.events)
    val outcome = checked.copy(details = checked.details + ("batches_rows_ms" ->
      prog.map(x => Seq(x.numInputRows, x.durationMs.get("triggerExecution").longValue))))
    Timed(op, cpuS, wall, rows, sizes.map(_._2).sum, outcome, extra)
  }

  def run(traced: Boolean): Main.Result = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var prepared: Prepared = null
    val reps = setupReps(traced)
    (1 to reps).foreach { k =>
      if (prepared != null) teardown(prepared, s"setup${k - 1}")
      val t0 = System.nanoTime()
      prepared = setup(s"setup$k", tracedWarm = false)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val (plain, plainDigest) = try {
      val t = timed(prepared, None)
      (t, if (traced) digest(spark, prepared.dirs) else Nil)
    } finally teardown(prepared, s"setup$reps")
    val out = plain.outcome
    val baseInfo = Seq("events" -> nEvents, "setup_reps_s" -> setups.toSeq,
      "planted_share" -> Gen.shares(gen.events), "check" -> out.details,
      "op_samples" -> plain.op.length)
    if (!traced) {
      Main.Result(out.attempted, out.failed, endToEnd(setups.toSeq, plain), baseInfo)
    } else {
      val tp = setup("traced", tracedWarm = true)
      // created after the set-up, so the warm-up's jobs are not its own
      val tr = new Trace(spark)
      val (tt, tracedDigest) = try {
        val t = timed(tp, Some(tr))
        (t, digest(spark, tp.dirs))
      } finally teardown(tp, "traced")
      val ap = setup("after", tracedWarm = false)
      val after = try timed(ap, None) finally teardown(ap, "after")
      val parity = plainDigest == tracedDigest
      def asMap(d: Seq[(String, (Long, Long))]) = d.toMap.map { case (k, v) => k -> Seq(v._1, v._2) }
      val failed = out.failed + tt.outcome.failed + after.outcome.failed + (if (parity) 0 else 1)
      Main.Result(out.attempted + tt.outcome.attempted + after.outcome.attempted, failed,
        perLayer(tr, tt, plain, after),
        baseInfo ++ Seq("traced_check" -> tt.outcome.details,
          "parity" -> Map("equal" -> parity, "untraced" -> asMap(plainDigest),
            "traced" -> asMap(tracedDigest)),
          "span_accounting_error_s" -> accountingError(tr),
          "traced_end_to_end" -> endToEnd(setups.toSeq, tt).toMap.map { case (k, v) => k -> v._1 },
          "spans" -> tr.spanLines.length), tr.spanLines)
    }
  }
}
