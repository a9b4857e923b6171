package perfbench

import scala.collection.mutable

import graft.MiniKafkaServer

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  *
  *  - generator: the same seed gives byte-identical inputs, another seed
  *    different ones, and every planted property is present in a sane
  *    share;
  *  - traced-replay parity: a small backlog drained once through
  *    `IngestPipeline.processBatch` and once through the traced
  *    stage-by-stage replay leaves the same lake, seen-hash and
  *    LSH-artifact row counts and checksums, and both pass the output
  *    checks;
  *  - span accounting: self times of all spans add up to the root span's
  *    wall time and every child lies inside its parent;
  *  - attribution: a trace attached before an untraced drain counts the
  *    jobs of its own traced drain only, and sees its codegen and files.
  *
  * Prints one PASS/FAIL line per check; exit code 1 if any failed.
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    results += ((name, ok, if (ok) "" else detail))
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
  }

  private def sha(bytes: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private def streamHash(seed: Long): String =
    sha(Gen.stream(seed, 500, "main").events.iterator.flatMap(e => Iterator(e.key, e.value)))

  private def archiveHash(seed: Long): String = {
    val w = new java.io.StringWriter()
    Gen.archive(seed, 2, 50, 768, w)
    sha(Iterator(w.toString.getBytes("UTF-8")))
  }

  def generator(): Unit = {
    expect("generator: same seed, same ingest stream", streamHash(1) == streamHash(1))
    expect("generator: other seed, other ingest stream", streamHash(1) != streamHash(2))
    expect("generator: same seed, same archive", archiveHash(1) == archiveHash(1))
    expect("generator: other seed, other archive", archiveHash(1) != archiveHash(2))
    val sh = Gen.shares(Gen.stream(3, 2000, "main").events)
    val ranges = Map("resend" -> (0.02, 0.08), "neardup" -> (0.05, 0.15),
      "contaminated" -> (0.02, 0.08), "hangul" -> (0.8, 0.97),
      "classifier_marker" -> (0.4, 0.9), "sentiment_word" -> (0.3, 0.8))
    ranges.foreach { case (k, (lo, hi)) =>
      expect(s"generator: planted $k share in [$lo, $hi]", sh(k) >= lo && sh(k) <= hi, s"${sh(k)}")
    }
  }

  def parity(work: String): Unit = {
    import Ingest._
    val spark = Main.session(work)
    try {
      val g = Gen.stream(5, 600, "main")
      val env = new Env(new MiniKafkaServer(numPartitions = Partitions),
        evalShingles(spark, g.evalPassages))
      try {
        produce(env.port, Topic, g.events)
        // attached before the untraced drain, whose jobs it must not count
        val tr = new Trace(spark)
        val plainDirs = new Dirs(s"$work/plain")
        drain(spark, env, Topic, plainDirs, 200, None, mutable.Map.empty)
        val jobs = new JobCounter
        org.apache.spark.graftaccess.BusAccess.drainListenerBus(spark.sparkContext, 30000L)
        spark.sparkContext.addSparkListener(jobs)
        val tracedDirs = new Dirs(s"$work/traced")
        tr.start("parity")
        drain(spark, env, Topic, tracedDirs, 200, Some(tr), mutable.Map.empty)
        tr.finish()
        spark.sparkContext.removeSparkListener(jobs)
        expect("trace: counts the jobs of the traced drain, and no others",
          tr.jobCount == jobs.n.get, s"trace ${tr.jobCount}, drain ${jobs.n.get}")
        val tot = tr.layerTotals
        expect("trace: codegen compiles and their time are seen",
          tot("driver.codegen_compiles") > 0 && tot("driver.codegen_ms") > 0, tot.toString)
        expect("trace: files written by the drain are seen", tot("write.files") > 0, tot.toString)
        val a = digest(spark, plainDirs)
        val b = digest(spark, tracedDirs)
        expect("parity: traced replay leaves the same lake, seen and LSH state",
          a == b, s"untraced $a, traced $b")
        expect("parity: state is not empty", a.forall(_._2._1 > 0), a.toString)
        val ca = check(spark, plainDirs, g.events)
        val cb = check(spark, tracedDirs, g.events)
        expect("checks: untraced run passes the output checks", ca.failed == 0, ca.details.toString)
        expect("checks: traced run passes the output checks", cb.failed == 0, cb.details.toString)
        expect("checks: planted properties are flagged",
          ca.details("flagged_share").asInstanceOf[Map[String, Double]].values.forall(_ > 0),
          ca.details.toString)
        val err = Main.accountingError(tr)
        expect("spans: self times add up to the root wall time", err < 1e-6, s"error $err s")
        val spans = tr.selfTimes.map(_._1)
        val byId = spans.map(s => s.id -> s).toMap
        expect("spans: every child lies inside its parent", spans.forall { s =>
          s.parent < 0 || (byId(s.parent).start <= s.start && s.end <= byId(s.parent).end)
        })
        expect("spans: one batch span per micro-batch, stages under it",
          spans.count(_.name == "batch") == 3 &&
            spans.count(_.name == "streaming.lsh_gate") == 3, spans.map(_.name).toString)
      } finally env.close()
    } finally spark.stop()
  }

  private final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = n.incrementAndGet()
  }

  def main(args: Array[String]): Unit = {
    val work = args.grouped(2).collect { case Array("--work", w) => w }.toSeq.head
    generator()
    parity(work)
    val failed = results.count(!_._2)
    println(s"${results.length - failed} passed, $failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }
}
