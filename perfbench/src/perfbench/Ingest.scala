package perfbench

import scala.collection.mutable

import graft.MiniKafkaServer
import graft.functions.Text
import graft.news.{Lake, NewsSchema}
import graft.sources.KafkaWire
import graft.streaming.{DecontamStream, IngestPipeline, LshDedupStream, SpanDedupStream}
import graft.udfs.Enrichers
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ingest workload: wire-schema articles produced to the in-JVM
  * broker double, read by the `graft-kafka` source, enriched
  * (`Enrichers.enrich`) and handed to `IngestPipeline.processBatch`.
  * A backlog is produced during set-up and drained with
  * `Trigger.AvailableNow` and a fixed `maxOffsetsPerTrigger`, so batch
  * boundaries repeat exactly.
  *
  * Untraced, the stream is exactly the pipeline a user runs: enrich in
  * the streaming plan, `processBatch` in foreachBatch. Traced, the
  * foreachBatch body is [[tracedBatch]], which calls the same public
  * stage functions in `processBatch`'s order with one span each.
  */
object Ingest {
  val Topic = "articles"
  val Partitions = 4
  val EmbedDim = 768
  val BackfillPerTrigger = 2000L
  /** Warm-up articles, drained as one batch on a topic of their own. */
  val WarmEvents = 30

  final class Dirs(base: String) {
    val store = s"$base/lake"
    val seen = s"$base/seen"
    val lsh = s"$base/lsh"
    val ckpt = s"$base/ckpt"
    val all = Seq(store, seen, lsh)
  }

  /** One set-up: a fresh broker, a warmed pipeline and the eval shingles. */
  final class Env(val srv: MiniKafkaServer, val eval: DataFrame) {
    def port: Int = srv.port
    def close(): Unit = { eval.unpersist(blocking = true); srv.stop() }
  }

  def evalShingles(spark: SparkSession, passages: Seq[String]): DataFrame = {
    import spark.implicits._
    val df = passages.toDF("text")
      .select(explode(Text.shingles(Text.tokens(col("text")), 3)).as("s"))
      .distinct().persist()
    df.count()
    df
  }

  /** Send `events` as fast as possible, in order within each partition.
    * Returns each event's (partition, offset) and the send time (ns). */
  def produce(port: Int, topic: String, events: IndexedSeq[Gen.Event]): (Array[(Int, Long)], Long) = {
    val prod = new KafkaWire.RetryingProducer("localhost", port, topic)
    val pos = new Array[(Int, Long)](events.length)
    val t0 = System.nanoTime()
    try {
      val nParts = prod.partitions
      events.indices.groupBy(i => KafkaWire.partitionFor(events(i).key, nParts))
        .toSeq.sortBy(_._1).foreach { case (p, idx) =>
          idx.sorted.grouped(500).foreach { chunk =>
            val base = prod.send(p, chunk.map(i => events(i).key -> events(i).value),
              System.currentTimeMillis())
            chunk.zipWithIndex.foreach { case (i, j) => pos(i) = (p, base + j) }
          }
        }
    } finally prod.close()
    (pos, System.nanoTime() - t0)
  }

  def source(spark: SparkSession, port: Int, topic: String, perTrigger: Long): DataFrame =
    spark.readStream.format("graft-kafka")
      .option("host", "localhost").option("port", port.toString)
      .option("topic", topic).option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", perTrigger.toString).load()
      .select(from_json(col("value"), NewsSchema.wireSchema).as("a"))
      .select("a.*")

  /** Drain `topic` to its current end through the pipeline on `dirs`,
    * `perTrigger` offsets a batch, with `Trigger.AvailableNow`. `ends`
    * collects each batch's return time (nanoTime) by batch id. Returns
    * the finished query. */
  def drain(spark: SparkSession, env: Env, topic: String, dirs: Dirs, perTrigger: Long,
      trace: Option[Trace], ends: mutable.Map[Long, Long]): StreamingQuery = {
    val src = source(spark, env.port, topic, perTrigger)
    val writer = trace match {
      case None =>
        Enrichers.enrich(src, "summary", EmbedDim).writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            IngestPipeline.processBatch(b, dirs.store, dirs.seen, dirs.lsh, env.eval)
            ends.synchronized(ends(id) = System.nanoTime())
          }
      case Some(tr) =>
        src.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          tr.span("batch")(tracedBatch(tr, b, dirs, env.eval))
          ends.synchronized(ends(id) = System.nanoTime())
        }
    }
    val q = writer.option("checkpointLocation", dirs.ckpt).trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    q
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `IngestPipeline.processBatch`, stage by stage through the same
    * public functions, one span each; each stage's output is
    * materialised inside its span so its work lands there. Gate-flag
    * and upsert counts come from `bench.*` spans the layer totals skip. */
  def tracedBatch(tr: Trace, raw: DataFrame, dirs: Dirs, eval: DataFrame): Unit = {
    val s = raw.sparkSession
    val batch = tr.span("udfs.enrich") {
      val b = Enrichers.enrich(raw, "summary", EmbedDim).persist(); b.count(); b
    }
    val docs = batch.select(col("link").as("doc_id"), col("summary").as("text"))
    val (bandsP, shP, szP) = (s"${dirs.lsh}/bands", s"${dirs.lsh}/shingles", s"${dirs.lsh}/sizes")
    val (seen, cBands, cSh, cSz) = tr.span("streaming.state_read") {
      val seen = if (pathExists(s, dirs.seen)) s.read.parquet(dirs.seen)
        else SpanDedupStream.emptySeen(s)
      val (b, sh, sz) =
        if (pathExists(s, szP)) (s.read.parquet(bandsP), s.read.parquet(shP), s.read.parquet(szP))
        else LshDedupStream.emptyArtifacts(s)
      (seen, b, sh, sz)
    }
    def mat(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val span = tr.span("streaming.span_gate") {
      mat(SpanDedupStream.score(docs, seen).withColumnRenamed("doc_id", "link"))
    }
    val lsh = tr.span("streaming.lsh_gate") {
      mat(LshDedupStream.gate(docs, cBands, cSh, cSz).withColumnRenamed("doc_id", "link"))
    }
    val dec = tr.span("streaming.decontam_gate") {
      mat(DecontamStream.score(docs, eval).withColumnRenamed("doc_id", "link"))
    }
    tr.span("bench.gate_counts") {
      tr.count("streaming.rows_in", span.count())
      tr.count("streaming.span_flagged", span.where(col("n_dup") > 0).count())
      tr.count("streaming.lsh_flagged", lsh.where(col("near_dup")).count())
      tr.count("streaming.contaminated", dec.where(col("contaminated")).count())
    }
    val gated = batch.join(span, Seq("link"), "left")
      .join(lsh, Seq("link"), "left")
      .join(dec, Seq("link"), "left")
    val before = tr.span("bench.lake_rows")(lakeRows(s, dirs.store))
    tr.span("news.upsert")(Lake.upsertByLink(s, gated, dirs.store))
    tr.span("bench.lake_rows") {
      tr.count("news.upsert_inserted", lakeRows(s, dirs.store) - before)
      tr.count("news.upsert_offered", batch.count())
    }
    tr.span("streaming.fresh_hashes") {
      val fresh = mat(SpanDedupStream.freshHashes(docs, seen))
      fresh.write.mode(SaveMode.Append).parquet(dirs.seen)
      fresh.unpersist(blocking = false)
    }
    tr.span("streaming.lsh_append") {
      val newDocs = mat(docs.dropDuplicates("doc_id")
        .join(cSz.select(col("c_id").as("doc_id")), Seq("doc_id"), "left_anti"))
      val (nb, nsh, nsz) = LshDedupStream.corpusArtifacts(newDocs)
      val mats = Seq(nb, nsh, nsz).map(mat)
      mats(0).write.mode(SaveMode.Append).parquet(bandsP)
      mats(1).write.mode(SaveMode.Append).parquet(shP)
      mats(2).write.mode(SaveMode.Append).parquet(szP)
      mats.foreach(_.unpersist(blocking = false))
      newDocs.unpersist(blocking = false)
    }
    Seq(span, lsh, dec, batch).foreach(_.unpersist(blocking = false))
  }

  def lakeRows(s: SparkSession, store: String): Long =
    if (pathExists(s, store)) s.read.parquet(store).count() else 0L

  /** Batch id → per-partition end offset (exclusive), from the query's
    * progress reports: no extra job. */
  def batchEnds(q: StreamingQuery): Seq[(Long, Map[Int, Long])] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val m = "\"(\\d+)\":(\\d+)".r.findAllMatchIn(p.sources(0).endOffset)
        .map(x => x.group(1).toInt -> x.group(2).toLong).toMap
      p.batchId -> m
    }.sortBy(_._1)

  /** The batch id that carried each event. */
  def carrier(pos: Array[(Int, Long)], ends: Seq[(Long, Map[Int, Long])]): Array[Long] =
    pos.map { case (p, off) =>
      ends.find(_._2.getOrElse(p, 0L) > off).map(_._1).getOrElse(-1L)
    }

  def du(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val st = java.nio.file.Files.walk(p)
    try {
      val files = st.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.length.toLong, files.map(java.nio.file.Files.size(_)).sum)
    } finally st.close()
  }

  /** Order-independent content checksum and row count of a parquet dir. */
  def checksum(spark: SparkSession, path: String): (Long, Long) =
    if (!pathExists(spark, path)) (0L, 0L)
    else {
      val df = spark.read.parquet(path)
      val cols = df.columns.sorted.map(col).toSeq
      val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
        .collect()(0)
      (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue()).getOrElse(0L))
    }

  /** Content of the lake, seen-hash and LSH-artifact dirs: row count and
    * order-independent checksum of each. */
  def digest(spark: SparkSession, dirs: Dirs): Seq[(String, (Long, Long))] =
    Seq("lake" -> dirs.store, "seen" -> dirs.seen,
      "lsh.bands" -> s"${dirs.lsh}/bands", "lsh.shingles" -> s"${dirs.lsh}/shingles",
      "lsh.sizes" -> s"${dirs.lsh}/sizes").map { case (k, d) => k -> checksum(spark, d) }

  /** Check the lake against the generator's truth for the events the
    * run consumed: each distinct link landed exactly once, and every
    * article carrying an eval passage is flagged contaminated. */
  def check(spark: SparkSession, dirs: Dirs, events: IndexedSeq[Gen.Event]): Main.Outcome = {
    val lake = spark.read.parquet(dirs.store)
    val rows = lake.select(col("link"), col("contaminated"), col("near_dup"), col("n_dup"))
      .collect()
    val landed = rows.groupBy(_.getString(0)).map { case (k, v) => k -> v.length }
    val links = events.map(_.link).toSet
    val missing = links.count(l => !landed.contains(l))
    val doubled = landed.count(_._2 > 1)
    val stray = landed.keySet.count(l => !links.contains(l))
    val contamLinks = events.filter(_.kind == Gen.Contam).map(_.link).toSet
    val byLink = rows.map(r => r.getString(0) -> r).toMap
    val unflagged = contamLinks.count(l => byLink.get(l).exists(r => !r.getBoolean(1)))
    val n = rows.length.toDouble
    Main.Outcome(events.length.toLong, (missing + doubled + stray + unflagged).toLong, Map(
      "events" -> events.length, "distinct_links" -> links.size, "lake_rows" -> rows.length,
      "missing_links" -> missing, "doubled_links" -> doubled, "stray_links" -> stray,
      "contaminated_unflagged" -> unflagged,
      "flagged_share" -> Map(
        "span" -> rows.count(r => !r.isNullAt(3) && r.getLong(3) > 0) / n,
        "lsh" -> rows.count(r => !r.isNullAt(2) && r.getBoolean(2)) / n,
        "contaminated" -> rows.count(r => !r.isNullAt(1) && r.getBoolean(1)) / n)))
  }
}
