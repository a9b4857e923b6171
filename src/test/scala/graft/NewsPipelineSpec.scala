package graft

import graft.news.{BatchClean, DailyReport, Lake, NewsSchema}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class NewsPipelineSpec extends SparkSuite {

  private lazy val fixture =
    getClass.getResource("/news_archive_fixture.jsonl").getPath

  test("multiline-compat reader handles legacy JSON arrays (S8)") {
    // the reference's archive files are JSON arrays read with
    // multiline=true (spark_daily_report.py:55); our canonical form is
    // JSONL, but the compat path must read the legacy layout too
    val tmp = Files.createTempDirectory("ml").toFile
    val f = new java.io.File(tmp, "legacy.json")
    Files.writeString(f.toPath,
      """[
        |  {"id": 1, "title": "t1", "content": "c1", "keywords": ["k"],
        |   "published_at": "2025-05-24T09:00:00", "category": "경제", "embedding": null},
        |  {"id": 2, "title": "t2", "content": "c2", "keywords": [],
        |   "published_at": "2025-05-25T10:00:00", "category": "문화", "embedding": null}
        |]""".stripMargin)
    val df = DailyReport.readArchive(spark, f.getPath, multiline = true)
    assert(df.count() == 2)
    assert(DailyReport.daySlice(df, "2025-05-24").count() == 1)
  }

  test("daySlice filters to the report date") {
    val day = DailyReport.daySlice(DailyReport.readArchive(spark, fixture), "2025-05-24")
    assert(day.count() == 5) // id 5 is on 2025-05-25
  }

  test("R1 category counts descend with deterministic ties") {
    val day = DailyReport.daySlice(DailyReport.readArchive(spark, fixture), "2025-05-24")
    val r1 = DailyReport.categoryCounts(day).collect()
      .map(r => (r.getAs[String]("category"), r.getAs[Long]("count"))).toSeq
    assert(r1 == Seq(("경제", 2L), ("IT_과학", 1L), ("문화", 1L), ("스포츠", 1L)))
  }

  test("R2 keyword counts explode arrays; empty arrays contribute nothing") {
    val day = DailyReport.daySlice(DailyReport.readArchive(spark, fixture), "2025-05-24")
    val r2 = DailyReport.keywordCounts(day).collect()
      .map(r => (r.getAs[String]("keyword"), r.getAs[Long]("count"))).toMap
    assert(r2("경제") == 2L && r2("반도체") == 1L && r2.size == 10)
  }

  test("R3 article list: first sentence + sentiment computed distributed") {
    val day = DailyReport.daySlice(DailyReport.readArchive(spark, fixture), "2025-05-24")
    val r3 = DailyReport.articleList(day).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(r3(1L).getAs[String]("summary") == "국내 반도체 수출이 크게 증가했다.")
    assert(r3(1L).getAs[String]("sentiment") == "positive")
    assert(r3(2L).getAs[String]("sentiment") == "negative")
    // content without 다. falls back to a 40-char prefix
    assert(r3(4L).getAs[String]("summary") == "short text without terminator")
  }

  test("R4 clustering drops null embeddings and uses k=min(5,n)") {
    val day = DailyReport.daySlice(DailyReport.readArchive(spark, fixture), "2025-05-24")
    val r4 = DailyReport.clustering(day).collect()
    assert(r4.length == 4) // id 4 has null embedding
    val clusters = r4.map(_.getAs[Int]("cluster")).toSet
    assert(clusters.forall(c => c >= 0 && c < 4)) // k = min(5, 4) = 4
  }

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("R4 on a day with fewer than two embedded articles is empty; no path leaves the slice cached") {
    import spark.implicits._
    val rows = Seq[(Long, String, Option[Seq[Float]])](
      (1L, "embedded", Some(Seq(0.5f, -1f, 2f))), (2L, "no embedding", None))
    val oneEmbedded = rows.toDF("id", "title", "embedding")
    spark.catalog.clearCache()
    assert(DailyReport.clustering(oneEmbedded.where(col("id") === 2L)).isEmpty)
    assert(cacheEmpty, "n == 0 left the embedded slice cached")
    assert(DailyReport.clustering(oneEmbedded).isEmpty) // threw before: covariance of one row
    assert(cacheEmpty, "n == 1 left the embedded slice cached")
    assert(DailyReport.clustering(rows.map { case (i, t, _) => (i, t, Some(Seq(i.toFloat, 1f, 0f))) }
      .toDF("id", "title", "embedding")).count() == 2)
    assert(cacheEmpty, "n == 2 left the embedded slice cached")
  }

  test("R5 noun frequencies come from Hangul runs") {
    val day = DailyReport.daySlice(DailyReport.readArchive(spark, fixture), "2025-05-24")
    val r5 = DailyReport.nounFrequencies(day).collect()
      .map(r => r.getAs[String]("noun")).toSet
    assert(r5.contains("반도체"))
    assert(!r5.exists(_.exists(c => c < '가' || c > '힣')))
  }

  test("BatchClean applies the notebook's filter chain") {
    val tmp = Files.createTempDirectory("rawcsv").toFile
    val csv = new java.io.File(tmp, "raw.csv")
    val body = "본문 내용입니다 " * 20 // >100 chars
    Files.writeString(csv.toPath,
      Seq(
        "company|title|link|published|reporter|article|category|category_str",
        s"뉴스사|제목 하나|http://a/1|2025-05-24 09:00:00|김기자 기자|$body|경제|경제",
        s"뉴스사|제목 둘|http://a/2|2025-05-24 10:00:00|무명씨|$body|경제|경제", // no 기자 → dropped
        s"뉴스사|제목 셋|http://a/3|2025-05-24 11:00:00|이기자 기자|짧은 글|경제|경제", // <=100 chars → dropped
        s"뉴스사||http://a/4|2025-05-24 12:00:00|박기자 기자|$body|경제|경제" // null title → dropped
      ).mkString("\n"))
    val cleaned = BatchClean.clean(BatchClean.readRawCsv(spark, csv.getPath))
    val rows = cleaned.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("id") == 1L)
    assert(r.getAs[String]("author") == "김기자 기자")
    assert(r.getAs[String]("summary") == "summary")
    assert(r.getAs[String]("category") == "경제")
  }

  test("ReportRender consumes the report datasets without full collects (S13)") {
    val reports = DailyReport.run(spark, fixture, "2025-05-24")
    val md = news.ReportRender.markdown("2025-05-24", reports)
    assert(md.contains("# Daily news report — 2025-05-24"))
    assert(md.contains("## r1_category_counts"))
    assert(md.contains("| 경제 | 2 |"))
    assert(md.contains("## r4_clustering"))
  }

  test("Lake: partitioned layout + upsert-by-link idempotence (J1)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("lake").toString
    val store = s"$tmp/store"
    val batch = Seq(
      ("http://a/1", "t1", "2025-05-24 09:00:00"),
      ("http://a/1", "t1-dup", "2025-05-24 09:05:00"), // in-batch dup
      ("http://a/2", "t2", "2025-05-25 10:00:00"))
      .toDF("link", "title", "updated")
      .withColumn("updated", to_timestamp(col("updated")))
    val written1 = Lake.upsertByLink(spark, batch, store)
    assert(written1.count() == 2) // in-batch dedup applied
    val written2 = Lake.upsertByLink(spark, batch, store)
    assert(written2.count() == 0) // re-append is a no-op (exactly-once effect)
    assert(spark.read.parquet(store).count() == 2)

    Lake.append(batch.dropDuplicates("link"), s"$tmp/lake", "updated")
    val dirs = new java.io.File(s"$tmp/lake").list().filter(_.startsWith("year_month_day="))
    assert(dirs.toSet == Set("year_month_day=20250524", "year_month_day=20250525"))
    // partition pruning works on the key
    val oneDay = spark.read.parquet(s"$tmp/lake")
      .where(col(Lake.PartitionCol) === "20250524")
    assert(oneDay.count() == 1)

    // S12: the day's partition is renamed into the archive
    val moved = Lake.archivePartition(spark, s"$tmp/lake", s"$tmp/archive", "20250524")
    assert(moved >= 1)
    assert(!new java.io.File(s"$tmp/lake/year_month_day=20250524").exists())
    assert(spark.read.parquet(s"$tmp/archive").count() == 1)
    assert(Lake.archivePartition(spark, s"$tmp/lake", s"$tmp/archive", "19990101") == 0)
  }

  test("Lake: compaction rewrites a many-file partition into few files") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("lakec").toString
    // 5 appends of the same day → >= 5 small files in one partition
    (1 to 5).foreach { i =>
      Lake.append(
        Seq((s"http://c/$i", s"t$i", "2025-05-24 09:00:00"))
          .toDF("link", "title", "updated")
          .withColumn("updated", to_timestamp(col("updated"))),
        s"$tmp/lake", "updated")
    }
    val dir = new java.io.File(s"$tmp/lake/year_month_day=20250524")
    assert(dir.list().count(_.endsWith(".parquet")) >= 5)

    val nAfter = Lake.compactPartition(spark, s"$tmp/lake", "20250524")
    assert(nAfter == 1) // tiny data → one 128MB-target file
    assert(dir.list().count(_.endsWith(".parquet")) == 1)
    val back = spark.read.parquet(s"$tmp/lake")
    assert(back.count() == 5)
    assert(back.select("link").distinct().count() == 5)
    assert(Lake.compactPartition(spark, s"$tmp/lake", "19990101") == 0)
  }
}
