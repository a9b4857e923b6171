package graft.news

import dev.ludovic.netlib.lapack.LAPACK
import graft.functions.{Text, Vectors}
import graft.operators.MLOps
import graft.udfs.Enrichers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.netlib.util.intW

/** The daily-report query set R1–R7 (SURVEY.md §3.1; reference:
  * dags/scripts/spark_daily_report.py) as pure DataFrame stages. The
  * engine contract is these result *datasets*; PDF rendering stays a
  * thin driver-side consumer of the collected (small) outputs.
  *
  * Fixes over the reference applied here (SURVEY §4.1): the day's slice
  * is persisted once instead of re-scanned per action; sentiment and
  * summaries are computed distributed before collect instead of in a
  * driver loop; reads take an explicit schema.
  */
object DailyReport {

  /** S8 + F3/F5: read the archive and slice one day. JSONL preferred
    * (splittable); `multiline=true` compat for legacy arrays of
    * records (spark_daily_report.py:55). */
  def readArchive(spark: SparkSession, path: String, multiline: Boolean = false): DataFrame =
    spark.read.schema(NewsSchema.archiveSchema)
      .option("multiline", multiline.toString).json(path)

  def daySlice(df: DataFrame, date: String): DataFrame =
    df.withColumn("published_date", to_date(col("published_at"))) // :62
      .where(col("published_date") === to_date(lit(date))) // :63

  /** R1: per-category counts, descending (:68-70). */
  def categoryCounts(day: DataFrame): DataFrame =
    day.groupBy(col("category")).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("category"))

  /** R2: keyword frequencies via explode (:72-75). */
  def keywordCounts(day: DataFrame): DataFrame =
    day.select(explode(col("keywords")).as("keyword"))
      .groupBy(col("keyword")).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("keyword"))

  /** R2b: top-10 keywords (:153) — engine-side TakeOrderedAndProject,
    * not a driver-side head(10). */
  def topKeywords(day: DataFrame, k: Int = 10): DataFrame =
    keywordCounts(day).limit(k)

  /** R3: article listing with first-sentence summary (X10, :180) and
    * sentiment (U7, :175-179) computed distributed. */
  def articleList(day: DataFrame): DataFrame =
    day.select(col("id"), col("title"), col("category"),
      Text.firstSentence(col("content")).as("summary"),
      Enrichers.sentimentExpr(col("content")).as("sentiment"))

  /** R4/R6: PCA(k=2) + KMeans(k=min(5,n), seed=42) over embeddings
    * (:82-98). Returns (id, title, pc1, pc2, cluster).
    *
    * pc1/pc2 are the day's embeddings projected, uncentered as
    * `PCAModel.transform` projects, onto the two leading eigenvectors of
    * their sample covariance. The covariance is the one spark.ml PCA
    * builds (`RowMatrix.computeCovariance`, distributed); only the
    * eigenproblem differs: PCA runs a full SVD of the d×d matrix on the
    * driver (d = 768 here), while this asks LAPACK `dsyevr` for the top
    * two eigenpairs alone, a fraction of the work for the same axes.
    * Each axis is sign-fixed by the largest-|loading|-positive
    * convention ([[graft.operators.MLOps.signFix]]), so the sign no
    * longer depends on which LAPACK build is loaded. KMeans is spark.ml's
    * on the same features.
    *
    * With exactly two embedded articles the covariance has rank one, so
    * the second axis is any unit vector orthogonal to the first: both
    * rows share one pc2, whose value depends on the LAPACK build (as it
    * did under spark.ml PCA).
    *
    * A day with fewer than two embedded articles has no covariance and
    * no clustering: it yields an empty frame, as an empty day does. */
  def clustering(day: DataFrame): DataFrame = {
    val withVec = day.na.drop(Seq("embedding")) // F7, :82
      .withColumn("features", array_to_vector(col("embedding"))) // U5 via builtin
      .persist()
    try {
      val n = withVec.count() // :83 — counted once, slice cached
      if (n < 2) day.sparkSession.emptyDataFrame
      else {
        val Array(a1, a2) = principalAxes(withVec)
        val km = new KMeans().setK(math.min(5L, n).toInt).setSeed(42) // :91
          .setFeaturesCol("features").setPredictionCol("cluster").fit(withVec)
        val emb = col("embedding").cast("array<double>")
        km.transform(withVec)
          .select(col("id"), col("title"),
            Vectors.dotD(emb, typedLit(a1)).as("pc1"),
            Vectors.dotD(emb, typedLit(a2)).as("pc2"),
            col("cluster"))
      }
    } finally withVec.unpersist()
  }

  /** The two leading unit eigenvectors, largest eigenvalue first and
    * sign-fixed, of the sample covariance of `withVec`'s `features`
    * vectors (at least two rows). */
  private[graft] def principalAxes(withVec: DataFrame): Array[Array[Double]] = {
    val rows = withVec.select("features").rdd
      .map(r => OldVectors.fromML(r.getAs[MLVector](0)))
    val cov = new RowMatrix(rows).computeCovariance()
    val d = cov.numRows
    val a = cov.toArray // column-major copy; dsyevr overwrites it
    val lapack = LAPACK.getInstance()
    val found = new intW(0)
    val info = new intW(0)
    val w = new Array[Double](d)
    val z = new Array[Double](2 * d)
    val isuppz = new Array[Int](2 * d) // the Java LAPACK indexes past 2·k
    def eig(work: Array[Double], iwork: Array[Int], lwork: Int, liwork: Int): Unit = {
      lapack.dsyevr("V", "I", "U", d, a, d, 0.0, 0.0, d - 1, d, 0.0,
        found, w, z, d, isuppz, work, lwork, iwork, liwork, info)
      if (info.`val` != 0) throw new ArithmeticException(s"dsyevr failed: info=${info.`val`}")
    }
    val wq = new Array[Double](1)
    val iq = new Array[Int](1)
    eig(wq, iq, -1, -1) // workspace query
    eig(new Array[Double](wq(0).toInt), new Array[Int](iq(0)), wq(0).toInt, iq(0))
    // eigenvalues ascend: column 1 of z holds the leading axis
    Array(z.slice(d, 2 * d), z.slice(0, d)).map(MLOps.signFix)
  }

  /** R5: noun frequencies for the word cloud (:231-240) — distributed
    * tokenizer expression instead of the reference's driver-side Okt
    * loop (:31-36). Uses the stemmed (josa/verb-ending-stripped)
    * variant so 정부/정부는/정부가 aggregate into one cloud term, as
    * Okt.nouns() would produce. */
  def nounFrequencies(day: DataFrame): DataFrame =
    day.select(explode(Enrichers.hangulNounsStemmedExpr(col("content"))).as("noun"))
      .groupBy(col("noun")).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("noun"))

  /** Run the full report for one date; persists the slice once
    * (reference re-scans JSON for every action, §4.1). */
  def run(spark: SparkSession, path: String, date: String,
      multiline: Boolean = false): Map[String, DataFrame] = {
    val day = daySlice(readArchive(spark, path, multiline), date).persist()
    val out = Map(
      "r1_category_counts" -> categoryCounts(day),
      "r2_keyword_counts" -> keywordCounts(day),
      "r2b_top_keywords" -> topKeywords(day),
      "r3_article_list" -> articleList(day),
      "r4_clustering" -> clustering(day),
      "r5_noun_frequencies" -> nounFrequencies(day))
    out
  }
}
