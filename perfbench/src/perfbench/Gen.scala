package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here, and the same seed gives byte-identical inputs. The
  * generator also keeps the truth the output checks compare against:
  * which events re-send a link, which rewrite an earlier article, which
  * carry an eval passage, and the per-day report counts.
  */
object Gen {

  /** One wire-schema article (collect/producer.py's message shape). */
  final case class Event(link: String, title: String, summary: String,
      author: String, updated: String, kind: String) {
    def key: Array[Byte] = link.getBytes(UTF_8)
    def value: Array[Byte] = Json.obj(Seq("author" -> author, "link" -> link,
      "summary" -> summary, "title" -> title, "updated" -> updated)).getBytes(UTF_8)
  }

  val Fresh = "fresh"
  val Resend = "resend"
  val NearDup = "neardup"
  val Contam = "contam"

  // The engine's classifier markers and sentiment lexicon
  // (udfs/Enrichers.classifyExpr, sentimentExpr): planted so the
  // enrich and report stages take their non-default branches.
  private val Markers = Seq("AI", "인공지능", "반도체", "기술", "주식", "코스피",
    "금리", "경제", "국회", "대통령", "정당", "선거", "야구", "축구", "올림픽",
    "경기", "영화", "전시", "공연", "문화", "정부", "정책", "사회")
  private val Sentiment = Seq("상승", "성공", "호황", "개선", "흥행", "증가",
    "하락", "실패", "불황", "악화", "사고", "감소")
  private val Josa = Seq("은", "는", "이", "가", "을", "를", "의", "에서", "으로", "와")
  private val Categories = graft.news.NewsSchema.Categories

  /** A fixed vocabulary: the seed picks words from it, never changes it. */
  private lazy val hangulWords: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(7L)
    IndexedSeq.fill(4000) {
      val n = 2 + r.nextInt(2)
      new String(Array.fill(n)((0xAC00 + r.nextInt(11172)).toChar))
    }
  }
  private lazy val latinWords: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(11L)
    IndexedSeq.fill(2000)(new String(Array.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar)))
  }

  private def pick[T](r: java.util.SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Hangul article text: `n` tokens, some with josa, sentences ended by
    * "다.", plus one classifier marker and one sentiment word when drawn. */
  private def hangulText(r: java.util.SplittableRandom, n: Int): String = {
    val toks = Array.tabulate(n) { i =>
      val w = pick(r, hangulWords)
      val t = if (r.nextInt(3) == 0) w + pick(r, Josa.toIndexedSeq) else w
      if (i % 12 == 11) t + "다." else t
    }
    if (r.nextInt(10) < 7) toks(r.nextInt(8)) = pick(r, Markers.toIndexedSeq)
    if (r.nextInt(10) < 6) toks(1 + r.nextInt(8)) = pick(r, Sentiment.toIndexedSeq)
    toks.mkString(" ")
  }

  private def latinText(r: java.util.SplittableRandom, n: Int): String =
    Array.fill(n)(pick(r, latinWords)).mkString(" ")

  final case class Stream(events: IndexedSeq[Event], evalPassages: IndexedSeq[String])

  /** `n` ingest events for `seed`: ~5 % exact re-sends of an earlier
    * event, ~10 % near-duplicate rewrites (an earlier fresh article with
    * its last three tokens replaced, so its 8-token spans and most of its
    * 3-gram shingles are shared), ~5 % articles carrying a 24-token
    * passage of the eval set, ~90 % Hangul text. `tag` keeps links of
    * two streams of one run (warm-up and timed) apart. */
  def stream(seed: Long, n: Int, tag: String): Stream = {
    val r = new java.util.SplittableRandom(seed * 1000003L + tag.hashCode)
    val evalR = new java.util.SplittableRandom(seed * 7919L + 1)
    val evalPassages = IndexedSeq.fill(40)(hangulText(evalR, 24))
    val out = scala.collection.mutable.ArrayBuffer.empty[Event]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Event]
    var i = 0
    while (out.length < n) {
      val roll = r.nextInt(100)
      val ts = f"2026-10-01T${8 + i / 3600 % 12}%02d:${i / 60 % 60}%02d:${i % 60}%02d"
      val link = s"https://news.example/$tag/$seed/${"%07d".format(i)}"
      val ev =
        if (roll < 5 && out.nonEmpty) out(r.nextInt(out.length)).copy(kind = Resend)
        else if (roll < 15 && fresh.nonEmpty) {
          val src = fresh(r.nextInt(fresh.length))
          val toks = src.summary.split(" ")
          (toks.length - 3 until toks.length).foreach(j => toks(j) = pick(r, hangulWords))
          Event(link, src.title + " (수정)", toks.mkString(" "), src.author, ts, NearDup)
        } else if (roll < 20) {
          val body = hangulText(r, 40).split(" ")
          val cut = r.nextInt(body.length)
          val text = (body.take(cut) ++ Seq(pick(r, evalPassages)) ++ body.drop(cut)).mkString(" ")
          Event(link, s"기사 $i", text, s"기자${r.nextInt(50)}", ts, Contam)
        } else {
          val text = if (r.nextInt(10) == 0) latinText(r, 48 + r.nextInt(24))
            else hangulText(r, 48 + r.nextInt(24))
          val e = Event(link, s"기사 $i", text, s"기자${r.nextInt(50)}", ts, Fresh)
          fresh += e
          e
        }
      out += ev
      i += 1
    }
    Stream(out.toIndexedSeq, evalPassages)
  }

  private val hangul = java.util.regex.Pattern.compile("[가-힣]")

  /** Measured share of every planted property in `events`. */
  def shares(events: Seq[Event]): Map[String, Double] = {
    val n = events.length.toDouble
    def share(p: Event => Boolean) = events.count(p) / n
    Map(
      "resend" -> share(_.kind == Resend),
      "neardup" -> share(_.kind == NearDup),
      "contaminated" -> share(_.kind == Contam),
      "hangul" -> share(e => hangul.matcher(e.summary).find()),
      "classifier_marker" -> share(e => Markers.exists(e.summary.contains)),
      "sentiment_word" -> share(e => Sentiment.exists(e.summary.contains)))
  }

  /** Daily-report archive: `days` days of `perDay` articles in the
    * archive schema (NewsSchema.archiveSchema), one JSON object a line,
    * with a 768-dim embedding on ~90 % of them. */
  final case class ArchiveTruth(days: IndexedSeq[String],
      categoryCounts: Map[String, Map[String, Long]],
      keywordCounts: Map[String, Map[String, Long]],
      articles: Map[String, Long], withEmbedding: Map[String, Long],
      shares: Map[String, Double])

  def archive(seed: Long, days: Int, perDay: Int, dim: Int,
      out: java.io.Writer): ArchiveTruth = {
    val r = new java.util.SplittableRandom(seed * 31L + 5)
    val dates = (0 until days).map(d => f"2026-10-${d + 1}%02d").toIndexedSeq
    val cats = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    val kws = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    val arts = scala.collection.mutable.Map.empty[String, Long]
    val emb = scala.collection.mutable.Map.empty[String, Long]
    var nHangul, nMarker, nSent, total = 0L
    var id = 0L
    val sb = new java.lang.StringBuilder(16384)
    dates.foreach { date =>
      val c = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val k = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      var withEmb = 0L
      (0 until perDay).foreach { j =>
        id += 1
        val content = hangulText(r, 40 + r.nextInt(40))
        val toks = content.split(" ")
        val keywords = Seq.fill(5)(toks(r.nextInt(toks.length))).distinct
        val cat = pick(r, Categories.toIndexedSeq)
        c(cat) += 1
        keywords.foreach(w => k(w) += 1)
        if (hangul.matcher(content).find()) nHangul += 1
        if (Markers.exists(content.contains)) nMarker += 1
        if (Sentiment.exists(content.contains)) nSent += 1
        total += 1
        val secs = (j * 86399L) / perDay
        sb.setLength(0)
        sb.append("{\"id\":").append(id)
          .append(",\"title\":").append(Json.str(s"기사 $id"))
          .append(",\"content\":").append(Json.str(content))
          .append(",\"keywords\":[").append(keywords.map(Json.str).mkString(","))
          .append("],\"published_at\":\"").append(date)
          .append(f"T${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d\"")
          .append(",\"category\":").append(Json.str(cat))
        if (r.nextInt(10) != 0) {
          withEmb += 1
          sb.append(",\"embedding\":[")
          var d = 0
          while (d < dim) {
            if (d > 0) sb.append(',')
            val v = r.nextInt(2001) - 1000 // [-1, 1] in steps of 0.001
            if (v < 0) sb.append('-')
            val a = math.abs(v)
            sb.append(a / 1000).append('.')
            val frac = a % 1000
            if (frac < 100) sb.append('0')
            if (frac < 10) sb.append('0')
            sb.append(frac)
            d += 1
          }
          sb.append(']')
        }
        sb.append("}\n")
        out.append(sb)
      }
      cats(date) = c.toMap
      kws(date) = k.toMap
      arts(date) = perDay.toLong
      emb(date) = withEmb
    }
    ArchiveTruth(dates, cats.toMap, kws.toMap, arts.toMap, emb.toMap,
      Map("hangul" -> nHangul.toDouble / total,
        "classifier_marker" -> nMarker.toDouble / total,
        "sentiment_word" -> nSent.toDouble / total,
        "embedding" -> emb.values.sum.toDouble / total))
  }
}
