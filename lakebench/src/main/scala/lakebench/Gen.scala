package lakebench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded transcript generator. Every output is a pure function of the
  * seed and the episode index, so the same seed gives byte-identical
  * inputs, and a later batch (a curate delta) is fresh content drawn from
  * episode indices no earlier batch used.
  *
  * An episode is an hour of conversation between a show's host and one
  * or two guests: speaker turns of a few utterances, short pauses inside
  * a turn, longer ones between turns, an occasional long silence that
  * splits a turn, and a topic that drifts every few dozen turns. Each
  * episode opens with an intro, closes with an outro and carries a sponsor
  * read every few minutes; those come from a small pool of templates shared by every
  * episode, read verbatim or near-verbatim (a few words swapped), which
  * makes the planted exact and near duplicates. Every utterance contains
  * stopwords. */
object Gen {

  final case class Utt(episodeId: String, start: Double, end: Double,
      speaker: String, text: String)

  /** A document for the curation run: one speaker turn, or one planted
    * intro/outro/sponsor read. `planted` is 0 for conversation, 1 for a
    * verbatim read, 2 for a near-verbatim read. */
  final case class Doc(docId: Long, text: String, lang: String,
      source: String, planted: Int)

  final case class Episode(id: String, show: Int, utts: Vector[Utt],
      docs: Vector[(String, Int)])

  // Span rule of the engine's segmenter (same speaker, gap at most 0.5 s,
  // duration at least 1 s): the generator predicts spans with it so the
  // lookup checks know the rows to expect.
  val MaxSilenceGap = 0.5
  val AdBreakSeconds = 400.0
  val MinSpanDuration = 1.0

  val Stopwords: Vector[String] = Vector("the", "be", "to", "of", "and",
    "that", "have", "with", "it", "is", "in", "we", "you", "this", "for",
    "so", "but", "on", "what", "there")

  private val Syllables = Vector("ka", "lo", "mer", "tin", "sa", "ro", "vel",
    "den", "pa", "qui", "sto", "ran", "mi", "tor", "gel", "bu", "fen",
    "da", "nor", "li", "cas", "te", "wal", "zo", "pri", "hem", "ol", "sun")

  /** Topic vocabularies: fixed (seed-independent), so the same words mean
    * the same topic in every run. */
  val Topics: Vector[Vector[String]] = {
    val r = new java.util.SplittableRandom(7L)
    Vector.tabulate(32) { _ =>
      Vector.fill(48) {
        val n = 2 + r.nextInt(2)
        (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
      }
    }
  }
  private val General: Vector[String] = {
    val r = new java.util.SplittableRandom(11L)
    Vector.fill(400) {
      val n = 2 + r.nextInt(2)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
  }

  val Shows: Vector[String] = Vector("Lakecast", "Data Hour", "Signal Room")
  private val Hosts = Vector("Ada Byrne", "Tomas Reyes", "Mina Okafor")
  val Guests: Vector[String] = Vector.tabulate(40)(i => f"Guest $i%02d")
  val Langs: Vector[String] = Vector("en", "en", "en", "en", "en", "en", "es", "de", "fr", "pt")

  /** The template pool of planted reads: an intro and an outro per show
    * and eight sponsor reads, each about forty words. */
  val Templates: Vector[String] = {
    val r = new java.util.SplittableRandom(13L)
    Vector.fill(Shows.length * 2 + 8)(sentence(r, 40, Topics(r.nextInt(Topics.length))))
  }
  private def introOf(show: Int) = show * 2
  private def outroOf(show: Int) = show * 2 + 1
  private def sponsor(i: Int) = Shows.length * 2 + (i % 8)

  private def sentence(r: java.util.SplittableRandom, nWords: Int,
      topic: Vector[String]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      val u = r.nextDouble()
      // at least the first word and every third word is a stopword
      val w = if (i % 3 == 0 || u < 0.2) Stopwords(r.nextInt(Stopwords.length))
              else if (u < 0.75) topic(r.nextInt(topic.length))
              else General(r.nextInt(General.length))
      sb.append(w)
      i += 1
    }
    sb.toString
  }

  /** A near-verbatim read: `nSwaps` non-stopword positions replaced. */
  private def nearVariant(r: java.util.SplittableRandom, text: String,
      nSwaps: Int): String = {
    val words = text.split(' ')
    var done = 0
    var tries = 0
    while (done < nSwaps && tries < 100) {
      val p = r.nextInt(words.length)
      if (p % 3 != 0) { words(p) = General(r.nextInt(General.length)); done += 1 }
      tries += 1
    }
    words.mkString(" ")
  }

  def episodeId(show: Int, index: Int): String = {
    val d = java.time.LocalDate.of(2023, 1, 2).plusDays(index.toLong)
    f"${Shows(show)} - ${index + 1}%04d - $d - Episode ${index + 1}"
  }

  private def rng(seed: Long, index: Int, salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ (index.toLong * 0xC2B2AE3D27D4EB4FL) ^ salt)

  private def round3(x: Double): Double = math.rint(x * 1000.0) / 1000.0

  /** One episode of `utterances` utterances (700 make about an hour):
    * speaker turns and silences, plus its curation documents (speaker
    * turns and planted reads). The count is exact, so every seed gives
    * the same input size. */
  def episode(seed: Long, index: Int, utterances: Int): Episode = {
    val r = rng(seed, index, 0x5EED)
    val show = index % Shows.length
    val id = episodeId(show, index)
    val host = Hosts(show)
    val nGuests = 1 + r.nextInt(2)
    val guests = (0 until nGuests).map(_ => Guests(r.nextInt(Guests.length))).distinct
    val speakers = host +: guests
    val utts = Vector.newBuilder[Utt]
    val docs = Vector.newBuilder[(String, Int)]
    var t = 0.5 + r.nextDouble()
    var topic = r.nextInt(Topics.length)
    var turns = 0
    var count = 0

    def say(speaker: String, text: String): Unit = {
      val words = text.count(_ == ' ') + 1
      val dur = words * (0.28 + 0.08 * r.nextDouble())
      val s = round3(t)
      val e = round3(t + dur)
      utts += Utt(id, s, e, speaker, text)
      count += 1
      t = e
    }
    def pause(lo: Double, hi: Double): Unit = t += lo + (hi - lo) * r.nextDouble()

    /** A planted read split into utterances of the host's turn. */
    def planted(template: Int): Unit = {
      val verbatim = r.nextDouble() < 0.6
      val text = if (verbatim) Templates(template)
                 else nearVariant(r, Templates(template), 3)
      docs += ((text, if (verbatim) 1 else 2))
      val words = text.split(' ')
      words.grouped(10).foreach { g => say(host, g.mkString(" ")); pause(0.05, 0.3) }
      pause(0.8, 1.6)
    }

    planted(introOf(show))
    var sponsorsDone = 0
    var cur = 0
    val readLen = Templates.head.split(' ').grouped(10).length
    while (count < utterances - readLen) {
      // a sponsor read every AdBreakSeconds
      if (t > AdBreakSeconds * (sponsorsDone + 1) && count + readLen < utterances - readLen) {
        planted(sponsor(index + sponsorsDone * 3 + r.nextInt(2)))
        sponsorsDone += 1
      }
      // next speaker: alternate, the host speaks every other turn
      cur = if (speakers.length == 1) 0
            else if (cur != 0) 0 else 1 + r.nextInt(speakers.length - 1)
      val speaker = speakers(cur)
      turns += 1
      if (turns % (20 + r.nextInt(20)) == 0) topic = r.nextInt(Topics.length)
      val nUtts = 1 + (-math.log(1 - r.nextDouble()) * 2.5).toInt.min(9)
      val turnText = new StringBuilder
      var u = 0
      while (u < nUtts && count < utterances - readLen) {
        val text = sentence(r, 6 + r.nextInt(16), Topics(topic))
        say(speaker, text)
        if (turnText.nonEmpty) turnText.append(' ')
        turnText.append(text)
        // a pause inside the turn; now and then a long silence splits it
        if (r.nextDouble() < 0.06) pause(0.8, 4.0) else pause(0.05, 0.35)
        u += 1
      }
      if (turnText.nonEmpty) docs += ((turnText.toString, 0))
      pause(0.6, 1.8)
    }
    planted(outroOf(show))
    Episode(id, show, utts.result(), docs.result())
  }

  /** Span prediction: same-speaker runs with gaps of at most 0.5 s and a
    * duration of at least 1 s, as (start_time, end_time). */
  def spans(utts: Seq[Utt]): Vector[(Double, Double)] = {
    val out = Vector.newBuilder[(Double, Double)]
    var i = 0
    while (i < utts.length) {
      val s = utts(i).start
      var e = utts(i).end
      var j = i + 1
      while (j < utts.length && utts(j).speaker == utts(i).speaker &&
          !(utts(j).start - utts(j - 1).end > MaxSilenceGap)) {
        e = math.max(e, utts(j).end); j += 1
      }
      if (e - s >= MinSpanDuration) out += ((s, e))
      i = j
    }
    out.result()
  }

  // ---- corpus files -------------------------------------------------------

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Write one JSONL file per episode under `dir`; returns the episodes. */
  def writeTranscripts(dir: File, seed: Long, episodes: Int,
      utterances: Int): Vector[Episode] = {
    dir.mkdirs()
    (0 until episodes).map { i =>
      val ep = episode(seed, i, utterances)
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, s"${ep.id}.jsonl")), StandardCharsets.UTF_8))
      try ep.utts.foreach { u =>
        w.write(s"""{"episode_id": ${jsonString(u.episodeId)}, "start": ${u.start}, """ +
          s""""end": ${u.end}, "speaker": ${jsonString(u.speaker)}, "text": ${jsonString(u.text)}}""")
        w.write('\n')
      } finally w.close()
      ep
    }.toVector
  }

  /** Write documents as JSONL (`doc_id`, `text`, `lang`, `source`). */
  def writeDocuments(f: File, docs: Seq[Doc]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try docs.foreach { d =>
      w.write(s"""{"doc_id": ${d.docId}, "text": ${jsonString(d.text)}, """ +
        s""""lang": ${jsonString(d.lang)}, "source": ${jsonString(d.source)}}""")
      w.write('\n')
    } finally w.close()
  }

  /** Exactly `count` curation documents from episodes `from`, `from + 1`,
    * …, and the first episode index left unused. Doc ids are the episode
    * index times 10^4 plus the document's position, so batches drawn from
    * disjoint episode ranges have disjoint ids. */
  def documents(seed: Long, from: Int, count: Int, utterances: Int): (Vector[Doc], Int) = {
    val out = Vector.newBuilder[Doc]
    var n = 0
    var i = from
    while (n < count) {
      val ep = episode(seed, i, utterances)
      val r = rng(seed, i, 0xD0C5)
      ep.docs.zipWithIndex.take(count - n).foreach { case ((text, planted), k) =>
        require(k < 10000, "too many documents in one episode")
        out += Doc(i.toLong * 10000L + k, text, Langs(r.nextInt(Langs.length)),
          Shows(ep.show), planted)
        n += 1
      }
      i += 1
    }
    (out.result(), i)
  }

  /** Normalization of the curation run's exact stage: lower-cased,
    * trimmed, whitespace runs collapsed. */
  def normText(s: String): String = s.trim.replaceAll("\\s+", " ").toLowerCase

  /** Transcript properties stamped into every record; `exactDupShare`
    * counts utterances whose normalized text appeared before. */
  final case class TranscriptProps(utterances: Long, episodes: Long, spans: Long,
      exactDupShare: Double)

  def transcriptProps(eps: Seq[Episode]): TranscriptProps = {
    val texts = eps.flatMap(_.utts.map(u => normText(u.text)))
    val seen = mutable.HashSet.empty[String]
    val exact = texts.count(t => !seen.add(t))
    TranscriptProps(texts.length.toLong, eps.length.toLong,
      eps.map(e => spans(e.utts).length.toLong).sum, exact.toDouble / texts.length.max(1))
  }

  /** Document properties: `exactDupShare` counts documents whose
    * normalized text already appeared (in `banked` or earlier in the
    * batch), `nearDupShare` the near-verbatim reads, and `kept` is what
    * an exact dedup against `banked` keeps. */
  final case class DocProps(episodes: Long, exactDupShare: Double, nearDupShare: Double,
      kept: Long)

  def docProps(docs: Seq[Doc], banked: Iterable[String] = Nil): DocProps = {
    val seen = mutable.HashSet.empty[String] ++ banked
    val exact = docs.count(d => !seen.add(normText(d.text)))
    val n = docs.length.max(1).toDouble
    DocProps(docs.map(_.docId / 10000L).distinct.length.toLong, exact / n,
      docs.count(_.planted == 2) / n, docs.length.toLong - exact)
  }
}
