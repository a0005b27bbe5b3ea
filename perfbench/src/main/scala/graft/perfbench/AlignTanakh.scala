package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.align.AlignerDataset
import graft.functions.GraftFunctions
import graft.io.{AlignmentWriter, BibleReader}
import graft.model.{ChapterAlignment, TranscribedWord}
import graft.ops.{DurationSanity, PlaybackLookup}

/** `align_tanakh`: the paper's own pipeline over a Tanakh-shaped corpus.
  * A batch is one pass (read → align ×3 → validate → write); a request is
  * one viewer lookup: read one chapter's written alignment back and ask
  * which words are active at 8 playhead times.
  */
final class AlignTanakh extends Workload {
  val name = "align_tanakh"
  val why = "the paper's pipeline: CPU-bound per-chapter aligners, one " +
    "cogroup shuffle, writes then playhead reads; no dedup, ANN or streaming code"
  val sz = Gen.TanakhSizes()
  val methods = Seq("greedy", "windowed", "verse_fuzzy")
  val Playheads = 8

  private var truth: Gen.Tanakh = _
  private var in: Path = _
  private var out: String = _
  private var spark: SparkSession = _
  private var rq: java.util.SplittableRandom = _
  private var lookupFailures = 0L
  private var lookups = 0L
  private var checked = 0L

  def sizes: Seq[(String, Any)] = Seq("books" -> Gen.books.size,
    "chapters" -> Gen.books.map(_._2).sum,
    "verses" -> Option(truth).map(_.verses).getOrElse(0),
    "words" -> Option(truth).map(_.words).getOrElse(0),
    "transcript_words" -> Option(truth).map(_.transcriptWords).getOrElse(0),
    "methods" -> methods.mkString("+"), "playheads_per_request" -> Playheads)

  def generate(dir: Path, seed: Long): Unit = {
    in = dir
    truth = Gen.tanakh(dir, seed, sz)
    rq = Gen.rng(seed, 9)
  }

  def setup(s: SparkSession, work: Path): Unit = {
    spark = s
    out = work.resolve("alignments").toString
  }

  private val asrSchema = Encoders.product[TranscribedWord].schema
  def verses() = BibleReader.readVerses(spark, in.resolve("bible.json").toString)
  def transcript(): Dataset[TranscribedWord] = {
    val session = spark; import session.implicits._
    spark.read.schema(asrSchema).json(in.resolve("asr.jsonl").toString)
      .as[TranscribedWord]
  }
  def durations(): DataFrame =
    spark.read.schema("book string, chapter int, audio_duration double")
      .json(in.resolve("durations.jsonl").toString)

  def batch(): Op = pass(None)

  /** A pass over the five books of the Torah only (a fifth of the
    * chapters): the same plans on less input, so code generation and JIT
    * happen before the measurement.
    */
  def warmup(): Unit = pass(Some(Gen.books.take(5).map(_._1))): Unit

  private def pass(books: Option[Seq[String]]): Op = {
    def only[T](d: Dataset[T]) = books.fold(d)(b => d.filter(col("book").isin(b: _*)))
    val t0 = System.nanoTime()
    val vs = span("io") {
      val v = only(verses()).persist(); v.count(); v
    }
    val (ts, audio) = span("io") {
      val t = only(transcript()).persist(); t.count()
      val a = only(durations()).persist(); a.count()
      (t, a)
    }
    var ok = true
    methods.foreach { m =>
      val aligned = span("align") {
        val a = AlignerDataset.alignChapters(vs, ts, m).persist()
        a.count(); a
      }
      val validated = span("ops.joins") {
        DurationSanity.validate(aligned.toDF(), audio, Seq("book", "chapter"),
          "totalDuration", "overallConfidence", "verseCount", "audio_duration")
          .count()
      }
      ok &&= books.nonEmpty || validated == truth.chapters.size
      span("io")(AlignmentWriter.write(aligned, s"$out/$m"))
      aligned.unpersist()
    }
    vs.unpersist(); ts.unpersist(); audio.unpersist()
    Op("batch", System.nanoTime() - t0, truth.chapters.size, ok)
  }

  private lazy val outSchema = AlignmentWriter.toOutputDF(
    spark.emptyDataset(Encoders.product[ChapterAlignment])).schema

  /** Written alignments, all books or the directory of one book. */
  def readBack(method: String, book: Option[String] = None): DataFrame =
    spark.read.schema(outSchema).option("basePath", s"$out/$method")
      .json(book.fold(s"$out/$method")(b => s"$out/$method/book=$b"))

  private def toAlignments(df: DataFrame): Dataset[ChapterAlignment] = {
    val session = spark; import session.implicits._
    df.select(col("book"), col("chapter"),
      col("total_duration").as("totalDuration"),
      col("overall_confidence").as("overallConfidence"),
      col("verse_count").as("verseCount"),
      col("metadata.alignment_method").as("method"),
      col("metadata.transcribed_word_count").as("transcribedWordCount"),
      transform(col("verses"), v => struct(
        v("verse_num").as("verseNum"), v("text").as("text"),
        v("start").as("start"), v("end").as("end"),
        v("word_count").as("wordCount"), v("confidence").as("confidence"),
        transform(v("words"), w => struct(w("text").as("text"),
          w("start").as("start"), w("end").as("end"),
          w("confidence").as("confidence"))).as("words"))).as("verses"))
      .as[ChapterAlignment]
  }

  def request(): Op = {
    val session = spark; import session.implicits._
    // golden-ratio stride over the chapters from the first: every run
    // spreads its few lookups over books in proportion to their chapters
    // and reads back the same chapters, so the seed changes what they
    // hold but not the mix of book sizes a run reads
    val n = truth.chapters.size
    val c = truth.chapters(((lookups * math.round(n * 0.618)) % n).toInt)
    val ts = Seq.fill(Playheads)(Gen.round(rq.nextDouble() * c.duration, 3))
    val heads = ts.map(t => (c.book, c.chapter, t)).toDF("book", "chapter", "t")
    val t0 = System.nanoTime()
    val chapter = span("io")(toAlignments(readBack("windowed", Some(c.book))
      .filter(col("chapter") === c.chapter)))
    val hits = spanCounted("ops.joins", (h: Array[(Double, Int, Int)]) => h.length.toLong) {
      PlaybackLookup.activeWords(chapter, heads)
        .select(col("t"), col("verse_num"), col("word_idx"))
        .as[(Double, Int, Int)].collect()
    }
    val ns = System.nanoTime() - t0
    lookups += 1
    // every eighth answer against a brute-force interval search on the driver
    val ok = lookups % 8 != 1 || {
      val a = chapter.collect()
      val expected = for {
        t <- ts; x <- a; v <- x.verses
        (w, i) <- v.words.zipWithIndex if w.start <= t && t < w.end
      } yield (t, v.verseNum, i)
      a.length == 1 && hits.toSeq.sorted == expected.sorted
    }
    if (lookups % 8 == 1) checked += 1
    if (!ok) lookupFailures += 1
    Op("lookup", ns, Playheads, ok)
  }
  def primaryRequest = "lookup"

  def kernels(t: Tracer): Unit = {
    // partial_ratio over (verse text, its chapter's first transcript
    // words): the aligners' similarity kernel on this workload's input
    val pairs = verses().select(col("text"), col("book"), col("chapter"))
      .join(transcript().groupBy("book", "chapter")
        .agg(concat_ws(" ", slice(collect_list(col("text")), 1, 12)).as("asr")),
        Seq("book", "chapter"))
      .select(col("text"), col("asr"))
    Kernels.rowsPerS(t, "partial_ratio", pairs, 5)(
      _.agg(sum(GraftFunctions.partial_ratio(col("text"), col("asr")))))
  }

  // --- quality and gates, from the last pass's written output
  private lazy val scored = score("windowed")

  private def score(method: String): AlignTanakh.Score = {
    val got = toAlignments(readBack(method)).collect()
      .map(a => (a.book, a.chapter) -> a).toMap
    val asr = transcript().collect().map(t => (t.book, t.chapter, t.seq) -> t).toMap
    var matched = 0L; var total = 0L; var err = 0.0
    var allErr = 0.0; var nWords = 0L
    truth.chapters.foreach { c =>
      got.get((c.book, c.chapter)).foreach { a =>
        val words = a.verses.flatMap(_.words)
        c.seq.indices.foreach { i =>
          if (i < words.size) { allErr += math.abs(words(i).start - c.start(i)); nWords += 1 }
          if (c.seq(i) >= 0) {
            total += 1
            val t = asr((c.book, c.chapter, c.seq(i)))
            if (i < words.size && words(i).start == t.start && words(i).end == t.end) {
              matched += 1; err += math.abs(words(i).start - c.start(i))
            }
          }
        }
      }
    }
    AlignTanakh.Score(matched, total, if (matched > 0) err / matched else 0.0,
      if (nWords > 0) allErr / nWords else Double.NaN, got.size.toLong)
  }

  def quality: Double = scored.frac

  def gates(): Seq[(String, Boolean, String)] = {
    val w = scored
    val n = truth.chapters.size
    Seq(
      ("chapters_written", w.chapters == n,
        s"${w.chapters} windowed chapters read back of $n"),
      ("align_matched_frac", w.frac >= 0.75,
        f"windowed ${w.frac}%.4f (>= 0.75)"),
      ("timestamp_error", w.matchedErr == 0.0 && w.allErr <= 5.0,
        f"windowed mean |start - true start|: ${w.matchedErr}%.4f s over " +
          f"matched words (== 0), ${w.allErr}%.4f s over all words (<= 5)"),
      ("playhead_answers", lookupFailures == 0 && checked > 0,
        s"$lookupFailures of $checked sampled lookups (of $lookups) disagree " +
          "with the driver-side interval search"))
  }

  def named(m: Measured): Seq[(String, Double, String)] = {
    val lat = m.latMs("lookup")
    val tail = Stats.tailPct(lat.size)
    Seq(("align_chapters_per_s", m.batchItemsPerS, "chapters/s"),
      ("align_matched_frac", quality, "fraction"),
      ("align_ts_err_s", scored.allErr, "s"),
      ("lookup_p50_ms", Stats.median(lat), s"ms (n=${lat.size})")) ++
      tail.map(p => (s"lookup_p${p}_ms", Stats.pct(lat, p), s"ms (n=${lat.size})"))
  }
}

object AlignTanakh {
  /** Transcript words matched to their true verse word, of all transcript
    * words; mean |start − true start| over matched and over all words.
    */
  final case class Score(matched: Long, total: Long, matchedErr: Double,
      allErr: Double, chapters: Long) {
    def frac: Double = matched.toDouble / total
  }
}
