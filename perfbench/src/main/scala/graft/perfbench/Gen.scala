package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input is a pure function of the seed:
  * the same seed writes byte-identical files. The engine only ever sees
  * the files; the truth each generator keeps stays in the benchmark.
  */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  def writeLines(path: java.nio.file.Path)(body: (String => Unit) => Unit)
  : Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), UTF_8), 1 << 16)
    try body(line => { w.write(line); w.write('\n') }) finally w.close()
  }

  def fmt(x: Double, dp: Int): String =
    java.math.BigDecimal.valueOf(x).setScale(dp,
      java.math.RoundingMode.HALF_EVEN).toPlainString

  def round(x: Double, dp: Int): Double = fmt(x, dp).toDouble

  // ---------------------------------------------------------------- Tanakh

  /** The 39 books of the Tanakh with their real chapter counts (929). */
  val books: Seq[(String, Int)] = Seq(
    "Genesis" -> 50, "Exodus" -> 40, "Leviticus" -> 27, "Numbers" -> 36,
    "Deuteronomy" -> 34, "Joshua" -> 24, "Judges" -> 21, "Ruth" -> 4,
    "I Samuel" -> 31, "II Samuel" -> 24, "I Kings" -> 22,
    "II Kings" -> 25, "I Chronicles" -> 29, "II Chronicles" -> 36,
    "Ezra" -> 10, "Nehemiah" -> 13, "Esther" -> 10, "Job" -> 42,
    "Psalms" -> 150, "Proverbs" -> 31, "Ecclesiastes" -> 12,
    "Song of Songs" -> 8, "Isaiah" -> 66, "Jeremiah" -> 52,
    "Lamentations" -> 5, "Ezekiel" -> 48, "Daniel" -> 12, "Hosea" -> 14,
    "Joel" -> 3, "Amos" -> 9, "Obadiah" -> 1, "Jonah" -> 4, "Micah" -> 7,
    "Nahum" -> 3, "Habakkuk" -> 3, "Zephaniah" -> 3, "Haggai" -> 2,
    "Zechariah" -> 14, "Malachi" -> 4)

  private val letters = "אבגדהוזחטיכלמנסעפצקרשת"
  // sheva .. qubuts, then dagesh
  private val nikkud = (0x05B0 to 0x05BB).map(_.toChar) :+ 'ּ'

  /** Truth for one chapter, words flattened in verse order. `seq` is the
    * index of the word's transcript entry, or -1 when the ASR dropped it.
    */
  final case class ChapterTruth(book: String, chapter: Int,
      start: Array[Double], end: Array[Double], seq: Array[Int],
      duration: Double)

  final case class Tanakh(chapters: IndexedSeq[ChapterTruth],
      verses: Int, words: Int, transcriptWords: Int)

  /** Sizes: 929 chapters; `versesLo..versesHi` verses per chapter and
    * `wordsLo..wordsHi` words per verse; 5% of words dropped by the ASR
    * and 8% perturbed by one letter.
    */
  final case class TanakhSizes(versesLo: Int = 3, versesHi: Int = 7,
      wordsLo: Int = 4, wordsHi: Int = 8, vocab: Int = 6000,
      dropP: Double = 0.05, perturbP: Double = 0.08)

  def tanakh(dir: java.nio.file.Path, seed: Long, sz: TanakhSizes)
  : Tanakh = {
    val r = rng(seed, 1)
    val vocab = Array.fill(sz.vocab) {
      val n = 2 + r.nextInt(5)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.append(letters.charAt(r.nextInt(letters.length)))
        if (r.nextDouble() < 0.8) sb.append(nikkud(r.nextInt(nikkud.size)))
      }
      sb.toString
    }
    // Zipf(0.9) word frequencies, sampled by inverse CDF
    val cdf = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9)).scanLeft(0.0)(_ + _)
      .tail.toArray
    def word(): String = {
      val u = r.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    def strip(w: String): String = w.filter(c => c >= 'א' && c <= 'ת')

    val chapters = ArrayBuffer.empty[ChapterTruth]
    val bible = new StringBuilder("{")
    var nVerses = 0; var nWords = 0; var nTrans = 0
    Gen.writeLines(dir.resolve("asr.jsonl")) { asr =>
      books.zipWithIndex.foreach { case ((book, nCh), bi) =>
        if (bi > 0) bible.append(',')
        bible.append('"').append(book).append("\":[")
        (1 to nCh).foreach { ch =>
          if (ch > 1) bible.append(',')
          bible.append('[')
          val nV = sz.versesLo + r.nextInt(sz.versesHi - sz.versesLo + 1)
          val vw = Array.fill(nV)(sz.wordsLo +
            r.nextInt(sz.wordsHi - sz.wordsLo + 1))
          val total = vw.sum
          val st = new Array[Double](total)
          val en = new Array[Double](total)
          val sq = new Array[Int](total)
          var t = 0.5 + r.nextDouble()
          var wi = 0
          var seq = 0
          vw.zipWithIndex.foreach { case (n, vi) =>
            if (vi > 0) bible.append(',')
            bible.append('[')
            (0 until n).foreach { j =>
              val w = word()
              if (j > 0) bible.append(',')
              bible.append('"').append(w).append('"')
              val s = round(t, 2)
              val e = round(t + 0.18 + 0.07 * strip(w).length +
                0.15 * r.nextDouble(), 2)
              st(wi) = s; en(wi) = e
              t = e + 0.02 + 0.1 * r.nextDouble()
              if (r.nextDouble() < sz.dropP) sq(wi) = -1
              else {
                var text = strip(w)
                if (r.nextDouble() < sz.perturbP) {
                  val p = r.nextInt(text.length)
                  text = text.updated(p, letters.charAt(r.nextInt(letters.length)))
                }
                asr(s"""{"book":"$book","chapter":$ch,"seq":$seq,""" +
                  s""""text":"$text","start":${fmt(s, 2)},""" +
                  s""""end":${fmt(e, 2)},"confidence":""" +
                  fmt(0.55 + 0.44 * r.nextDouble(), 3) + "}")
                sq(wi) = seq
                seq += 1
              }
              wi += 1
            }
            bible.append(']')
            t += 0.3
          }
          bible.append(']')
          nVerses += nV; nWords += total; nTrans += seq
          chapters += ChapterTruth(book, ch, st, en, sq,
            round(t + 0.5 + 1.5 * r.nextDouble(), 2))
        }
        bible.append(']')
      }
    }
    bible.append('}')
    writeLines(dir.resolve("bible.json"))(_(bible.toString))
    writeLines(dir.resolve("durations.jsonl")) { out =>
      chapters.foreach(c => out(s"""{"book":"${c.book}","chapter":""" +
        s"""${c.chapter},"audio_duration":${fmt(c.duration, 2)}}"""))
    }
    Tanakh(chapters.toIndexedSeq, nVerses, nWords, nTrans)
  }

  // ---------------------------------------------------------------- corpus

  /** 3-word shingle SimHash, written from its definition (distinct
    * space-joined shingles, md5 bit j votes for code bit 63-j): the
    * brute-force reference the near-dup gate compares against.
    */
  def simhash64(text: String): Long = {
    val toks = text.split(' ').filter(_.nonEmpty)
    val sums = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).distinct
      .foreach { sh =>
        val d = md.digest(sh.getBytes(UTF_8))
        var j = 0
        while (j < 64) {
          sums(j) += (if (((d(j >> 3) >> (7 - (j & 7))) & 1) == 1) 1 else -1)
          j += 1
        }
      }
    var code = 0L
    var j = 0
    while (j < 64) { if (sums(j) > 0) code |= 1L << (63 - j); j += 1 }
    code
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Planted structure, by doc id. */
  final case class Corpus(docs: IndexedSeq[Doc],
      exactGroups: Seq[Seq[Long]], chains: Seq[Seq[Long]],
      boilerplate: Seq[Seq[Long]], boilerplateLen: Int,
      contaminated: Seq[Long])

  final case class CorpusSizes(docs: Int = 1600, wordsLo: Int = 40,
      wordsHi: Int = 90, vocab: Int = 30000, exactFrac: Double = 0.05,
      chains: Int = 25, chainLo: Int = 3, chainHi: Int = 5,
      blocks: Int = 6, blockLen: Int = 16, blockFrac: Double = 0.12,
      benchRows: Int = 30, contaminated: Int = 20, hotLangFrac: Double = 0.9)

  def corpus(dir: java.nio.file.Path, seed: Long, sz: CorpusSizes): Corpus = {
    val r = rng(seed, 2)
    def tok(): String = {
      val n = 3 + r.nextInt(6)
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
      sb.toString
    }
    val vocab = Array.fill(sz.vocab)(tok())
    def words(n: Int): Vector[String] = Vector.fill(n)(vocab(r.nextInt(vocab.length)))
    def lang(): String =
      if (r.nextDouble() < sz.hotLangFrac) "he"
      else Seq("en", "ar", "fr", "ru")(r.nextInt(4))
    val blocks = Seq.fill(sz.blocks)(words(sz.blockLen))
    val bench = Seq.fill(sz.benchRows)(words(30 + r.nextInt(30)))

    val texts = ArrayBuffer.empty[Vector[String]]
    val srcs = ArrayBuffer.empty[String]
    def add(ws: Vector[String], src: String = "corpus"): Long = {
      texts += ws; srcs += src; texts.size.toLong
    }
    def body(): Vector[String] = words(sz.wordsLo + r.nextInt(sz.wordsHi - sz.wordsLo + 1))

    val blockDocs = Array.fill(sz.blocks)(ArrayBuffer.empty[Long])
    val contaminated = ArrayBuffer.empty[Long]
    val chains = ArrayBuffer.empty[Seq[Long]]
    val exactGroups = ArrayBuffer.empty[Seq[Long]]
    val nChainDocs = (0 until sz.chains).map(_ => sz.chainLo + r.nextInt(sz.chainHi - sz.chainLo + 1))
    val nPlain = sz.docs - sz.benchRows - nChainDocs.sum
    // plain docs, some carrying a boilerplate block or a bench passage
    (0 until nPlain).foreach { _ =>
      var ws = body()
      if (r.nextDouble() < sz.blockFrac) {
        val b = r.nextInt(sz.blocks)
        ws = if (r.nextBoolean()) blocks(b) ++ ws else ws ++ blocks(b)
        blockDocs(b) += add(ws)
      } else if (contaminated.size < sz.contaminated && r.nextDouble() < 0.02) {
        val b = bench(r.nextInt(bench.size))
        val at = r.nextInt(b.size - 20)
        val cut = r.nextInt(ws.size)
        ws = ws.take(cut) ++ b.slice(at, at + 20) ++ ws.drop(cut)
        contaminated += add(ws)
      } else add(ws)
    }
    // near-dup chains: each member is one edit (an appended word or a
    // replaced last word) from the previous, kept only when the edit
    // moves the reference SimHash by at most 2 bits; a chain whose next
    // step finds no such edit starts over from a new first document
    def chain(len: Int): Option[Seq[Vector[String]]] = {
      val docs = ArrayBuffer(body())
      var code = simhash64(docs.last.mkString(" "))
      while (docs.size < len) {
        val cur = docs.last
        val found = Iterator.continually {
          val next = if (r.nextBoolean()) cur :+ vocab(r.nextInt(vocab.length))
            else cur.init :+ vocab(r.nextInt(vocab.length))
          (next, simhash64(next.mkString(" ")))
        }.take(200).find { case (_, c) => java.lang.Long.bitCount(code ^ c) <= 2 }
        found match {
          case Some((next, c)) => docs += next; code = c
          case None => return None
        }
      }
      Some(docs.toSeq)
    }
    nChainDocs.foreach { len =>
      val docs = Iterator.continually(chain(len)).flatten.next()
      chains += docs.map(add(_))
    }
    bench.foreach(b => add(b, "bench"))
    // exact duplicates: copies of earlier plain docs, groups of 2..4
    val nExact = (sz.docs * sz.exactFrac).toInt
    var planted = 0
    while (planted < nExact) {
      val src = 1L + r.nextInt(nPlain)
      val copies = 1 + r.nextInt(3)
      val g = ArrayBuffer(src)
      (0 until copies).foreach(_ => g += add(texts((src - 1).toInt), srcs((src - 1).toInt)))
      exactGroups += g.toSeq
      planted += copies
    }
    // shuffle ids so planted structure is spread over the id space
    val perm = (1L to texts.size.toLong).toArray
    var i = perm.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    def id(old: Long): Long = perm((old - 1).toInt)
    val docs = texts.indices.map(k =>
      Doc(id(k + 1L), texts(k).mkString(" "), lang(), srcs(k))).sortBy(_.id)
    writeLines(dir.resolve("docs.jsonl")) { out =>
      docs.foreach(d => out(s"""{"id":${d.id},"text":"${d.text}",""" +
        s""""lang":"${d.lang}","source":"${d.source}"}"""))
    }
    Corpus(docs, exactGroups.map(_.map(id)).toSeq, chains.map(_.map(id)).toSeq,
      blockDocs.map(_.map(id).toSeq).toSeq, sz.blockLen,
      contaminated.map(id).toSeq)
  }

  // ------------------------------------------------------------ embeddings

  /** Unit vectors in `clusters` clusters of `subclusters` tight groups
    * each, so every point has a clear set of nearest neighbours.
    */
  final case class EmbSizes(n: Int = 6000, dim: Int = 32, clusters: Int = 24,
      subclusters: Int = 16, queries: Int = 512, batchRows: Int = 200,
      dupFrac: Double = 0.25)

  final class Embeddings(seed: Long, val sz: EmbSizes) {
    private val r0 = rng(seed, 3)
    val centers: Array[Array[Double]] = Array.fill(sz.clusters)(unit(gauss(r0, 1.0)))
    private val subs: Array[Array[Double]] =
      Array.tabulate(sz.clusters * sz.subclusters)(i =>
        unit(add(centers(i / sz.subclusters), gauss(r0, 0.15))))
    private def add(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x + y }
    private def gauss(r: SplittableRandom, s: Double): Array[Double] =
      Array.fill(sz.dim) {
        // Box-Muller
        val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
        s * math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
      }
    private def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => round(x / n, 6))
    }
    def point(r: SplittableRandom): Array[Double] =
      unit(add(subs(r.nextInt(subs.length)), gauss(r, 0.03)))
    def near(r: SplittableRandom, v: Array[Double]): Array[Double] =
      unit(add(v, gauss(r, 0.004)))

    /** Writes the corpus rows (ids 1..n) and the cluster centres (the
      * IVF codebook, ids 0..clusters-1); returns the held-out queries.
      */
    def write(dir: java.nio.file.Path): Array[Array[Double]] = {
      val r = rng(seed, 4)
      val corpus = Array.fill(sz.n)(point(r))
      val queries = Array.fill(sz.queries)(point(r))
      def line(id: Long, v: Array[Double]) =
        s"""{"id":$id,"vec":[${v.map(fmt(_, 6)).mkString(",")}]}"""
      writeLines(dir.resolve("emb.jsonl")) { out =>
        corpus.zipWithIndex.foreach { case (v, i) => out(line(i + 1L, v)) }
      }
      writeLines(dir.resolve("centroids.jsonl")) { out =>
        centers.zipWithIndex.foreach { case (v, i) => out(line(i.toLong, v)) }
      }
      queries
    }

    private val batches = ArrayBuffer.empty[IndexedSeq[(Long, Array[Double])]]

    /** Ingest micro-batch `b`: ids from 2·10⁶; a `dupFrac` share are
      * near-copies of rows from earlier batches, so the ingest drops them.
      */
    def batch(b: Int): IndexedSeq[(Long, Array[Double])] = {
      while (batches.size <= b) {
        val k = batches.size
        val r = rng(seed, 1000 + k)
        val base = 2000000L + k.toLong * sz.batchRows
        batches += (0 until sz.batchRows).map { i =>
          val v =
            if (k > 0 && r.nextDouble() < sz.dupFrac)
              near(r, batches(r.nextInt(k))(r.nextInt(sz.batchRows))._2)
            else point(r)
          (base + i, v)
        }
      }
      batches(b)
    }
  }
}
