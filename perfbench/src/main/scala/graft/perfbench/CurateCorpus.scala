package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.io.ShardWriter
import graft.ops.{CurationOps, Dedup}

/** `curate_corpus`: batch text curation. A batch is one curation pass
  * (exact and near-dup flags, span dedup, decontamination, token-budget
  * sampling, sharded write); a request is one key-range read of the
  * written shards.
  */
final class CurateCorpus extends Workload {
  val name = "curate_corpus"
  val why = "shuffle- and spill-heavy curation (exact/near dedup with " +
    "multi-round connected components, span dedup, decontamination); no " +
    "alignment or ANN kernel"
  val sz = Gen.CorpusSizes()
  val TokenBudget = 60000L
  val Shards = 8
  val RangeWidth = 64
  val SpanK = 8

  private var corpus: Gen.Corpus = _
  private var in: Path = _
  private var out: String = _
  private var spark: SparkSession = _
  private var rq: java.util.SplittableRandom = _

  // what each pass produced, for the gates
  private var exactKeep: Map[Long, Boolean] = Map.empty
  private var nearKeep: Map[Long, Boolean] = Map.empty
  private var contaminated: Set[Long] = Set.empty
  private var removed: Map[Long, Int] = Map.empty
  private var written: IndexedSeq[Long] = IndexedSeq.empty
  private val keptPerPass = mutable.ArrayBuffer.empty[Set[Long]]
  private var rangeFailures = 0L
  private var ranges = 0L

  def sizes: Seq[(String, Any)] = Seq("docs" -> sz.docs,
    "words_per_doc" -> s"${sz.wordsLo}..${sz.wordsHi}",
    "exact_dup_docs" -> (sz.docs * sz.exactFrac).toInt,
    "near_dup_chains" -> s"${sz.chains} x ${sz.chainLo}..${sz.chainHi}",
    "boilerplate_blocks" -> s"${sz.blocks} x ${sz.blockLen} words",
    "bench_rows" -> sz.benchRows, "contaminated_docs" ->
      Option(corpus).map(_.contaminated.size).getOrElse(0),
    "hot_lang_frac" -> sz.hotLangFrac, "token_budget" -> TokenBudget,
    "shards" -> Shards, "range_width" -> RangeWidth)

  def generate(dir: Path, seed: Long): Unit = {
    in = dir
    corpus = Gen.corpus(dir, seed, sz)
    rq = Gen.rng(seed, 9)
  }

  def setup(s: SparkSession, work: Path): Unit = {
    spark = s
    out = work.resolve("shards").toString
  }

  def readDocs(): DataFrame =
    spark.read.schema("id long, text string, lang string, source string")
      .json(in.resolve("docs.jsonl").toString)

  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(); p.count(); p
  }

  /** An untimed pass, so code generation and JIT happen before the
    * measurement; its written ids are one more pass for the kept-ids gate.
    */
  def warmup(): Unit = batch(): Unit

  def batch(): Op = {
    val outPath = new org.apache.hadoop.fs.Path(out)
    outPath.getFileSystem(spark.sessionState.newHadoopConf()).delete(outPath, true)
    val t0 = System.nanoTime()
    val docs = span("io")(persisted(readDocs()))
    val exact = span("ops.dedup")(persisted(Dedup.exactDedupFlags(docs, "text", "id")))
    val near = span("ops.dedup")(persisted(
      Dedup.simhash64ComponentFlags(docs, "text", "id")))
    val corpusKept = docs.filter(col("source") === "corpus")
      .join(near.filter(col("keep")).select("id"), "id")
    val spans = span("ops.curation")(persisted(
      CurationOps.spanDedup(corpusKept, "id", "text", SpanK)))
    val contam = span("ops.curation")(persisted(CurationOps.decontaminateAuto(
      docs, "text", "id", col("source") === "bench")))
    val sampled = span("ops.curation")(persisted(CurationOps.tokenBudgetSampleFlag(
      spans.select(col("id"), col("cleaned_text").as("text"),
          (col("n_tok") - col("n_removed")).as("n_keep"))
        .join(docs.select("id", "lang"), "id")
        .join(contam.filter(col("contaminated")).select("id"), Seq("id"), "left_anti"),
      col("lang"), col("n_keep"), col("id"), TokenBudget, "perfbench")))
    span("io")(ShardWriter.writeShardsDerived(
      sampled.filter(col("sampled")).select("id", "lang", "text"), out, "id", Shards))
    val ns = System.nanoTime() - t0

    // what the pass produced, collected untimed for the gates
    def flags(df: DataFrame) =
      df.select("id", "keep").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    exactKeep = flags(exact)
    nearKeep = flags(near)
    contaminated = contam.filter(col("contaminated")).select("id").collect()
      .map(_.getLong(0)).toSet
    removed = spans.select("id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    written = spark.read.parquet(out).select("id").collect().map(_.getLong(0))
      .sorted.toIndexedSeq
    keptPerPass += written.toSet
    Seq(docs, exact, near, spans, contam, sampled).foreach(_.unpersist())
    Op("batch", ns, corpus.docs.size, written.nonEmpty)
  }

  def request(): Op = {
    val session = spark; import session.implicits._
    val lo = corpus.docs(rq.nextInt(corpus.docs.size)).id
    val hi = lo + RangeWidth - 1
    val t0 = System.nanoTime()
    val got = spanCounted("io", (a: Array[Long]) => a.length.toLong) {
      ShardWriter.readKeyRange(spark, out, "id", lo, hi).select("id").as[Long].collect()
    }
    val ns = System.nanoTime() - t0
    val ok = got.sorted.toSeq == written.filter(i => i >= lo && i <= hi)
    ranges += 1
    if (!ok) rangeFailures += 1
    Op("range_read", ns, got.length, ok)
  }
  def primaryRequest = "range_read"

  def kernels(t: Tracer): Unit = {
    val docs = readDocs().select("id", "text")
    Kernels.rowsPerS(t, "simhash64", docs, 20)(d => Dedup.simhash64Over(d,
      TextFunctions.wordShingles(col("text"), 3), "id").agg(max(col("simhash64"))))
    Kernels.rowsPerS(t, "winnow", docs, 20)(
      _.agg(sum(size(TextFunctions.winnowedFingerprints(col("text"))))))
  }

  // --- brute-force references
  private lazy val refExact: Map[Long, Boolean] =
    corpus.docs.groupBy(_.text).values.flatMap { g =>
      val keep = g.map(_.id).min
      g.map(d => d.id -> (d.id == keep))
    }.toMap

  /** Union-find over every pair of exact keepers within Hamming 2. */
  private lazy val refNear: Map[Long, Boolean] = {
    val keepers = corpus.docs.filter(d => refExact(d.id))
    val ids = keepers.map(_.id).toArray
    val codes = keepers.map(d => Gen.simhash64(d.text)).toArray
    val parent = ids.indices.toArray
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) {
        if (java.lang.Long.bitCount(codes(i) ^ codes(j)) <= 2) {
          val a = find(i); val b = find(j)
          if (a != b) parent(math.max(a, b)) = math.min(a, b)
        }
        j += 1
      }
      i += 1
    }
    val rep = ids.indices.groupBy(find).values.flatMap { g =>
      val m = g.map(ids(_)).min
      g.map(k => ids(k) -> (ids(k) == m))
    }.toMap
    corpus.docs.map(d => d.id -> (refExact(d.id) && rep.getOrElse(d.id, true))).toMap
  }

  private def planted: Seq[Long] =
    (corpus.exactGroups ++ corpus.chains).flatMap(g => g.filter(_ != g.min))

  def quality: Double = {
    val p = planted
    p.count(id => nearKeep.get(id).contains(false)).toDouble / p.size
  }

  def gates(): Seq[(String, Boolean, String)] = {
    val exactDiff = corpus.docs.count(d => !exactKeep.get(d.id).contains(refExact(d.id)))
    val nearDiff = corpus.docs.count(d => !nearKeep.get(d.id).contains(refNear(d.id)))
    val missedContam = corpus.contaminated.filterNot(contaminated)
    // every kept carrier of a boilerplate block but its first loses the block
    val untrimmed = corpus.boilerplate.flatMap { ids =>
      val kept = ids.filter(nearKeep.getOrElse(_, false)).sorted
      kept.drop(1).filter(id => removed.getOrElse(id, 0) < corpus.boilerplateLen)
    }
    val allowed = written.forall(id => nearKeep.getOrElse(id, false) && !contaminated(id))
    Seq(
      ("exact_flags", exactDiff == 0, s"$exactDiff docs differ from the brute-force exact groups"),
      ("near_dup_flags", nearDiff == 0,
        s"$nearDiff docs differ from all-pairs Hamming<=2 union-find; " +
          f"planted dup docs flagged: $quality%.4f"),
      ("decontamination", missedContam.isEmpty,
        s"${missedContam.size} of ${corpus.contaminated.size} planted contaminated docs missed"),
      ("span_dedup", untrimmed.isEmpty,
        s"${untrimmed.size} later carriers of a boilerplate block kept it"),
      ("kept_ids_stable", keptPerPass.distinct.size == 1 && allowed,
        s"${keptPerPass.distinct.size} distinct kept sets over ${keptPerPass.size} passes; " +
          s"${written.size} written ids all dedup keepers, none contaminated: $allowed"),
      ("range_reads", rangeFailures == 0,
        s"$rangeFailures of $ranges key-range reads disagree with the written ids"))
  }

  def named(m: Measured): Seq[(String, Double, String)] = {
    val lat = m.latMs("range_read")
    Seq(("curate_docs_per_s", m.batchItemsPerS, "docs/s"),
      ("dup_recall_frac", quality, "fraction"),
      ("range_read_p50_ms", Stats.median(lat), s"ms (n=${lat.size})")) ++
      Stats.tailPct(lat.size).map(p =>
        (s"range_read_p${p}_ms", Stats.pct(lat, p), s"ms (n=${lat.size})"))
  }
}
