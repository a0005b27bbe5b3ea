package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions
import graft.ops.{Pq, Similarity}
import graft.streaming.IdempotentSink

/** `index_rw`: writes beside reads on one vector index. Set-up builds an
  * IVF-PQ code and vector index pair, and seeds a streaming code tree
  * with the same corpus as ingest batch 0. A round restores that tree as
  * it stood after ingest batches 1 and 2, then ingests batches 3 and 4
  * into it (batch 4 folds 1 and 2), each followed by four requests: probes
  * of 16 held-out queries that read the tree as ingested so far, fold
  * debt included; the round's last request is a refined probe over the
  * pair.
  */
final class IndexRw extends Workload {
  val name = "index_rw"
  val why = "small ANN requests dominated by driver time, codebook " +
    "collects, cell pruning and files per cell, reading a code tree that " +
    "streaming ingest batches write and fold in between"
  val sz = Gen.EmbSizes()
  val M = 8; val K = 32; val NProbe = 4; val TopK = 10
  val QueryBatch = 16; val FoldEvery = 2
  val RecallQueries = 8
  val ProbeRecallFloor = 0.4; val RefinedRecallFloor = 0.8
  override val schedule: Option[Schedule] = Some(Schedule(batchesPerRound = 2, requestsPerBatch = 4))
  private val requestsPerRound = schedule.get.batchesPerRound * schedule.get.requestsPerBatch
  private val FirstRoundBatch = 3

  private var emb: Gen.Embeddings = _
  private var queries: Array[Array[Double]] = _
  private var in: Path = _
  private var spark: SparkSession = _
  private var cents: DataFrame = _
  private var cb: Pq.Codebook = _
  private var tau: Double = _
  private var streamRoot, flagsDir, seeded: String = _
  private var index, vectors: DataFrame = _
  private var nextBatch = 1
  private var roundRequests = 0
  private var nextQuery = 0
  private var shortAnswers = 0L

  def sizes: Seq[(String, Any)] = Seq("vectors" -> sz.n, "dim" -> sz.dim,
    "clusters" -> s"${sz.clusters} x ${sz.subclusters}",
    "held_out_queries" -> sz.queries,
    "pq" -> s"m=$M k=$K", "n_probe" -> NProbe, "top_k" -> TopK,
    "query_batch" -> QueryBatch, "ingest_batch_rows" -> sz.batchRows,
    "fold_every" -> s"$FoldEvery (tail)",
    "round" -> s"${schedule.get.batchesPerRound} batches x ${schedule.get.requestsPerBatch} requests",
    "recall_queries" -> RecallQueries)

  def generate(dir: Path, seed: Long): Unit = {
    in = dir
    emb = new Gen.Embeddings(seed, sz)
    queries = emb.write(dir)
  }

  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType))))
  private def corpus(): DataFrame =
    spark.read.schema(vecSchema).json(in.resolve("emb.jsonl").toString)
  private def frame(rows: Seq[(Long, Array[Double])], idCol: String, vecCol: String) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v.toSeq) }, 1),
      StructType(Seq(StructField(idCol, LongType), StructField(vecCol, ArrayType(DoubleType)))))

  def setup(s: SparkSession, work: Path): Unit = {
    spark = s
    val indexDir = work.resolve("pq_code").toString
    val vectorsDir = work.resolve("pq_vectors").toString
    streamRoot = work.resolve("stream").toString
    flagsDir = work.resolve("stream_flags").toString
    seeded = work.resolve("stream_seeded").toString
    val e = corpus().persist()
    cents = spark.read.schema(vecSchema).json(in.resolve("centroids.jsonl").toString)
      .withColumnRenamed("id", "cid").persist()
    cb = span("ops.pq")(Pq.train(e, "id", "vec", M, K, sampleN = 2000, iters = 5))
    tau = span("ops.pq")(Pq.calibrateTauDist(e, "id", "vec", cb, cosThreshold = 0.98,
      sampleN = 300))
    span("ops.pq")(Pq.ivfPqIndexWritePair(e, "id", "vec", cents, "cid", "vec",
      cb, indexDir, vectorsDir))
    span("streaming")(ingest(e, 0))
    e.unpersist()
    // the refined probe reads the pair through handles opened once
    index = spark.read.parquet(indexDir)
    vectors = spark.read.parquet(vectorsDir)
  }

  private def ingest(df: DataFrame, b: Int): Unit =
    IdempotentSink.semanticIngestPqByBatch(streamRoot, flagsDir, "id", "vec",
      cents, "cid", "vec", cb, tau, nProbe = NProbe, foldEvery = FoldEvery,
      foldTail = true)(df, b)

  /** Rows of ingest batch `b` (1-based; the same rows in every round). */
  private def batchRows(b: Int) = emb.batch(b - 1)

  /** The tree and its flags, each with the snapshot rounds restore. */
  private def snapshots = Seq(streamRoot -> new File(seeded, "stream"),
    flagsDir -> new File(seeded, "flags"))

  override def startRound(): Unit = {
    snapshots.foreach { case (live, snap) =>
      FileUtils.deleteDirectory(new File(live))
      FileUtils.copyDirectory(snap, new File(live))
    }
    nextBatch = FirstRoundBatch
    roundRequests = 0
  }

  private def treeFiles(): Long = {
    val s = Files.walk(Paths.get(streamRoot, "code"))
    try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
  }

  def batch(): Op = {
    val b = nextBatch
    val df = frame(batchRows(b), "id", "vec")
    val t0 = System.nanoTime()
    span("streaming")(ingest(df, b))
    val ns = System.nanoTime() - t0
    tracer.foreach(_.note("streaming.index_files_after_batch", treeFiles().toDouble))
    nextBatch += 1
    Op("batch", ns, sz.batchRows, ok = true)
  }

  /** Ingests the batches before the first round's and snapshots the tree
    * and its flags for the rounds to restore; these batches and one probe
    * compile the ingest and probe plans before timing. The round's fold
    * is left cold: on a 4-CPU container it ran within 0.1 s of its warm
    * time, while warming it would cost two more batches per run.
    */
  def warmup(): Unit = {
    nextBatch = 1
    (1 until FirstRoundBatch).foreach(_ => batch())
    snapshots.foreach { case (live, snap) => FileUtils.copyDirectory(new File(live), snap) }
    request("probe"): Unit
  }

  private def queryFrame(from: Int, n: Int): DataFrame =
    frame((0 until n).map { i =>
      val q = (from + i) % queries.length
      (1000000L + q, queries(q))
    }, "qid", "qvec")

  /** The primary request: a batch probe of the streaming code tree as it
    * stands, listed afresh as a reader opening the index would.
    */
  def probe(q: DataFrame): DataFrame =
    Pq.ivfPqSearchBatch(q, "qid", "qvec", spark.read.parquet(s"$streamRoot/code"),
      "id", cents, "cid", "vec", cb, TopK, NProbe)

  def refined(q: DataFrame): DataFrame =
    Pq.ivfPqSearchRefined(q, "qid", "qvec", index, vectors,
      "id", "vec", cents, "cid", "vec", cb, TopK, NProbe)

  def request(): Op = {
    roundRequests += 1
    request(if (roundRequests == requestsPerRound) "refined" else "probe")
  }

  private def request(kind: String): Op = {
    val q = queryFrame(nextQuery, QueryBatch)
    nextQuery += QueryBatch
    val t0 = System.nanoTime()
    val rows = spanCounted("ops.pq", (a: Array[Row]) => a.length.toLong) {
      (if (kind == "probe") probe(q) else refined(q)).select("qid", "id").collect()
    }
    val ns = System.nanoTime() - t0
    val ok = rows.length == QueryBatch * TopK
    if (!ok) shortAnswers += 1
    Op(kind, ns, QueryBatch, ok)
  }
  def primaryRequest = "probe"

  def kernels(t: Tracer): Unit = {
    val q = queries(0).toSeq
    val lut = GraftFunctions.pq_lut(typedLit(q), typedLit(cb.flat), M, K)
    Kernels.rowsPerS(t, "pq_adc", index.select("pq_code"), 50)(
      _.agg(sum(GraftFunctions.pq_adc(lut, col("pq_code")))))
    Kernels.rowsPerS(t, "cosine_sim", vectors.select("vec"), 50)(
      _.agg(sum(GraftFunctions.cosine_sim(col("vec"), typedLit(q)))))
  }

  /** Recall@10 of the primary probe over the streaming tree as the last
    * round left it (corpus plus the ingested rows the flags kept), and of
    * the refined probe over the pair (corpus only), for the first
    * `RecallQueries` held-out queries. The exact answers come from one
    * brute-force `knnCosine` per query over the tree's rows and every
    * recall query, ranked deep enough that the top 10 of the tree's rows
    * and the top 10 of the corpus rows are both in it.
    */
  private lazy val recalls: (Double, Double) = {
    val q = queryFrame(0, RecallQueries)
    val kept = spark.read.parquet(flagsDir).filter(col("keep") && col("_batch") > 0)
      .select("id").collect().map(_.getLong(0)).toSet
    val ingested = (1 until nextBatch).flatMap(batchRows).filter(r => kept(r._1))
    val qrows = (0 until RecallQueries).map(i => (1000000L + i) -> queries(i))
    val base = corpus().union(frame(ingested ++ qrows, "id", "vec")).persist()
    val depth = TopK + RecallQueries + ingested.size
    val exact = qrows.map { case (qid, _) =>
      val ranked = Similarity.knnCosine(base, "id", "vec", qid, depth)
        .select("id").collect().map(_.getLong(0)).toSeq
      qid -> (ranked.filter(id => id < 1000000L || id >= 2000000L).take(TopK).toSet,
        ranked.filter(_ <= sz.n).take(TopK).toSet)
    }.toMap
    base.unpersist()
    def recall(got: Array[Row], truth: ((Set[Long], Set[Long])) => Set[Long]) = {
      val byQuery = got.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      exact.map { case (qid, t) =>
        (truth(t) intersect byQuery.getOrElse(qid, Set.empty)).size.toDouble / TopK
      }.sum / exact.size
    }
    (recall(probe(q).select("qid", "id").collect(), _._1),
      recall(refined(q).select("qid", "id").collect(), _._2))
  }

  /** The refined probe's recall; the batch probe's is gated and recorded. */
  def quality: Double = recalls._2

  def gates(): Seq[(String, Boolean, String)] = {
    val (probeRecall, refinedRecall) = recalls
    // replay the last ingest batch: the flags it rewrites must not change
    val last = nextBatch - 1
    def flags() = spark.read.parquet(flagsDir)
      .filter(col("_batch") === last).select("id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val before = flags()
    ingest(frame(batchRows(last), "id", "vec"), last)
    val after = flags()
    val dropped = before.count(!_._2)
    Seq(
      ("probe_recall_at_10", probeRecall >= ProbeRecallFloor,
        f"batch probe recall@10 $probeRecall%.4f vs knnCosine over the ingested tree (>= $ProbeRecallFloor)"),
      ("refined_recall_at_10", refinedRecall >= RefinedRecallFloor,
        f"refined probe recall@10 $refinedRecall%.4f vs knnCosine (>= $RefinedRecallFloor)"),
      ("replay_flags", before.nonEmpty && before == after,
        s"replayed batch $last: ${before.size} flags ($dropped dropped) rewritten " +
          s"${if (before == after) "identically" else "DIFFERENTLY"}"),
      ("full_answers", shortAnswers == 0,
        s"$shortAnswers requests returned fewer than $TopK neighbours per query"))
  }

  def named(m: Measured): Seq[(String, Double, String)] = {
    def lat(kind: String) = {
      val l = m.latMs(kind)
      Seq((s"${kind}_p50_ms", Stats.median(l), s"ms (n=${l.size})")) ++
        Stats.tailPct(l.size).map(p => (s"${kind}_p${p}_ms", Stats.pct(l, p), s"ms (n=${l.size})"))
    }
    Seq(("ingest_rows_per_s", m.batchItemsPerS, "rows/s"),
      ("probe_vectors_per_s", m.itemsPerS("probe"), "query vectors/s"),
      ("probe_recall_at_10", recalls._1, "fraction"),
      ("refined_recall_at_10", recalls._2, "fraction")) ++ lat("probe") ++ lat("refined")
  }
}
