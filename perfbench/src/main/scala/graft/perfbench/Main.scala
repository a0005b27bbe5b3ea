package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation as the workload measured it: wall time of the
  * engine calls only (set-up of the request and its check excluded).
  */
final case class Op(kind: String, ns: Long, items: Long, ok: Boolean)

final case class Schedule(batchesPerRound: Int, requestsPerBatch: Int)

/** A benchmark workload. The write side (`batch`) and the read side
  * (`request`) are closed loops driven from one thread.
  */
trait Workload {
  def name: String
  def why: String
  /** The stated input sizes, recorded with every run. */
  def sizes: Seq[(String, Any)]
  def generate(dir: Path, seed: Long): Unit
  /** The engine's set-up before the first timed op. */
  def setup(spark: SparkSession, work: Path): Unit
  def batch(): Op
  def request(): Op
  /** Untimed warm-up before the measurement (JIT and code generation). */
  def warmup(): Unit
  /** The request kind whose latency is the end-to-end request metric. */
  def primaryRequest: String
  /** A fixed schedule, or None to give batches three quarters of the
    * time. A scheduled run measures whole rounds: `startRound` (untimed)
    * resets what the batches wrote, then every batch is followed by the
    * same number of requests, so each op sees the same state in every run.
    */
  def schedule: Option[Schedule] = None
  def startRound(): Unit = ()
  /** Kernel projections over the workload's cached input (traced run). */
  def kernels(tracer: Tracer): Unit
  /** Correctness gates after the measurement: (name, passed, detail). */
  def gates(): Seq[(String, Boolean, String)]
  /** The workload's quality fraction (matched words, dup recall, recall@10). */
  def quality: Double
  /** Workload-specific named metrics: (name, value, unit). */
  def named(m: Measured): Seq[(String, Double, String)]

  /** Set for the traced run; spans are no-ops while it is disabled. */
  var tracer: Option[Tracer] = None
  protected def span[T](layer: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, (_: T) => None)(body))
  /** A span whose `results` count feeds the rows-scanned-per-result ratios. */
  protected def spanCounted[T](layer: String, results: T => Long)(body: => T): T =
    tracer.fold(body)(_.span(layer, (t: T) => Some(results(t)))(body))
}

final class Measured(val ops: Seq[Op], val wallS: Double) {
  def batches: Seq[Op] = ops.filter(_.kind == "batch")
  def requests(kind: String): Seq[Op] = ops.filter(_.kind == kind)
  def batchItemsPerS: Double = {
    val b = batches.filter(_.ok)
    b.map(_.items).sum / math.max(1e-9, b.map(_.ns).sum / 1e9)
  }
  def latMs(kind: String): Seq[Double] =
    requests(kind).filter(_.ok).map(_.ns / 1e6)
  def itemsPerS(kind: String): Double = {
    val r = requests(kind).filter(_.ok)
    r.map(_.items).sum / math.max(1e-9, r.map(_.ns).sum / 1e9)
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** The highest whole percentile (at most 90) with at least ten samples
    * above it, or None when there are fewer than eleven samples.
    */
  def tailPct(n: Int): Option[Int] =
    if (n < 11) None else Some(math.min(90, math.floor(100.0 * (n - 10) / n).toInt))
}

/** The benchmark's entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints human-readable lines, then one JSON result as the last line of
  * standard output; exits 1 when an operation or a correctness gate fails.
  */
object Main {
  /** End-to-end metrics every workload reports, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "batch_items_per_s" -> "items/s",
    "request_p50_ms" -> "ms", "quality_frac" -> "fraction")
  val MinSetups = 3
  val MaxSetups = 9
  val MinRequests = 10
  val MinBatches = 1

  def workloads: Map[String, () => Workload] = Map(
    "align_tanakh" -> (() => new AlignTanakh),
    "curate_corpus" -> (() => new CurateCorpus),
    "index_rw" -> (() => new IndexRw))

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val started = System.nanoTime()
  def log(msg: String): Unit = System.out.println(
    f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Closed loop for `seconds`: batches and requests alternate, either in
    * whole rounds of the workload's schedule (at least one) or by a fixed
    * share of the time, in which case the loop keeps going past the time
    * until it has `MinBatches` batch and `MinRequests` primary requests.
    */
  def measure(w: Workload, seconds: Double): Measured = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var bNs = 0L; var rNs = 0L
    var consecutiveFailures = 0
    def run(f: => Op, kind: String): Unit = {
      val op = try f catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind failed: $e")
          e.printStackTrace()
          Op(kind, 0L, 0L, ok = false)
      }
      consecutiveFailures = if (op.ok) 0 else consecutiveFailures + 1
      if (kind == "batch") bNs += op.ns else rNs += op.ns
      ops += op
    }
    def primaries = ops.count(o => o.kind == w.primaryRequest && o.ok)
    def batches = ops.count(_.kind == "batch")
    def going = consecutiveFailures < 3
    w.schedule match {
      case Some(sc) =>
        while (ops.isEmpty || (elapsed < seconds && going)) {
          w.startRound()
          for (_ <- 1 to sc.batchesPerRound if going) {
            run(w.batch(), "batch")
            for (_ <- 1 to sc.requestsPerBatch if going) run(w.request(), "request")
          }
        }
      case None =>
        while ((elapsed < seconds || primaries < MinRequests || batches < MinBatches) &&
            elapsed < seconds + 60 && going) {
          // past the time only the missing batches and requests run
          val due = bNs <= 3 * rNs
          val doBatch =
            if (elapsed < seconds) due
            else batches < MinBatches && (due || primaries >= MinRequests)
          if (doBatch) run(w.batch(), "batch") else run(w.request(), "request")
        }
    }
    new Measured(ops.toSeq, elapsed)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.getOrElse(args.getOrElse("workload", ""), {
      System.err.println(s"unknown workload; choose one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })()
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    log(s"workload ${w.name}: ${w.why}")
    val load0 = graft.BenchProto.load1()
    val calib = graft.BenchProto.calibSec()
    val inputs = work.resolve("inputs")
    val tg = System.nanoTime()
    w.generate(inputs, seed)
    log(f"generated inputs in ${(System.nanoTime() - tg) / 1e9}%.2f s: " +
      w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))

    // set-up, repeated in fresh sessions: session start plus the engine's
    // own set-up. At least three times, and while the warm repetitions
    // add up to under a second (up to nine), so a cheap set-up still gets
    // a steady median. The last session's tracer is the one used; a traced
    // run traces the set-ups too.
    var tracer: Tracer = null
    val setups = mutable.ArrayBuffer.empty[Double]
    while (setups.size < MinSetups ||
        (setups.size < MaxSetups && setups.tail.sum < 1.0)) {
      if (setups.nonEmpty) SparkSession.active.stop()
      val t = System.nanoTime()
      val dir = work.resolve(s"s${setups.size}")
      val spark = session(dir, cores)
      tracer = new Tracer(spark)
      w.tracer = Some(tracer)
      if (trace) tracer.enable()
      w.setup(spark, dir)
      tracer.disable()
      setups += (System.nanoTime() - t) / 1e9
    }
    val spark = SparkSession.active
    log(s"setup_s samples: ${setups.map(x => f"$x%.3f").mkString(" ")}")

    w.warmup()
    log("warm-up done")
    // a traced run measures half untraced, half traced: the difference is
    // the tracing overhead, and the traced half gives the layer metrics
    val (m, ops, layer) =
      if (!trace) { val m = measure(w, seconds); (m, m.ops, Map.empty[String, Double]) }
      else {
        val plain = measure(w, seconds / 2)
        tracer.enable()
        val traced = measure(w, seconds / 2)
        w.kernels(tracer)
        tracer.disable()
        val lm = tracer.layerMetrics() ++ Map(
          "tracing.batch_items_per_s_delta" ->
            (traced.batchItemsPerS - plain.batchItemsPerS),
          "tracing.request_p50_ms_delta" ->
            (Stats.median(traced.latMs(w.primaryRequest)) -
              Stats.median(plain.latMs(w.primaryRequest))))
        (traced, plain.ops ++ traced.ops, lm)
      }
    tracer.close()
    log(f"measured ${ops.size} ops in ${m.wallS}%.1f s")
    val gates = try w.gates() catch {
      case e: Exception =>
        e.printStackTrace()
        Seq(("gates", false, s"gate evaluation threw $e"))
    }
    val quality = try w.quality catch { case e: Exception => e.printStackTrace(); Double.NaN }
    val named = try w.named(m) catch { case e: Exception => e.printStackTrace(); Nil }
    spark.stop()
    val load1 = graft.BenchProto.load1()

    val lat = m.latMs(w.primaryRequest)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "peak_rss_mb" -> peakRssMb(),
      "batch_items_per_s" -> m.batchItemsPerS,
      "request_p50_ms" -> Stats.median(lat),
      "quality_frac" -> quality)
    val attempted = ops.size + gates.size
    val failed = ops.count(!_.ok) + gates.count(!_._2)

    gates.foreach { case (g, ok, d) => log(s"gate ${if (ok) "ok  " else "FAIL"} $g: $d") }
    named.foreach { case (k, v, u) => log(f"$k = $v%.4f $u") }
    log(s"error_rate = $failed/$attempted failed/attempted ops")
    val record = ListMap(
      "workload" -> w.name, "why" -> w.why, "seed" -> seed,
      "seconds" -> seconds, "trace" -> trace, "cores" -> cores,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "sizes" -> ListMap(w.sizes.map { case (k, v) => k -> v.toString }: _*),
      "host" -> ListMap("calib_s" -> calib,
        "load1_before" -> load0, "load1_after" -> load1,
        "nproc" -> Runtime.getRuntime.availableProcessors()),
      "setup_s_samples" -> setups.toSeq,
      "requests" -> lat.size,
      "request_tail_pct" -> Stats.tailPct(lat.size),
      "batches" -> m.batches.size,
      "named" -> ListMap(named.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "gates" -> ListMap(gates.map { case (g, ok, d) => g -> ListMap("ok" -> ok, "detail" -> d) }: _*),
      "error_rate" -> failed.toDouble / math.max(1, attempted))
    val recordJson = json.writeValueAsString(record)
    log(s"record $recordJson")
    sys.env.get("PERFBENCH_RECORD").foreach(p =>
      Files.write(Paths.get(p), recordJson.getBytes("UTF-8")))

    val metrics =
      if (!trace) Main.EndToEnd.map { case (k, u) => k -> ListMap("value" -> e2e(k), "unit" -> u) }
      else Layers.all.map { case (k, u) => k -> ListMap("value" -> layer.getOrElse(k, 0.0), "unit" -> u) }
    System.out.println(json.writeValueAsString(ListMap("correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> ListMap(metrics: _*))))
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
