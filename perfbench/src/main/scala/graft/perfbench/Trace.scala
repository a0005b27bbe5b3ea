package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
  QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.ExecutionEnd

/** The layers a traced run reports, named after the engine's modules,
  * and the metrics each reports. Every layer reports `Common`; the map
  * adds the layer's own counters.
  */
object Layers {
  val Common: Seq[(String, String)] = Seq(
    "self_s" -> "s", "driver_gap_s" -> "s", "task_s" -> "s", "gc_s" -> "s",
    "jobs" -> "count", "tasks_failed" -> "count",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "peak_exec_mem_mb" -> "MB")
  val Kernels: Seq[String] =
    Seq("partial_ratio", "simhash64", "winnow", "pq_adc", "cosine_sim")
  val Extra: Seq[(String, Seq[(String, String)])] = Seq(
    "io" -> Seq("files_written" -> "count", "bytes_written" -> "bytes",
      "files_read" -> "count", "rows_scanned_per_result" -> "rows/result"),
    "align" -> Nil,
    "ops.joins" -> Seq("rows_scanned_per_result" -> "rows/result"),
    "ops.dedup" -> Nil,
    "ops.curation" -> Nil,
    "ops.pq" -> Seq("files_read" -> "count",
      "rows_scanned_per_result" -> "rows/result"),
    "streaming" -> Seq("files_per_batch" -> "files/batch",
      "index_files_after_batch" -> "count"),
    "functions" -> Kernels.map(k => s"$k.rows_per_s" -> "rows/s"))
  /** Metrics of the traced run that belong to no layer. */
  val Run: Seq[(String, String)] = Seq(
    "unattributed.jobs" -> "count", "unattributed.task_s" -> "s",
    "tracing.batch_items_per_s_delta" -> "items/s",
    "tracing.request_p50_ms_delta" -> "ms")

  /** Every per-layer metric in output order, with its unit. */
  val all: Seq[(String, String)] = Extra.flatMap { case (layer, extra) =>
    (Common ++ extra).map { case (m, u) => s"$layer.$m" -> u }
  } ++ Run
}

/** Span recorder for the traced run. Spans are opened by the benchmark
  * around each public engine call (plus the materialization it forces),
  * kept in memory and aggregated once at the end. Jobs are attributed to
  * the open span through a Spark local property, which child threads
  * inherit. A `SparkListener` sums task metrics per span, and reads the
  * scan and write counters of each SQL execution's final plan from its
  * end event. Jobs that carry no span property are kept apart as
  * `unattributed`.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span
  private val Prop = "perfbench.span"
  private val Off = "off"
  private val Sentinel = "perfbench.sentinel"
  private val sc = spark.sparkContext

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var on = false
  private val notes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Per-span counters, filled on the listener bus thread. */
  final class Acc {
    var jobs = 0L; var taskMs = 0L; var gcMs = 0L; var failed = 0L
    var shuffleW = 0L; var spill = 0L; var peakMem = 0L
    var filesRead = 0L; var rowsScanned = 0L
    var filesWritten = 0L; var bytesWritten = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val acc = new ConcurrentHashMap[Int, Acc]()
  private def accOf(span: Int): Acc = acc.computeIfAbsent(span, _ => new Acc)
  private val Unattributed = -1
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val execCounts = new ConcurrentHashMap[Long, Array[Long]]()
  @volatile private var sentinelExec = -1L
  @volatile private var sentinelDone = false

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))) match {
      case Some(Off) => None
      case Some(s) => Some(s.toInt)
      case None => Some(Unattributed)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null))
          sentinelExec = exec.getOrElse(-1L)
        jobSpan.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
        exec.foreach(execSpan.put(_, s))
        val a = accOf(s)
        a.synchronized { a.jobs += 1 }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { s =>
        val a = accOf(s)
        a.synchronized { a.jobIntervals += ((jobStart.get(e.jobId), e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val a = accOf(s)
        val m = e.taskMetrics
        a.synchronized {
          if (e.reason != TaskSuccess || e.stageAttemptId > 0) a.failed += 1
          if (m != null) {
            a.taskMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.shuffleW += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        ExecutionEnd.queryExecution(end).foreach(qe =>
          execCounts.put(end.executionId, PlanWalk.counts(qe.executedPlan)))
        if (end.executionId == sentinelExec) sentinelDone = true
      case _ =>
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    /** files read, rows scanned, files written, bytes written */
    def counts(plan: SparkPlan): Array[Long] = {
      val c = new Array[Long](4)
      def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      foreach(plan) {
        case p: FileSourceScanExec =>
          c(0) += m(p, "numFiles"); c(1) += m(p, "numOutputRows")
        case p @ (_: LocalTableScanExec | _: InMemoryTableScanExec |
            _: RDDScanExec) =>
          c(1) += m(p, "numOutputRows")
        case p: DataWritingCommandExec =>
          c(2) += m(p, "numFiles"); c(3) += m(p, "numOutputBytes")
        case _ =>
      }
      c
    }
  }

  sc.addSparkListener(listener)
  sc.setLocalProperty(Prop, Off)

  /** Start attributing jobs: the driver thread's jobs outside any layer
    * span go to span 0, which no layer reports.
    */
  def enable(): Unit = { on = true; sc.setLocalProperty(Prop, "0") }
  def disable(): Unit = { on = false; sc.setLocalProperty(Prop, Off) }

  /** Run `body` as one span of `layer`; `results` counts what the call
    * returned, for the rows-scanned-per-result ratios.
    */
  def span[T](layer: String, results: T => Option[Long])(body: => T): T = {
    if (!on) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.currentTimeMillis()
    try {
      val out = body
      spans += Span(id, parent, layer, t0, System.currentTimeMillis(), results(out))
      out
    } finally {
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.getOrElse(0).toString)
    }
  }

  /** A value measured by the benchmark for a layer (averaged). */
  def note(metric: String, v: Double): Unit =
    if (on) notes.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Wait until the listener bus has delivered every event posted so
    * far: events reach the listener in order, so seeing the end of a
    * sentinel query posted last means every earlier event arrived.
    */
  def drain(): Unit = {
    sentinelDone = false
    sentinelExec = -1L
    sc.setLocalProperty(Prop, "0")
    sc.setLocalProperty(Sentinel, "1")
    try spark.range(1).collect() finally {
      sc.setLocalProperty(Sentinel, null)
      sc.setLocalProperty(Prop, if (on) "0" else Off)
    }
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(5)
    if (!sentinelDone)
      System.err.println("[perfbench] listener bus did not drain in 20 s; " +
        "layer counters may be incomplete")
  }

  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    covered
  }

  /** Per-layer metrics over every span recorded so far. */
  def layerMetrics(): Map[String, Double] = {
    drain()
    execCounts.asScala.foreach { case (exec, c) =>
      val a = accOf(Option(execSpan.get(exec)).getOrElse(Unattributed))
      a.synchronized {
        a.filesRead += c(0); a.rowsScanned += c(1)
        a.filesWritten += c(2); a.bytesWritten += c(3)
      }
    }
    execCounts.clear()
    val children = spans.groupBy(_.parent)
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.Extra.foreach { case (layer, _) =>
      val ss = spans.filter(_.layer == layer)
      val as = ss.map(s => s -> accOf(s.id))
      def sum(f: Acc => Long) = as.map(x => f(x._2)).sum.toDouble
      out(s"$layer.self_s") = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.t0, k.t1))
        (s.t1 - s.t0) - union(kids.toSeq, s.t0, s.t1)
      }.sum / 1000.0
      out(s"$layer.driver_gap_s") = as.map { case (s, a) =>
        (s.t1 - s.t0) - union(a.jobIntervals.toSeq, s.t0, s.t1)
      }.sum / 1000.0
      out(s"$layer.task_s") = sum(_.taskMs) / 1000.0
      out(s"$layer.gc_s") = sum(_.gcMs) / 1000.0
      out(s"$layer.jobs") = sum(_.jobs)
      out(s"$layer.tasks_failed") = sum(_.failed)
      out(s"$layer.shuffle_write_bytes") = sum(_.shuffleW)
      out(s"$layer.spill_bytes") = sum(_.spill)
      out(s"$layer.peak_exec_mem_mb") =
        as.map(_._2.peakMem).maxOption.getOrElse(0L) / 1048576.0
      // rows scanned per result, over the spans that count results
      val counted = as.filter(_._1.results.isDefined)
      val results = counted.map(_._1.results.get).sum
      def perResult =
        if (results > 0) counted.map(_._2.rowsScanned).sum.toDouble / results else 0.0
      layer match {
        case "io" =>
          out("io.files_written") = sum(_.filesWritten)
          out("io.bytes_written") = sum(_.bytesWritten)
          out("io.files_read") = sum(_.filesRead)
          out("io.rows_scanned_per_result") = perResult
        case "ops.joins" => out("ops.joins.rows_scanned_per_result") = perResult
        case "ops.pq" =>
          out("ops.pq.files_read") = sum(_.filesRead)
          out("ops.pq.rows_scanned_per_result") = perResult
        case "streaming" =>
          out("streaming.files_per_batch") =
            if (ss.nonEmpty) sum(_.filesWritten) / ss.size else 0.0
          out("streaming.index_files_after_batch") = mean("streaming.index_files_after_batch")
        case "functions" =>
          Layers.Kernels.foreach(k =>
            out(s"functions.$k.rows_per_s") = mean(s"functions.$k.rows_per_s"))
        case _ =>
      }
    }
    val u = accOf(Unattributed)
    out("unattributed.jobs") = u.jobs.toDouble
    out("unattributed.task_s") = u.taskMs / 1000.0
    out.toMap
  }

  private def mean(metric: String): Double =
    notes.get(metric).filter(_.nonEmpty).map(v => v.sum / v.size).getOrElse(0.0)

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, t0: Long,
      t1: Long, results: Option[Long])
}

object Kernels {
  /** Run a kernel projection over `copies` cached copies of `input`,
    * repeatedly for at least half a second inside a `functions` span, and
    * note its rows per second. The copies make the kernel, not the job
    * overhead, the larger part of each projection.
    */
  def rowsPerS(t: Tracer, kernel: String, input: DataFrame, copies: Int)(
      project: DataFrame => DataFrame): Unit = {
    val rows = input.crossJoin(input.sparkSession.range(copies).toDF("_copy"))
      .persist()
    val n = rows.count()
    t.span("functions", (_: Unit) => None) {
      val t0 = System.nanoTime()
      var reps = 0
      while (reps == 0 || System.nanoTime() - t0 < 500000000L) {
        project(rows).collect(); reps += 1
      }
      t.note(s"functions.$kernel.rows_per_s", n * reps / ((System.nanoTime() - t0) / 1e9))
    }
    rows.unpersist()
  }
}
