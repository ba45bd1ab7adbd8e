package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It watches the engine from outside only:
  * Spark's public listeners (scheduler, query execution, streaming) and the
  * engine's pin seam (`Checkpoints.observePins`), plus the spans the harness
  * opens around each op. Everything is kept in memory and read after the
  * run; every event is attributed to the op whose interval holds its
  * timestamp (the client is one thread, so ops never overlap), except jobs
  * carrying an op tag, which go to that op. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stages = mutable.ArrayBuffer.empty[Double]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val streamStarts = mutable.ArrayBuffer.empty[Double]
  private val batches = mutable.LinkedHashMap.empty[(String, Long), Batch]
  private val blocks = mutable.ArrayBuffer.empty[(Double, Long)]
  private val pins = mutable.ArrayBuffer.empty[(Double, String)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsProperty)))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val tagged = tags.collectFirst { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt }
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, tagged)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock {
        tasks += Task(e.taskInfo.finishTime.toDouble, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        lock { blocks += ((nowMs(), b.memSize + b.diskSize)) }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val at = phases.values.map(_._1).minOption.getOrElse(nowMs())
      val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
      val metrics = plan.toSeq.flatMap(nodes).map(n => n.metrics.map { case (k, v) => k -> v.value })
      def sum(sel: Map[String, Long] => Boolean, key: String) =
        metrics.filter(sel).map(_.getOrElse(key, 0L)).sum
      val isScan = (m: Map[String, Long]) => m.contains("numFiles") && !m.contains("numOutputBytes")
      val isWrite = (m: Map[String, Long]) => m.contains("numOutputBytes")
      lock {
        queries += Query(at, phases, sum(isScan, "numFiles"), sum(isScan, "numPartitions"),
          sum(isScan, "metadataTime"), sum(isWrite, "numFiles"), sum(isWrite, "numOutputBytes"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock { streamStarts += isoMs(e.timestamp) }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = isoMs(p.timestamp)
      lock {
        batches((p.runId.toString, p.batchId)) =
          Batch(start, start + d.getOrElse("triggerExecution", 0L), p.name, d)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def attach(): Unit = {
    threads.resetPeakThreadCount()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every posted event, then detach. */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    peakThreads = threads.getPeakThreadCount
  }
  private var peakThreads = 0

  /** Runs one op inside its span, with its Spark jobs tagged by op id and
    * the engine's pins observed. Returns what `body` returns. */
  def op[T](kind: String, name: String)(body: => T): T = {
    val o = Op(ops.size, kind, name, nowMs())
    lock { ops += o }
    val sc = spark.sparkContext
    val tag = TagPrefix + o.id
    sc.addJobTag(tag)
    try graft.operators.Checkpoints.observePins { plan =>
      val first = plan.linesIterator.nextOption().getOrElse("").trim
      lock { pins += ((nowMs(), first.take(80))) }
    }(body)
    catch { case e: Throwable => o.ok = false; throw e }
    finally {
      sc.removeJobTag(tag)
      o.endMs = nowMs()
    }
  }

  /** Marks the last op failed: it returned, but its output failed its check. */
  def markFailed(): Unit = ops.lastOption.foreach(_.ok = false)

  private def lock[T](f: => T): T = synchronized(f)

  // -- read-out -----------------------------------------------------------

  private def opAt(t: Double): Option[Op] =
    ops.find(o => t >= o.startMs && t <= o.endMs)

  private def opOfJob(j: Job): Option[Op] =
    j.tag.flatMap(id => ops.lift(id)).orElse(opAt(j.startMs))

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total, end = 0.0
    var start = Double.NaN
    c.foreach { case (a, b) =>
      if (start.isNaN || a > end) { if (!start.isNaN) total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (!start.isNaN) total += end - start
    total
  }

  private def maxConcurrent(iv: Seq[(Double, Double)]): Int = {
    val ev = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    ev.scanLeft(0)(_ + _._2).max
  }

  /** Per-layer counters over a set of ops (all of them by default). */
  def counters(sel: Op => Boolean = _ => true): ListMap[String, Any] = lock {
    val in = ops.filter(sel)
    val ids = in.map(_.id).toSet
    def inOp(t: Double) = opAt(t).exists(o => ids(o.id))
    val js = jobs.values.filter(j => opOfJob(j).exists(o => ids(o.id))).toSeq
    val jobIv = js.map(j => (j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs))
    val ts = tasks.filter(t => inOp(t.endMs))
    val qs = queries.filter(q => inOp(q.atMs))
    val bs = batches.values.filter(b => inOp(b.startMs)).toSeq
    val opMs = in.map(o => o.endMs - o.startMs).sum
    val driverOnly = in.map(o => (o.endMs - o.startMs) - covered(jobIv, o.startMs, o.endMs)).sum
    val runMs = ts.map(_.runMs).sum
    def phase(k: String) = qs.flatMap(_.phases.get(k)).map(p => p._2 - p._1).sum
    val nTasks = ts.size
    ListMap(
      "spark.jobs" -> js.size, "spark.stages" -> stages.count(inOp), "spark.tasks" -> nTasks,
      "spark.tasks_per_job" -> (if (js.isEmpty) 0.0 else nTasks.toDouble / js.size),
      "driver.only_ms" -> driverOnly, "driver.only_share" -> (if (opMs > 0) driverOnly / opMs else 0.0),
      "spark.jobs_concurrent.max" -> (if (jobIv.isEmpty) 0 else maxConcurrent(jobIv)),
      "plan.queries" -> qs.size, "plan.analysis_ms" -> phase("analysis"),
      "plan.optimization_ms" -> phase("optimization"), "plan.planning_ms" -> phase("planning"),
      "scan.files" -> qs.map(_.scanFiles).sum, "scan.partitions" -> qs.map(_.scanPartitions).sum,
      "scan.metadata_ms" -> qs.map(_.scanMetadataMs).sum, "scan.bytes" -> ts.map(_.inBytes).sum,
      "write.files" -> qs.map(_.writeFiles).sum, "write.bytes" -> qs.map(_.writeBytes).sum,
      "executor.run_ms" -> runMs, "executor.cpu_ms" -> ts.map(_.cpuMs).sum,
      "executor.gc_ms" -> ts.map(_.gcMs).sum,
      "executor.busy_cores" -> (if (opMs > 0) runMs / opMs else 0.0),
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum, "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum,
      "spill.bytes" -> ts.map(_.spill).sum,
      "stream.queries" -> streamStarts.count(inOp), "stream.batches" -> bs.size,
      "stream.trigger_ms" -> bs.map(_.d("triggerExecution")).sum,
      "stream.add_batch_ms" -> bs.map(_.d("addBatch")).sum,
      "stream.query_planning_ms" -> bs.map(_.d("queryPlanning")).sum,
      "stream.wal_commit_ms" -> bs.map(_.d("walCommit")).sum,
      "pin.named" -> pins.count(p => inOp(p._1)),
      "storage.rdd_blocks" -> blocks.count(b => inOp(b._1)),
      "storage.block_bytes" -> blocks.filter(b => inOp(b._1)).map(_._2).sum,
    )
  }

  def driverThreadsMax: Int = peakThreads

  /** One record per op: its kind, name, duration, outcome and counters. */
  def opRecords: Seq[ListMap[String, Any]] = ops.toSeq.map { o =>
    ListMap("kind" -> o.kind, "name" -> o.name, "ms" -> (o.endMs - o.startMs), "ok" -> o.ok) ++
      counters(_.id == o.id)
  }

  /** Every span, parent first: the run root, ops, jobs, planning phases,
    * micro-batches and pins. Times are epoch milliseconds. */
  def spans: Seq[ListMap[String, Any]] = lock {
    val rootStart = ops.headOption.map(_.startMs).getOrElse(0.0)
    val rootEnd = ops.lastOption.map(_.endMs).getOrElse(0.0)
    var next = 1L + ops.size
    def span(parent: Long, kind: String, name: String, s: Double, e: Double, extra: (String, Any)*) = {
      next += 1
      ListMap[String, Any]("id" -> next, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e) ++ extra
    }
    def parentAt(t: Double) = opAt(t).map(_.id + 1L).getOrElse(0L)
    val root = Seq(ListMap[String, Any]("id" -> 0L, "parent" -> -1L, "kind" -> "run", "name" -> "run",
      "start_ms" -> rootStart, "end_ms" -> rootEnd))
    val opSpans = ops.toSeq.map(o => ListMap[String, Any]("id" -> (o.id + 1L), "parent" -> 0L, "kind" -> "op",
      "name" -> s"${o.kind}:${o.name}", "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok))
    val jobSpans = jobs.values.toSeq.map(j => span(opOfJob(j).map(_.id + 1L).getOrElse(0L), "job",
      s"job ${j.id}", j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs, "tagged" -> j.tag.isDefined))
    val phaseSpans = queries.toSeq.flatMap(q => q.phases.toSeq.sortBy(_._2._1).map { case (k, (s, e)) =>
      span(parentAt(q.atMs), "plan", k, s, e) })
    val batchSpans = batches.toSeq.map { case ((_, id), b) =>
      span(parentAt(b.startMs), "batch", s"${Option(b.name).getOrElse("stream")} #$id", b.startMs, b.endMs,
        b.durations.toSeq.sortBy(_._1).map { case (k, v) => s"$k.ms" -> v }: _*) }
    val pinSpans = pins.toSeq.map { case (t, name) => span(parentAt(t), "pin", name, t, t) }
    root ++ opSpans ++ jobSpans ++ phaseSpans ++ batchSpans ++ pinSpans
  }
}

object Recorder {
  val TagPrefix = "perfbench-op-"
  /** The job property Spark stores a job's tags in, comma-separated. */
  private val JobTagsProperty = "spark.job.tags"

  final case class Op(id: Int, kind: String, name: String, startMs: Double) {
    @volatile var endMs: Double = Double.MaxValue
    @volatile var ok: Boolean = true
  }
  final case class Job(id: Int, startMs: Double, endMs: Double, tag: Option[Int])
  final case class Task(endMs: Double, runMs: Long, cpuMs: Long, gcMs: Long, inBytes: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Query(atMs: Double, phases: Map[String, (Double, Double)], scanFiles: Long,
      scanPartitions: Long, scanMetadataMs: Long, writeFiles: Long, writeBytes: Long)
  final case class Batch(startMs: Double, endMs: Double, name: String, durations: Map[String, Long]) {
    def d(k: String): Long = durations.getOrElse(k, 0L)
  }

  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  private def isoMs(ts: String): Double =
    try java.time.Instant.parse(ts).toEpochMilli.toDouble catch { case _: Throwable => nowMs() }

  /** Every physical node of a plan, through adaptive plans, query stages,
    * command wrappers and subqueries; a reused exchange is counted once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
