package benchv2

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.benchv2.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`, registered
  * only around traced passes.
  *
  * Events are counted against the key the harness is running. The harness
  * drains the listener bus at the end of each key ([[endKey]]), so every
  * event a key caused has been counted before the next key starts. Jobs
  * carry the harness's `benchv2.key` / `benchv2.phase` local properties;
  * a job whose properties name another key (a pooled thread that inherited
  * stale ones) falls back to the job's start time against the end of the
  * key's build phase.
  *
  * Spans (run → pass → key → phase → job → stage, plus micro-batches) are
  * written as JSON lines to `out`; all share the harness's key id.
  */
final class Tracer(spark: SparkSession, out: java.io.Writer) extends SparkListener
    with QueryExecutionListener {
  private val MB = 1024.0 * 1024.0

  @volatile private var keyId = ""
  @volatile private var keyName = ""
  @volatile private var buildEndMs = Long.MaxValue

  // Guarded by `this`: listener queues dispatch on their own threads.
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobKey = mutable.Map.empty[Int, (String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stateByQuery = mutable.Map.empty[String, (Long, Long)]

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = batch(e.progress)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def unregister(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  def span(fields: (String, Any)*): Unit = synchronized {
    out.write(Json.obj(fields: _*))
    out.write('\n')
  }

  def close(): Unit = synchronized(out.close())

  def startKey(id: String, key: String): Unit = {
    keyId = id
    keyName = key
    buildEndMs = Long.MaxValue
  }

  def buildDone(): Unit = buildEndMs = System.currentTimeMillis()

  /** Drains the bus, then folds the key's final streaming state sizes into
    * the pass counts. Returns the drain time in seconds. */
  def endKey(): Double = {
    val t0 = System.nanoTime()
    Bus.drain(spark.sparkContext)
    synchronized {
      stateByQuery.values.foreach { case (rows, bytes) =>
        add("streaming.state_rows", rows.toDouble)
        add("streaming.state_mb", bytes / MB)
      }
      stateByQuery.clear()
    }
    keyId = ""
    (System.nanoTime() - t0) / 1e9
  }

  /** The counts since the last call, and a reset. */
  def takePass(): Map[String, Double] = synchronized {
    val m = counts.toMap
    counts.clear(); jobKey.clear(); stageJob.clear(); stageTaskMs.clear()
    m
  }

  private def add(name: String, v: Double): Unit = counts(name) += v
  private def max(name: String, v: Double): Unit = counts(name) = math.max(counts(name), v)

  // ---- scheduling, compute, shuffle, scan I/O, memory, writes ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val propKey = props.flatMap(p => Option(p.getProperty("benchv2.key")))
    val phase = props.flatMap(p => Option(p.getProperty("benchv2.phase")))
      .filter(_ => propKey.contains(keyId))
      .getOrElse(if (e.time <= buildEndMs) "build" else "action")
    jobKey(e.jobId) = (keyId, phase)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add("sched.jobs", 1)
    if (phase == "build") add("queries.eager_jobs", 1)
    span("span" -> "job", "key_id" -> keyId, "key" -> keyName, "job" -> e.jobId,
      "phase" -> phase, "start_ms" -> e.time, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (id, phase) = jobKey.getOrElse(e.jobId, (keyId, "?"))
    span("span" -> "job_end", "key_id" -> id, "job" -> e.jobId, "phase" -> phase,
      "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("compute.run_s", m.executorRunTime / 1e3)
      add("compute.cpu_s", m.executorCpuTime / 1e9)
      add("compute.gc_s", m.jvmGCTime / 1e3)
      add("sched.launch_delay_s", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("scan.read_mb", m.inputMetrics.bytesRead / MB)
      add("scan.records", m.inputMetrics.recordsRead.toDouble)
      add("memory.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      max("memory.peak_exec_mb", m.peakExecutionMemory / MB)
      add("write.mb", m.outputMetrics.bytesWritten / MB)
      add("write.records", m.outputMetrics.recordsWritten.toDouble)
      add("driver.result_mb", m.resultSize / MB)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    add("sched.stages", 1)
    val ms = stageTaskMs.remove(s.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    val skew = if (ms.size >= 2 && ms(ms.size / 2) > 0) ms.last.toDouble / ms(ms.size / 2) else 1.0
    max("shuffle.skew_ratio", skew)
    val jobId = stageJob.getOrElse(s.stageId, -1)
    span("span" -> "stage", "key_id" -> jobKey.get(jobId).map(_._1).getOrElse(keyId),
      "job" -> jobId, "stage" -> s.stageId, "tasks" -> s.numTasks,
      "start_ms" -> s.submissionTime.getOrElse(0L), "end_ms" -> s.completionTime.getOrElse(0L),
      "skew" -> skew, "failed" -> s.failureReason.isDefined)
  }

  // ---- planning (Catalyst + the program's extensions) ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    query(qe, 0L, ok = false)

  private def query(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    var nodes, exchanges, filesRead, filesPruned, filesWritten = 0L
    if (ok) walk(qe.executedPlan) { p =>
      nodes += 1
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case s: FileSourceScanExec =>
          val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          filesRead += read
          filesPruned += math.max(0L, s.relation.location.inputFiles.length - read)
        case w: DataWritingCommandExec =>
          filesWritten += w.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
    }
    val action = isBenchAction(qe.logical)
    synchronized {
      add("planning.analysis_s", phases.getOrElse("analysis", 0.0))
      add("planning.optimization_s", phases.getOrElse("optimization", 0.0))
      add("planning.physical_s", phases.getOrElse("planning", 0.0))
      if (action) add("planning.action_plan_s", phases.values.sum)
      add("planning.plan_nodes", nodes.toDouble)
      add("planning.exchanges", exchanges.toDouble)
      add("planning.queries", 1)
      add("scan.files_read", filesRead.toDouble)
      add("scan.files_pruned", filesPruned.toDouble)
      add("write.files", filesWritten.toDouble)
      span("span" -> "query", "key_id" -> keyId, "key" -> keyName,
        "phase" -> (if (action) "action" else "build"), "ok" -> ok,
        "duration_s" -> durationNs / 1e9, "planning" -> phases, "plan_nodes" -> nodes,
        "exchanges" -> exchanges, "files_read" -> filesRead, "files_pruned" -> filesPruned)
    }
  }

  /** The benchmark's own forcing action: a write to the noop source. */
  private def isBenchAction(plan: LogicalPlan): Boolean = plan.exists {
    case r: DataSourceV2Relation => r.table.name == "noop-table"
    case _ => false
  }

  /** Every physical node, looking through adaptive plans and query stages
    * (their final, executed form) and into subqueries. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  // ---- streaming micro-batches ----

  private def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
    synchronized {
      add("streaming.batches", 1)
      add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
      add("streaming.query_planning_s", d.getOrElse("queryPlanning", 0.0))
      add("streaming.wal_commit_s", d.getOrElse("walCommit", 0.0))
      add("streaming.commit_offsets_s", d.getOrElse("commitOffsets", 0.0))
      add("streaming.trigger_s", d.getOrElse("triggerExecution", 0.0))
      stateByQuery(p.runId.toString) = (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      span("span" -> "batch", "key_id" -> keyId, "key" -> keyName, "query" -> p.runId.toString,
        "batch" -> p.batchId, "rows" -> p.numInputRows, "duration_s" -> d)
    }
  }
}
