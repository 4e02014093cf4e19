package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfBenchSql, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener, ExternalCatalogWithListener}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Reads each layer's cost from outside the engine, keyed to one timed op.
  *
  * Every op runs under a SparkContext job tag (`pbop-<n>`). Spark carries
  * the tag in each job's properties and in each SQL execution's start
  * event, so the asynchronous listener events are attributed by tag, not
  * by arrival time. Catalyst and rule costs come from the planning
  * tracker of each executed query (the one Spark passes to its
  * QueryExecutionListeners, read from the execution's end event), never
  * from re-planning a DataFrame. Aggregates are read after [[drain]],
  * once the bus has delivered everything. Catalog events are delivered
  * synchronously on the calling thread (or a thread it spawned), so they
  * are keyed by the thread's inherited job tags. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ops = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val execTag = new ConcurrentHashMap[Long, String]()

  private def counters(tag: String): Counters =
    ops.computeIfAbsent(tag, _ => new Counters)

  private def tagOf(tags: String): Option[String] =
    Option(tags).toSeq.flatMap(_.split(",")).find(_.startsWith(Prefix))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tagOf(Option(e.properties).map(_.getProperty(JobTagsKey)).orNull)
        .foreach { t =>
          counters(t).jobs.incrementAndGet()
          e.stageIds.foreach(stageTag.put(_, t))
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTag.get(e.stageInfo.stageId))
        .foreach(counters(_).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (t <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = counters(t)
        c.tasks.incrementAndGet()
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.written.addAndGet(m.outputMetrics.bytesWritten)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.find(_.startsWith(Prefix)).foreach(execTag.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        for (t <- Option(execTag.get(end.executionId));
             qe <- PerfBenchSql.queryExecution(end)) {
          val c = counters(t)
          val phases = qe.tracker.phases
          def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
          val rules = qe.tracker.rules.filter(_._1.startsWith("graft.plans")).values
          c.executions.incrementAndGet()
          c.analysisMs.addAndGet(ms("analysis"))
          c.optimizationMs.addAndGet(ms("optimization"))
          c.planningMs.addAndGet(ms("planning"))
          c.ruleNs.addAndGet(rules.map(_.totalTimeNs).sum)
          c.ruleInvocations.addAndGet(rules.map(_.numInvocations).sum)
          c.ruleEffective.addAndGet(rules.map(_.numEffectiveInvocations).sum)
        }
      case _ =>
    }
  }

  private val catalogListener = new ExternalCatalogEventListener {
    override def onEvent(e: ExternalCatalogEvent): Unit =
      tagOf(sc.getLocalProperty(JobTagsKey))
        .foreach(counters(_).catalogEvents.incrementAndGet())
  }

  private def catalog: ExternalCatalogWithListener = spark.sharedState.externalCatalog

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    catalog.addListener(catalogListener)
  }

  def detach(): Unit = {
    drain()
    catalog.removeListener(catalogListener)
    sc.removeSparkListener(jobListener)
  }

  def drain(): Unit = PerfBenchBus.drain(sc)

  /** Everything recorded under `tag`, as flat named fields. Call after
    * [[drain]]. */
  def summary(tag: String): Seq[(String, Double)] = {
    val c = Option(ops.get(tag)).getOrElse(new Counters)
    Seq(
      "jobs" -> c.jobs.get.toDouble,
      "stages" -> c.stages.get.toDouble,
      "tasks" -> c.tasks.get.toDouble,
      "task_run_ms" -> c.runMs.get.toDouble,
      "task_cpu_ms" -> c.cpuNs.get / 1e6,
      "gc_ms" -> c.gcMs.get.toDouble,
      "shuffle_write_bytes" -> c.shuffleWrite.get.toDouble,
      "shuffle_read_bytes" -> c.shuffleRead.get.toDouble,
      "spill_bytes" -> c.spill.get.toDouble,
      "bytes_written" -> c.written.get.toDouble,
      "catalog_events" -> c.catalogEvents.get.toDouble,
      "executions" -> c.executions.get.toDouble,
      "analysis_ms" -> c.analysisMs.get.toDouble,
      "optimization_ms" -> c.optimizationMs.get.toDouble,
      "planning_ms" -> c.planningMs.get.toDouble,
      "plans_rule_ms" -> c.ruleNs.get / 1e6,
      "plans_rule_invocations" -> c.ruleInvocations.get.toDouble,
      "plans_rule_effective" -> c.ruleEffective.get.toDouble)
  }
}

object Tracer {
  val Prefix = "pbop-"
  // SparkContext.SPARK_JOB_TAGS: the local property Spark copies into
  // every job's properties
  val JobTagsKey = "spark.job.tags"

  final class Counters {
    val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
    val shuffleWrite, shuffleRead, spill, written, catalogEvents = new AtomicLong
    val executions, analysisMs, optimizationMs, planningMs = new AtomicLong
    val ruleNs, ruleInvocations, ruleEffective = new AtomicLong
  }
}
