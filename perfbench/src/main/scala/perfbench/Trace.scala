package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side work attributed to one span: summed over the jobs whose
  * job-group tag (or stream run id) maps to the span. */
final class Counters {
  var jobs = 0L; var singleTaskJobs = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var outBytes = 0L; var outRecords = 0L

  def toJson: Map[String, Any] = Map("jobs" -> jobs,
    "single_task_jobs" -> singleTaskJobs, "tasks" -> tasks,
    "exec_run_s" -> runMs / 1e3, "exec_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_mb" -> shuffleBytes / 1e6,
    "spill_mb" -> spillBytes / 1e6, "written_mb" -> outBytes / 1e6,
    "written_records" -> outRecords)
}

/** One call into a layer: name, start, end and the span that caused it.
  * `attrs` holds per-span facts the benchmark records beside the timing
  * (plan time, files scanned, stream progress). */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long) {
  var endNs = 0L
  val counters = new Counters
  val attrs = mutable.LinkedHashMap.empty[String, Any]
}

/** In-memory span recorder plus the two listeners that supply counts.
  *
  * Spans are opened and closed on the main thread only (the benchmark
  * is a single closed-loop client). Each span sets the job group to its
  * tag, so the `SparkListener` keys every job to the span that ran it.
  * Streaming micro-batch jobs run under the query's run id as job group;
  * the `StreamingQueryListener` maps that run id to the span that
  * started the query (its start callback runs synchronously inside
  * `start()`). Jobs with neither key fall back to the innermost open
  * span. With tracing off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val runSpan = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobTasks = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var stack: List[Span] = Nil
  /** Sum over every stage of the run, for the fixed-cost share. */
  val total = new Counters

  def elapsedS(): Double = (System.nanoTime() - t0) / 1e9

  private def tag(s: Span) = s"perfbench-${s.id}"

  private def spanOfGroup(group: String): Option[Span] =
    Option(group).flatMap { g =>
      if (g.startsWith("perfbench-")) Option(byId.get(g.stripPrefix("perfbench-").toInt))
      else Option(runSpan.get(g))
    }.orElse(stack.headOption)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      spanOfGroup(group).foreach { s =>
        jobSpan.put(e.jobId, s)
        jobTasks.put(e.jobId, 0L)
        e.stageIds.foreach { st => stageSpan.put(st, s); stageJob.put(st, e.jobId) }
        s.counters.synchronized { s.counters.jobs += 1 }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val targets = Seq(total) ++ Option(stageSpan.get(info.stageId)).map(_.counters)
      Option(stageJob.get(info.stageId)).foreach(j =>
        jobTasks.computeIfPresent(j, (_, n) => n + info.numTasks))
      Option(info.taskMetrics).foreach { m =>
        targets.foreach { c => c.synchronized {
          c.tasks += info.numTasks
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        } }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        if (Option(jobTasks.remove(e.jobId)).contains(1L))
          s.counters.synchronized { s.counters.singleTaskJobs += 1 }
      }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      stack.headOption.foreach(s => runSpan.put(e.runId.toString, s))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Option(runSpan.get(e.progress.runId.toString)).foreach { s =>
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        s.synchronized {
          val prior = s.attrs.getOrElse("progress", Vector.empty[Map[String, Any]])
            .asInstanceOf[Vector[Map[String, Any]]]
          s.attrs("progress") = prior :+ (Map[String, Any](
            "rows" -> e.progress.numInputRows) ++ d)
        }
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s; byId.put(s.id, s)
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(tag(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(tag(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a fact to the most recently closed span with this name. */
  def note(name: String, key: String, value: Any): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name)
      .foreach(s => s.synchronized { s.attrs(key) = value })

  /** Plan time and files scanned of an action already run on `df`:
    * Catalyst's own phase tracker, and the scans' `numFiles` metrics of
    * the executed (final adaptive) plan. */
  def notePlan(name: String, df: DataFrame): Unit = if (enabled) {
    val qe = df.queryExecution
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case other if other.children.isEmpty => Seq(other)
      case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
    }
    val files = leaves(qe.executedPlan).flatMap(_.metrics.get("numFiles"))
      .map(_.value).sum
    note(name, "plan_ms", planMs)
    note(name, "files_scanned", files)
  }

  /** Wait until both listener buses have delivered every event. */
  def flush(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9) ++
      s.counters.toJson ++ s.attrs
  }
}
