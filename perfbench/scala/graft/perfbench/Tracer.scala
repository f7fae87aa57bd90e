package graft.perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec,
  ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a job, or one layer inside a job. `counts` holds
  * what the listeners attributed to it while it was the innermost open
  * span; `stageTaskMs` keeps task run times per stage for the skew ratio.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val group: String, val start: Long) {
  var end: Long = 0L
  val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val stageTaskMs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]]()
  def add(key: String, v: Double): Unit = counts(key) += v
}

/** Spans plus three listeners (Spark, query-execution, streaming-query)
  * that attribute engine counts to the innermost open span. Each span
  * drains the listener bus before it closes, so every event its work
  * caused arrives while it is still the innermost span; the single
  * client thread guarantees no other span's work is in flight. Spans
  * stay in memory until [[spansJson]] at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val lastStateRows = mutable.Map[java.util.UUID, Long]()

  private def record(f: Span => Unit): Unit = synchronized {
    stack.headOption.foreach(f)
  }

  /** Runs `body` inside a span named `name`, tagged with its own Spark
    * job group so the jobs it submits can be matched to it afterwards.
    */
  def span[T](name: String)(body: Span => T): T = {
    val sc = spark.sparkContext
    val s = synchronized {
      val parent = stack.headOption.fold(-1)(_.id)
      val sp = new Span(spans.size, name, parent, s"perfbench-${spans.size}",
        System.nanoTime())
      spans += sp
      stack = sp :: stack
      sp
    }
    sc.setJobGroup(s.group, name)
    try body(s)
    finally {
      ListenerDrain(sc)
      synchronized {
        s.end = System.nanoTime()
        stack = stack.tail
      }
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      record(_.add("jobs", 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      record(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record { s =>
      s.add("tasks", 1)
      if (e.reason != Success) s.add("failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        s.add("task_run_s", m.executorRunTime / 1e3)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("spill_bytes", m.diskBytesSpilled)
        s.counts("peak_exec_mem_bytes") =
          math.max(s.counts("peak_exec_mem_bytes"), m.peakExecutionMemory)
        s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          m.executorRunTime
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c }
  }).flatMap(nodes)

  private val warehouse =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath

  /** TableSink writes catalog tables through `saveAsTable`: one outer
    * SaveAsV1TableCommand execution (its duration covers the whole write)
    * and a nested file write under the warehouse directory (its bytes).
    * Path writes (staging files, foreachBatch sinks, the job's own result)
    * are not table writes.
    */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record { s =>
      s.add("planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      nodes(qe.executedPlan).foreach {
        // the command class is private to Spark's sql package
        case e: ExecutedCommandExec
            if e.cmd.getClass.getSimpleName == "SaveAsV1TableCommand" =>
          s.add("table_write_s", durationNs / 1e9)
        case d: DataWritingCommandExec => d.cmd match {
          case i: InsertIntoHadoopFsRelationCommand
              if i.outputPath.toUri.getPath.startsWith(warehouse) =>
            s.add("table_write_bytes", i.metrics("numOutputBytes").value)
          case _ =>
        }
        case _ =>
      }
    }
    // a failing job is recorded, with its cause, by the harness
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = record { s =>
      val p = e.progress
      s.add("stream_batches", 1)
      for (phase <- Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning"))
        s.add(s"stream_${phase}_ms",
          Option(p.durationMs.get(phase)).fold(0L)(_.longValue))
      s.add("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      lastStateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = record {
      _.add("state_rows", lastStateRows.remove(e.runId).fold(0.0)(_.toDouble))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Every span, with times in seconds from the tracer's start and the
    * worst per-stage (max / median task time) ratio among its stages
    * that ran more than one task.
    */
  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      val skews = s.stageTaskMs.values.filter(_.size > 1).map { ts =>
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2)
        sorted.last.toDouble / math.max(1L, median)
      }
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "job_group" -> s.group, "start_s" -> (s.start - origin) / 1e9,
        "end_s" -> (s.end - origin) / 1e9,
        "task_skew" -> (if (skews.isEmpty) 0.0 else skews.max),
        "counts" -> s.counts.toMap)
    }
  }
}
