package org.apache.spark {
  /** The listener bus is private to Spark; the traced run drains it before
    * reading what the listeners recorded. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  /** The QueryExecution an execution-end event carries (Spark-private). */
  object PerfbenchSql {
    def qeId(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Option[Long] =
      Option(e.qe).map(_.id)
  }
}

package perfbench {

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** One traced interval. `traceId` is workload/query/unit; `parent` is the
  * span id of the span that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, traceId: String, name: String,
    layer: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  def json: String =
    s"""{"id": $id, "parent": $parent, "trace": "$traceId", "name": "$name", """ +
      s""""layer": "$layer", "start_ms": $startMs, "end_ms": $endMs}"""
}

/** Per-unit counts and times gathered by the listeners. A unit is one
  * micro-batch of a streaming query or one tagged batch run. */
final case class UnitStats(jobs: Int, sinkJobs: Int, stages: Int, tasks: Int,
    cpuNs: Long, runMs: Long, shuffleBytes: Long, jobUnionMs: Double,
    planMs: Double, filesWritten: Long, filesRead: Long,
    writeMs: Double, actionMs: Double, actionsByFunc: Map[String, Int])

/** The benchmark-side tracer: a SparkListener (jobs, stages), a
  * QueryExecutionListener (planning phases, scan and write SQL metrics)
  * and a StreamingQueryListener (micro-batch progress). Nothing is written
  * until [[writeSpans]] at the end of the run. Units are keyed by the
  * local properties Spark sets on every job: the streaming batch id and
  * query id, or the benchmark's own `perfbench.unit` tag; jobs run inside a
  * wrapped sink call carry `perfbench.sink`. */
final class Tracer(spark: SparkSession, workload: String) {
  import Tracer._

  final case class JobRec(id: Int, startMs: Long, var endMs: Long, unit: String,
      sink: String, stageIds: Seq[Int])
  final case class StageRec(numTasks: Int, cpuNs: Long, runMs: Long, shuffleBytes: Long)
  final case class ExecRec(func: String, durMs: Double, planMs: Double,
      write: Boolean, filesWritten: Long, filesRead: Long)
  final case class Prog(queryId: String, batchId: Long, startMs: Double,
      durations: Map[String, Long], inputRows: Long)
  final case class SinkCall(unit: String, name: String, startMs: Double, endMs: Double)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  /** SQL execution id -> the execution's start time. */
  val execStart = new ConcurrentHashMap[Long, Long]()
  /** QueryExecution id (what the QueryExecutionListener sees) -> SQL
    * execution id (what jobs and execution events carry). */
  val execOfQe = new ConcurrentHashMap[Long, Long]()
  val progress = new ConcurrentLinkedQueue[Prog]()
  val sinkCalls = new ConcurrentLinkedQueue[SinkCall]()
  val unitSpans = new ConcurrentLinkedQueue[(String, String, Double, Double)]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val unit = prop("perfbench.unit").orElse(
        for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
          yield s"$q/$b").getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.time, unit, prop("perfbench.sink").getOrElse(""),
        e.stageIds))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.qeId(x).foreach(q => execOfQe.put(q, x.executionId))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages.put(i.stageId, StageRec(i.numTasks,
        m.map(_.executorCpuTime).getOrElse(0L), m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      val nodes = walk(qe.executedPlan)
      // file writes run as V1 commands or as V2 overwrite/append nodes
      val write = WriteFuncs(func) || nodes.exists(n => WriteNodes.exists(n.nodeName.startsWith))
      val written = nodes.filter(n => !n.isInstanceOf[FileSourceScanExec])
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
      val read = nodes.collect { case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      execs.put(qe.id, ExecRec(func, durationNs / 1e6, plan, write, written, read))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Prog(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap, p.numInputRows))
    }
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Time a sink call and tag the jobs it runs. */
  def sinkCall[T](unit: String, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.sink", name)
    val t0 = Clock.nowMs
    try f finally {
      sinkCalls.add(SinkCall(unit, name, t0, Clock.nowMs))
      sc.setLocalProperty("perfbench.sink", null)
    }
  }

  /** Run `f` as a unit of its own (jobs tagged `perfbench.unit`). */
  def unit[T](key: String, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.unit", key)
    val t0 = Clock.nowMs
    try f finally {
      unitSpans.add((key, name, t0, Clock.nowMs))
      sc.setLocalProperty("perfbench.unit", null)
    }
  }

  /** Stats of one micro-batch, over its trigger interval. */
  def batchStats(p: Prog): UnitStats =
    statsFor(s"${p.queryId}/${p.batchId}", p.startMs,
      p.startMs + p.durations.getOrElse("triggerExecution", 0L))

  /** Stats of a unit run through [[unit]]. */
  def unitStats(key: String): UnitStats = {
    val (_, _, s, e) = unitSpans.asScala.find(_._1 == key).get
    statsFor(key, s, e)
  }

  def progressOf(queryId: String): Seq[Prog] =
    progress.asScala.toSeq.filter(_.queryId == queryId).sortBy(_.batchId)

  /** Stats of one unit spanning [startMs, endMs]. Its jobs carry its key;
    * its executions are those that started inside the interval (every
    * workload runs one query or one batch run at a time, and a checkpoint's
    * jobs carry no execution id). */
  def statsFor(unit: String, startMs: Double, endMs: Double): UnitStats = {
    val js = jobs.values.asScala.toSeq.filter(_.unit == unit)
    val st = js.flatMap(_.stageIds).flatMap(s => Option(stages.get(s)))
    val ex = execs.asScala.toSeq.collect {
      case (q, x) if Option(execOfQe.get(q)).exists(id =>
          Option(execStart.get(id)).exists(t => t >= startMs && t <= endMs)) => x
    }
    UnitStats(js.size, js.count(_.sink.nonEmpty), st.size, st.map(_.numTasks).sum,
      st.map(_.cpuNs).sum, st.map(_.runMs).sum, st.map(_.shuffleBytes).sum,
      unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble))),
      ex.map(_.planMs).sum, ex.map(_.filesWritten).sum, ex.map(_.filesRead).sum,
      ex.filter(_.write).map(_.durMs).sum, ex.filterNot(_.write).map(_.durMs).sum,
      ex.groupBy(e => if (e.write) s"write:${e.func}" else e.func).map { case (k, v) => k -> v.size })
  }

  /** Spans: one per unit (micro-batch or tagged run), one per wrapped sink
    * call, one per Spark job. A job's parent is the sink call whose
    * interval holds it within the same unit, else the unit. */
  def spans(): Seq[Span] = {
    val ids = new java.util.concurrent.atomic.AtomicLong(0)
    val out = Seq.newBuilder[Span]
    val unitRoots = progress.asScala.toSeq.map { p =>
      (s"${p.queryId}/${p.batchId}", "streaming.micro_batch", "streaming", p.startMs,
        p.startMs + p.durations.getOrElse("triggerExecution", 0L))
    } ++ unitSpans.asScala.toSeq.map { case (k, n, s, e) => (k, n, "queries", s, e) }
    val rootId = unitRoots.map { case (k, n, l, s, e) =>
      val sp = Span(ids.incrementAndGet(), 0, s"$workload/$k", n, l, s, e)
      out += sp; k -> sp
    }.toMap
    val sinkSpans = sinkCalls.asScala.toSeq.map { c =>
      val sp = Span(ids.incrementAndGet(), rootId.get(c.unit).map(_.id).getOrElse(0L),
        s"$workload/${c.unit}", s"sink.${c.name}", "sink", c.startMs, c.endMs)
      out += sp; sp
    }
    val sinkByTrace = sinkSpans.groupBy(_.traceId)
    // jobs outside any unit (set-up, warm-up, checks) are not traced
    jobs.values.asScala.toSeq.filter(_.unit.nonEmpty).sortBy(_.id).foreach { j =>
      val trace = s"$workload/${j.unit}"
      val parent = sinkByTrace.getOrElse(trace, Nil)
        .find(s => s.startMs <= j.startMs && j.startMs <= s.endMs).map(_.id)
        .orElse(rootId.get(j.unit).map(_.id)).getOrElse(0L)
      out += Span(ids.incrementAndGet(), parent, trace, s"engine.job${j.id}", "engine",
        j.startMs.toDouble, j.endMs.toDouble)
    }
    out.result()
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      spans.map(_.json).asJava)
}

object Tracer {
  val WriteFuncs = Set("save", "overwrite", "append", "insertInto", "saveAsTable")
  val WriteNodes = Seq("Execute InsertInto", "OverwriteByExpression", "OverwritePartitions",
    "AppendData", "WriteFiles")
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    // a write command's physical plan sits in innerChildren (CommandResultExec)
    case other => other +: (other.children ++ other.subqueries ++
      other.innerChildren.collect { case c: SparkPlan => c }).flatMap(walk)
  }

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time by layer: each span's duration minus the union of its
    * children's intervals, summed per layer. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(x => x._2 > x._1)
      s.layer -> math.max(0.0, s.ms - unionMs(ch))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Total JVM garbage-collection time so far (in local mode all of Spark
    * runs in this one JVM). */
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

}
