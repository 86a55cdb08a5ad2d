package graft

import graft.config.AppConfig
import graft.fixtures.LogGen
import graft.sink.Sinks.{ParquetTableSink, RecordSink}
import graft.streaming.Pipeline

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The late router's per-batch contract: one materialization, both
  * routes written concurrently with the caller's thread locals, and a
  * failed route leaving the watermark where a replay needs it. */
class LateRouterSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Properties of every job started while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val props = new ConcurrentLinkedQueue[java.util.Properties]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        props.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      ListenerBusAccess.drain(sc)
      (r, props.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** 100 points at 1 s steps from t=0; every tenth has a non-numeric
    * DOUBLE. With the watermark at 50 s (cutoff 45 s) the batch splits
    * all four ways: late or on-time, valid or invalid. The accumulator
    * counts how many times a source row is computed. */
  private def fourWayBatch(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val computes = spark.sparkContext.longAccumulator("source-computes")
    val tick = udf { (t: Long) => computes.add(1L); t }
    (spark.range(100).select(
      tick(col("id") * 1000L).as("time"),
      when(col("id") % 10 === 0, lit("n/a")).otherwise(col("id").cast("string"))
        .as("measure_value"),
      lit("DOUBLE").as("measure_value_type"),
      col("id")), computes)
  }

  private def ids(path: String): Set[Long] =
    if (Files.exists(java.nio.file.Paths.get(path)))
      spark.read.parquet(path).select("id").as[Long].collect().toSet
    else Set.empty

  test("one routed batch: at most 11 jobs, one source computation, every row in one of four dirs") {
    val (batch, computes) = fourWayBatch()
    val dir = tmp("router-jobs")
    val router = new Pipeline.LateRouter(5000L,
      new ParquetTableSink(s"$dir/main", datePartitioned = true),
      new ParquetTableSink(s"$dir/late"),
      initialWatermarkMs = Some(50000L))
    val (_, jobs) = jobsDuring(router.process(batch, 0L))
    assert(jobs.size <= 11, s"a routed micro-batch ran ${jobs.size} jobs (budget 11)")
    assert(computes.value == 100L,
      s"each source row must be computed exactly once, got ${computes.value} computes")

    val landed = Seq("main/data", "main/_dead_letter", "late/data", "late/_dead_letter")
      .map(d => d -> ids(s"$dir/$d")).toMap
    val expected = Map(
      "main/data" -> (45L until 100L).filter(_ % 10 != 0).toSet,
      "main/_dead_letter" -> (50L until 100L by 10L).toSet,
      "late/data" -> (0L until 45L).filter(_ % 10 != 0).toSet,
      "late/_dead_letter" -> (0L until 45L by 10L).toSet)
    assert(landed == expected)
    // exactly once: no id in two dirs, none missing, no duplicate rows
    val total = landed.keys.toSeq.map(d => spark.read.parquet(s"$dir/$d").count()).sum
    assert(total == 100L && landed.values.flatten.toSet == (0L until 100L).toSet)
  }

  /** Records each batch it is handed; throws on its first `failFirst`
    * calls, before writing anything. */
  private final class Recording(failFirst: Int = 0) extends RecordSink {
    val got = new ConcurrentLinkedQueue[(Long, Set[Long])]()
    private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    override def write(batch: DataFrame, batchId: Long): (Long, Long) = {
      if (calls.getAndIncrement() < failFirst)
        throw new IllegalStateException(s"late sink down (batch $batchId)")
      val rows = batch.select("id").as[Long].collect().toSet
      got.add((batchId, rows))
      (rows.size.toLong, 0L)
    }
  }

  test("a failing late route: process rethrows, no job outlives it, a replay routes like a first attempt") {
    val (batch, _) = fourWayBatch()
    val onTime = new Recording()
    val late = new Recording(failFirst = 1)
    val router = new Pipeline.LateRouter(5000L, onTime, late, initialWatermarkMs = Some(50000L))
    val err = intercept[IllegalStateException](router.process(batch, 3L))
    assert(err.getMessage.contains("late sink down"))
    ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a route's jobs were still running when process returned")
    // at-least-once: the on-time route landed although the late one failed
    assert(onTime.got.asScala.toSeq == Seq((3L, (45L until 100L).toSet)))

    // the replay: had the watermark advanced to the batch max (99 s), rows
    // up to 94 s would now route late
    router.process(batch, 3L)
    val clean = (new Recording(), new Recording())
    new Pipeline.LateRouter(5000L, clean._1, clean._2, initialWatermarkMs = Some(50000L))
      .process(batch, 3L)
    assert(late.got.asScala.toSeq == clean._2.got.asScala.toSeq)
    assert(onTime.got.asScala.toSeq.last == clean._1.got.asScala.head)
    assert(late.got.asScala.head == (3L, (0L until 45L).toSet))
  }

  test("late-route jobs carry the caller's job group and streaming query and batch ids") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val base = 1700000000000L
    ms.addData(LogGen.records(n = 60, seed = 5L, baseTimeMs = base,
      percentLate = 30, lateSeconds = 600): _*)
    val dir = tmp("router-locals")
    /** Tags the jobs it runs with its route, on whichever thread runs it. */
    final class Tagged(route: String, inner: RecordSink, threads: ConcurrentLinkedQueue[Thread])
        extends RecordSink {
      override def write(batch: DataFrame, batchId: Long): (Long, Long) = {
        threads.add(Thread.currentThread())
        spark.sparkContext.setLocalProperty("test.route", route)
        try inner.write(batch, batchId)
        finally spark.sparkContext.setLocalProperty("test.route", null)
      }
    }
    val onTimeThreads, lateThreads = new ConcurrentLinkedQueue[Thread]()
    val router = new Pipeline.LateRouter(5000L,
      new Tagged("onTime", new ParquetTableSink(s"$dir/main"), onTimeThreads),
      new Tagged("late", new ParquetTableSink(s"$dir/late"), lateThreads),
      initialWatermarkMs = Some(base))
    val (q, jobs) = jobsDuring {
      val q = Pipeline.start(spark, new Pipeline.LogSource {
        override def stream(s: org.apache.spark.sql.SparkSession): DataFrame =
          ms.toDF().withColumnRenamed("value", "raw")
      }, AppConfig(), router, tmp("router-locals-ckpt"))
      try q.processAllAvailable() finally q.stop()
      q
    }
    def prop(p: java.util.Properties, k: String) = Option(p.getProperty(k))
    val lateJobs = jobs.filter(prop(_, "test.route").contains("late"))
    assert(lateJobs.nonEmpty, "the batch has late rows, so the late route runs jobs")
    lateJobs.foreach { p =>
      assert(prop(p, "spark.jobGroup.id").contains(q.runId.toString))
      assert(prop(p, "sql.streaming.queryId").contains(q.id.toString))
      assert(prop(p, "streaming.sql.batchId").contains("0"))
    }
    // the routes ran concurrently: the late one off the caller's thread
    assert(lateThreads.asScala.toSet.intersect(onTimeThreads.asScala.toSet).isEmpty)
    assert(spark.read.parquet(s"$dir/late/data").count() > 0L)
  }
}
