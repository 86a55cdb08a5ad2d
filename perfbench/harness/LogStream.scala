package perfbench

import graft.config.AppConfig
import graft.functions.{GraftFunctions, LogParse}
import graft.sink.Sinks.{ParquetTableSink, RecordSink}
import graft.streaming.Pipeline

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** log_stream: the reference dataflow as `Main`'s default mode wires it —
  * `Pipeline.start` with a `LateRouter` over a date-partitioned
  * `ParquetTableSink` and a late `ParquetTableSink` — fed gzipped
  * wire-format records through a MemoryStream and decoded with
  * `gunzipText`, the projection `GzipFileLogSource` applies. Exactly one
  * streaming query runs.
  *
  * Phases: untimed warm-up; a live phase at a fixed offered rate (latency);
  * a closed-loop drain of fixed 10,000-record batches (throughput). */
object LogStream {
  /** Records per drain batch: SHARD_GETRECORDS_MAX, one Kinesis poll. */
  val DrainBatch: Int = AppConfig().maxRecordsPerPoll
  val DrainBatches = 3
  /** Offered live rate, records/s. Fixed, and well under the drain rate
    * (see perfbench/NOTES.md for the rate it was checked against). */
  val LiveRate = 1000.0
  val TickMs = 20.0
  val WarmMs = 2000.0
  /** Share of the run's seconds measured in the live phase; the rest
    * covers the drain. The live phase first runs `SettleMs` unmeasured:
    * right after the warm-up its first batches run slow, for about eight
    * batches and by an amount that varies from run to run. */
  val LiveShare = 0.8
  val SettleMs = 9000.0
  /** Fewest live micro-batches a valid run may have (the median's samples). */
  val MinLiveBatches = 8
  /** Live batches measured per run; the window stretches (up to
    * MaxLiveFactor times its nominal length) when batches run slow, so a
    * slow minute on the host yields as many samples as a fast one. */
  val TargetBatches = 10
  val MaxLiveFactor = 2
  /** Input generation is repeated and its median reported in setup_s. */
  val SetupReps = 3
  /** Measured batches of the single-slot baseline drain. */
  val Local1Batches = 2

  /** Record source: one MemoryStream of gzipped payloads, spread over the
    * task slots, decoded by the program's gunzip expression. */
  final class MemSource(val ms: MemoryStream[Array[Byte]]) extends Pipeline.LogSource {
    override def stream(spark: SparkSession): DataFrame =
      ms.toDF().select(GraftFunctions.gunzipText(col("value")).as("raw"))
        .filter(col("raw").isNotNull)
  }

  /** Sink wrapper: records when each write returns (the commit time of the
    * records it wrote); in the traced run also a span and job tags. */
  final class TimedSink(spark: SparkSession, inner: RecordSink, name: String,
      log: ConcurrentLinkedQueue[(Long, String, Double, Double)], tracer: Option[Tracer])
      extends RecordSink {
    override def write(batch: DataFrame, batchId: Long): (Long, Long) = {
      val t0 = Clock.nowMs
      val r = tracer match {
        case Some(t) =>
          val q = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
          t.sinkCall(s"$q/$batchId", name)(inner.write(batch, batchId))
        case None => inner.write(batch, batchId)
      }
      log.add((batchId, name, t0, Clock.nowMs))
      r
    }
  }

  /** A running pipeline and everything needed to account for its records. */
  final class Rig(spark: SparkSession, dir: String, val slots: Int, tracer: Option[Tracer]) {
    val ms = MemoryStream[Array[Byte]](spark, slots)(Encoders.BINARY)
    val writes = new ConcurrentLinkedQueue[(Long, String, Double, Double)]()
    val sinkDir = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    /** Offered records, in send order, with their scheduled send times. */
    val recs = ArrayBuffer[Gen.LogRec]()
    val sched = ArrayBuffer[Double]()
    /** MemoryStream block (offset) -> [lo, hi) record range. */
    val blocks = ArrayBuffer[(Int, Int)]()
    var query: StreamingQuery = _

    def start(baseEventMs: Long): Unit = {
      val cfg = AppConfig()
      val router = new Pipeline.LateRouter(cfg.latenessSeconds * 1000L,
        new TimedSink(spark, new ParquetTableSink(s"$sinkDir/main", datePartitioned = true),
          "main", writes, tracer),
        new TimedSink(spark, new ParquetTableSink(s"$sinkDir/late"), "late", writes, tracer),
        // the event-time watermark starts at the first record's time, so a
        // late record is late from the very first batch
        initialWatermarkMs = Some(baseEventMs))
      query = Pipeline.start(spark, new MemSource(ms), cfg, router, ckpt)
    }

    /** Offer records [lo, hi) as one block. */
    def offer(lo: Int, hi: Int): Unit = {
      val off = ms.addData(recs.view.slice(lo, hi).map(_.payload).toSeq)
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset.toInt
      require(off == blocks.size, s"unexpected MemoryStream offset $off")
      blocks += ((lo, hi))
    }

    /** Forget records [lo, recs.size) that were never offered. */
    def dropFrom(lo: Int): Unit = {
      recs.remove(lo, recs.size - lo)
      sched.remove(lo, sched.size - lo)
    }

    def add(rs: Array[Gen.LogRec], at: Int => Double): (Int, Int) = {
      val lo = recs.size
      recs ++= rs
      sched ++= rs.indices.map(at)
      (lo, recs.size)
    }

    /** Batch id -> [lo, hi) records and batch timestamp, from the offset log. */
    def batches(): Seq[(Long, Int, Int, Long)] = {
      var prev = -1L
      OffsetLog.read(ckpt).map { e =>
        val lo = blocks((prev + 1).toInt)._1
        val hi = blocks(e.endOffset.toInt)._2
        prev = e.endOffset
        (e.batchId, lo, hi, e.batchTsMs)
      }
    }

    def commitTimes(): Map[(Long, String), Double] =
      writes.asScala.map { case (b, n, _, e) => (b, n) -> e }.toMap
  }

  /** Wall-clock generator: one thread, ticks every `TickMs`, offering every
    * record whose scheduled send time has passed, until `hi` or until
    * `enough()` holds. It never waits on Spark. Returns each tick's lateness
    * (ms), (tick time, records sent) per tick, and where it stopped. */
  def generate(rig: Rig, lo: Int, hi: Int, enough: () => Boolean = () => false)
      : (Seq[Double], Seq[(Double, Int)], Int) = {
    val lags = ArrayBuffer[Double]()
    val sent = ArrayBuffer[(Double, Int)]()
    var next = lo
    val t = new Thread(() => {
      var k = 0
      val t0 = rig.sched(lo)
      while (next < hi && !enough()) {
        val due = t0 + k * TickMs
        Clock.sleepUntil(due)
        val now = Clock.nowMs
        lags += now - due
        var end = next
        while (end < hi && rig.sched(end) <= now) end += 1
        if (end > next) { rig.offer(next, end); next = end }
        sent += ((Clock.nowMs, next))
        k += 1
      }
    }, "perfbench-generator")
    t.start(); t.join()
    (lags.toSeq, sent.toSeq, next)
  }

  def run(spark: SparkSession, o: Opts): Result = {
    val tracer = if (o.trace) Some(new Tracer(spark, "log_stream").install()) else None
    val dir = Fs.fresh(s"${o.work}/log_stream")
    val liveMs = o.seconds * 1000.0 * LiveShare
    val nWarm = (LiveRate * WarmMs / 1000).toInt
    // records for up to MaxLiveFactor times the nominal window; the phase
    // ends once TargetBatches batches lie wholly inside the window
    val nLive = (LiveRate * (SettleMs + MaxLiveFactor * liveMs) / 1000).toInt
    val step = 1000.0 / LiveRate

    // ---- set-up: inputs, query start, untimed warm-up ----
    val rig = new Rig(spark, dir, o.slots, tracer)
    val base = System.currentTimeMillis()
    // input generation is repeated and its median reported in setup_s
    val gens = (0 until SetupReps).map { _ =>
      val t0 = Clock.nowMs
      val r = new SplittableRandom(o.seed)
      // keys and event times both increase in send order, so no on-time
      // record is ever behind the watermark
      var key = 0L
      var t = base.toDouble
      def next(n: Int, stepMs: Double) = {
        val out = Gen.logRecords(r, key, n, t.toLong, stepMs)
        key += n; t += n * stepMs
        out
      }
      val warm = next(nWarm, step)
      val warmDrain = next(DrainBatch, 0.1)
      val live = next(nLive, step)
      val drain = (0 until DrainBatches).map(_ => next(DrainBatch, 1.0))
      (Clock.nowMs - t0, (warm, warmDrain, live, drain))
    }
    val genMs = gens.map(_._1)
    val (warm, warmDrain, live, drain) = gens.last._2
    val startMs = Clock.nowMs
    Phase.mark("generated")
    rig.start(base)
    val w0 = Clock.nowMs + 50
    val (wLo, wHi) = rig.add(warm, i => w0 + i * step)
    generate(rig, wLo, wHi)
    rig.query.processAllAvailable()
    // one untimed drain-sized batch, so the per-record paths are compiled
    // before anything is timed
    val (dLo, dHi) = rig.add(warmDrain, _ => Clock.nowMs)
    rig.offer(dLo, dHi)
    rig.query.processAllAvailable()
    val setupS = (Clock.nowMs - o.launchMs - genMs.sum + Stats.median(genMs)) / 1000.0
    val prepS = (Clock.nowMs - startMs) / 1000.0
    Phase.mark("warm")

    // ---- live phase: fixed offered rate ----
    val l0 = Clock.nowMs + 50
    val (lLo, lMax) = rig.add(live, i => l0 + i * step)
    // the first SettleMs of the live phase are not measured
    val lMeasured = lLo + (LiveRate * SettleMs / 1000).toInt
    val windowStart = rig.sched(lMeasured)
    // one more main-sink write than TargetBatches: the first batch that
    // starts inside the window may hold records sent before it
    def enough(): Boolean = Clock.nowMs >= windowStart + liveMs &&
      rig.writes.asScala.count(w => w._2 == "main" && w._3 >= windowStart) > TargetBatches
    val (lags, sent, lHi) = generate(rig, lLo, lMax, () => enough())
    rig.dropFrom(lHi)
    rig.query.processAllAvailable()

    // ---- closed-loop drain: fixed 10,000-record batches ----
    val gc0 = Tracer.gcMs
    val d0 = Clock.nowMs
    val drainSecs = drain.map { d =>
      val (lo, hi) = rig.add(d, _ => Clock.nowMs)
      val t0 = Clock.nowMs
      rig.offer(lo, hi)
      rig.query.processAllAvailable()
      (Clock.nowMs - t0) / 1000.0
    }
    val drainWallMs = Clock.nowMs - d0
    Phase.mark("drained")
    val drainGcMs = Tracer.gcMs - gc0
    val queryId = rig.query.id.toString
    rig.query.stop()

    // ---- accounting (untimed) ----
    val commits = rig.commitTimes()
    val batches = rig.batches()
    def commitOf(b: Long, i: Int): Double =
      commits((b, if (rig.recs(i).late) "late" else "main"))
    val liveBatches = batches.filter { case (_, lo, hi, _) => lo >= lMeasured && hi <= lHi }
    val lat = liveBatches.map { case (b, lo, hi, _) =>
      Stats.mean((lo until hi).map(i => commitOf(b, i) - rig.sched(i)))
    }
    // backlog: records sent but not yet committed, at every generator tick
    val backlog = Validity.backlog(
      sent.filter(_._1 >= rig.sched(lMeasured)).map { case (t, n) => (t, n - lMeasured) },
      batches.filter { case (_, lo, hi, _) => hi > lMeasured && lo < lHi }.map { case (b, lo, hi, _) =>
        ((lo until hi).map(commitOf(b, _)).max, hi - math.max(lo, lMeasured))
      })
    val backlogEnd = backlog.lastOption.getOrElse(0)
    val flat = Validity.flat(backlog, LiveRate)
    val lagP99 = Stats.pct(lags, 99)
    val onSchedule = lagP99 <= 100.0
    val enoughBatches = lat.size >= MinLiveBatches
    if (!flat) System.err.println("INVALID: log_stream backlog grew")
    if (!onSchedule) System.err.println(f"INVALID: generator behind schedule (p99 lag $lagP99%.1f ms)")
    if (!enoughBatches) System.err.println(s"INVALID: only ${lat.size} live batches")

    val check = checkSinks(spark, rig)
    Phase.mark("checked")
    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("p50_ms", Stats.median(lat), "ms"),
      Metric("rate_per_s", Stats.median(drainSecs.map(DrainBatch / _)), "1/s"))
    val info = Seq(
      f"log_stream: live ${lat.size} batches at $LiveRate%.0f rec/s, drain $DrainBatches x $DrainBatch, " +
        f"generation ${Stats.median(genMs) / 1000}%.2f s, start+warm-up ${prepS}%.2f s, p99 generator lag $lagP99%.1f ms, backlog end $backlogEnd",
      s"log_stream: drain seconds per batch ${drainSecs.map(s => f"$s%.3f").mkString(" ")}",
      s"log_stream: live batch latency ms ${lat.map(x => f"$x%.0f").mkString(" ")}")
    info.foreach(System.err.println)

    val traced = tracer.map { t =>
      t.drain()
      val liveIds = liveBatches.map(_._1).toSet
      val drainIds = batches.filter(_._2 >= lHi).map(_._1).toSet
      val prog = t.progressOf(queryId)
      val liveProg = prog.filter(p => liveIds(p.batchId))
      val sinkMs = t.sinkCalls.asScala.toSeq.groupBy(_.unit).map { case (k, v) => k -> v.map(c => c.endMs - c.startMs).sum }
      def unit(b: Long) = s"$queryId/$b"
      val liveStats = liveProg.map(p => p -> t.batchStats(p))
      val drainStats = prog.filter(p => drainIds(p.batchId)).map(t.batchStats(_))
      // source lag: a record's scheduled send to the start of the
      // micro-batch that picked it up, per live batch
      val sourceLag = liveBatches.map { case (_, lo, hi, ts) =>
        Stats.mean((lo until hi).map(i => ts - rig.sched(i)))
      }
      val spans = t.spans()
      t.writeSpans(s"${o.work}/spans-log_stream.jsonl", spans)
      val (parseUs, gunzipUs) = microbench(spark, rig.recs.take(20000).map(_.payload).toSeq)
      val nDrain = DrainBatches * DrainBatch.toDouble
      Layers.fromRuns(
        unitMs = liveProg.map(_.durations("triggerExecution").toDouble),
        outsideJobsMs = liveStats.map { case (p, s) => p.durations("triggerExecution") - s.jobUnionMs },
        planMs = liveStats.map(_._2.planMs),
        sinkWriteMs = liveProg.map(p => sinkMs.getOrElse(unit(p.batchId), 0.0)),
        actionMs = liveStats.map(_._2.actionMs),
        closed = drainStats, closedRecords = nDrain, closedWallMs = drainWallMs,
        closedGcMs = drainGcMs, slots = o.slots,
        backlogEnd = backlogEnd.toDouble, sourceLagMs = Stats.median(sourceLag),
        parseUs = parseUs, gunzipUs = gunzipUs,
        table = Seq(
          "streaming.batch_ms" -> Stats.median(liveProg.map(_.durations("triggerExecution").toDouble)),
          "engine.trigger_overhead_ms" -> Stats.median(liveProg.map(p =>
            (p.durations("triggerExecution") - p.durations.getOrElse("addBatch", 0L)).toDouble)),
          "streaming.route_self_ms" -> Stats.median(liveProg.map(p =>
            p.durations.getOrElse("addBatch", 0L) - sinkMs.getOrElse(unit(p.batchId), 0.0))),
          "sink.write_ms" -> Stats.median(liveProg.map(p => sinkMs.getOrElse(unit(p.batchId), 0.0))),
          "engine.jobs_per_batch" -> Stats.median(drainStats.map(_.jobs.toDouble)),
          "sink.jobs_per_batch" -> Stats.median(drainStats.map(_.sinkJobs.toDouble)),
          "engine.tasks_per_batch" -> Stats.median(drainStats.map(_.tasks.toDouble)),
          "sink.files_per_batch" -> Stats.median(drainStats.map(_.filesWritten.toDouble)),
          "functions.parse_us_per_rec" -> parseUs,
          "expressions.gunzip_us_per_rec" -> gunzipUs,
          "engine.task_cpu_us_per_rec" -> drainStats.map(_.cpuNs).sum / 1000.0 / nDrain,
          "engine.gc_ms_per_batch" -> drainGcMs.toDouble / DrainBatches,
          "streaming.late_frac" -> check.lateFrac,
          "sink.dead_frac" -> check.deadFrac,
          "streaming.source_lag_ms" -> Stats.median(sourceLag),
          "gen.lag_ms" -> lagP99,
          "streaming.backlog_end" -> backlogEnd.toDouble),
        spans = spans)
    }
    Result(check.attempted, check.failed, flat && onSchedule && enoughBatches,
      traced.map(_._1).getOrElse(metrics), traced.map(_._2).getOrElse(Nil),
      e2e = if (traced.isDefined) metrics else Nil)
  }

  final case class Check(attempted: Long, failed: Long, lateFrac: Double, deadFrac: Double)

  /** Every offered record must sit exactly once in the sink its generator
    * flags name: main or late, data or dead letter. */
  def checkSinks(spark: SparkSession, rig: Rig): Check = {
    val places = Seq("main/data", "main/_dead_letter", "late/data", "late/_dead_letter")
    val found = places.map { p =>
      val path = s"${rig.sinkDir}/$p"
      p -> (if (Fs.dataFiles(path).isEmpty) Array.empty[Long]
        else spark.read.parquet(path).select(col("awsaccountid")).collect()
          .map(r => r.getString(0).toLong - Gen.AccountBase))
    }.toMap
    val seen = new java.util.HashMap[Long, String]()
    var failed = 0L
    found.foreach { case (p, keys) => keys.foreach { k =>
      if (seen.put(k, p) != null) failed += 1 // duplicated
    }}
    rig.recs.foreach { r =>
      val want = (if (r.late) "late" else "main") + (if (r.bad) "/_dead_letter" else "/data")
      val got = seen.remove(r.key)
      if (got != want) failed += 1
    }
    failed += seen.size // rows no generator offered
    val n = rig.recs.size.toDouble
    if (failed > 0) System.err.println(s"log_stream check: $failed records missing, misplaced or duplicated")
    Check(rig.recs.size, failed,
      (found("late/data").length + found("late/_dead_letter").length) / n,
      (found("main/_dead_letter").length + found("late/_dead_letter").length) / n)
  }

  /** `gunzipText` and `LogParse.parse` over a static cached batch into the
    * noop sink: per-record cost of the two expression layers. */
  def microbench(spark: SparkSession, payloads: Seq[Array[Byte]]): (Double, Double) = {
    import spark.implicits._
    val gz = payloads.toDF("content").repartition(1).cache()
    gz.count()
    val raw = gz.select(GraftFunctions.gunzipText(col("content")).as("raw")).cache()
    raw.count()
    def timeUs(df: => DataFrame): Double = Stats.median((0 until 5).map { _ =>
      val t0 = Clock.nowMs
      df.write.format("noop").mode("overwrite").save()
      (Clock.nowMs - t0) * 1000.0 / payloads.size
    })
    val gunzip = timeUs(gz.select(GraftFunctions.gunzipText(col("content")).as("raw")))
    val parse = timeUs(LogParse.parse(raw, "raw"))
    gz.unpersist(); raw.unpersist()
    (parse, gunzip)
  }

  /** Single-slot drain (the stream-processing baseline for the traced
    * run): same pipeline, same 10,000-record batches, `local[1]`. */
  def runDrainOnly(spark: SparkSession, o: Opts): Result = {
    val dir = Fs.fresh(s"${o.work}/log_drain_local1")
    val rng = new SplittableRandom(o.seed)
    val rig = new Rig(spark, dir, 1, None)
    val base = System.currentTimeMillis()
    rig.start(base)
    val secs = (0 until Local1Batches + 1).map { i =>
      val (lo, hi) = rig.add(Gen.logRecords(rng, i.toLong * DrainBatch, DrainBatch,
        base + i * DrainBatch, 1.0), _ => Clock.nowMs)
      val t0 = Clock.nowMs
      rig.offer(lo, hi)
      rig.query.processAllAvailable()
      (Clock.nowMs - t0) / 1000.0
    }.drop(1) // the first batch is the warm-up
    rig.query.stop()
    val check = checkSinks(spark, rig)
    Result(check.attempted, check.failed, valid = true,
      Seq(Metric("rate_per_s", Stats.median(secs.map(DrainBatch / _)), "1/s")))
  }
}
