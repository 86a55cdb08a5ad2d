package graft.streaming

import graft.config.AppConfig
import graft.functions.LogParse
import graft.sink.Sinks.RecordSink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** The reference pipeline, Structured-Streaming-native (operators
  * O1–O11 end to end):
  *
  *   source (text records) → native-expression parse → event time +
  *   watermark (lateness folded in, O4+O6) → keyed 10 s tumbling window
  *   aggregation (O5 — `groupBy(window, keys)`, which scales out where the
  *   reference's `windowAll` forced parallelism 1,
  *   StreamingJob.java:148) → foreachBatch sink with validation
  *   dead-letter (O10), checkpointed (O11) — plus the late-data router
  *   (O7/O8), Spark's one genuinely missing streaming primitive.
  *
  * Semantic substitution, documented: Flink's `allowedLateness(5s)`
  * re-fires closed windows; Spark append mode fires once when the
  * watermark clears window end + delay. Records later than that are
  * silently DROPPED by Spark's window operator — the [[LateRouter]]
  * recovers them into a dead-letter sink before they reach the window,
  * mirroring `sideOutputLateData` (StreamingJob.java:128,150-166).
  */
object Pipeline {

  /** Source abstraction (O1/O2). The sandbox has no Kinesis endpoint; the
    * connector options the reference tunes (StreamingJob.java:77-95) live
    * in [[AppConfig]] and map 1:1 onto a Kinesis connector's options when
    * one is on the classpath. Offline sources: file stream and
    * MemoryStream (tests). */
  trait LogSource {
    def stream(spark: SparkSession): DataFrame // one string column `raw`
  }

  /** Text-file drop-in for the Kinesis edge: each line-group file is a
    * record batch. `wholetext` keeps one record per file, matching
    * one-Kinesis-record-per-payload. */
  final class FileLogSource(dir: String) extends LogSource {
    override def stream(spark: SparkSession): DataFrame =
      spark.readStream.option("wholetext", "true").text(dir)
        .withColumnRenamed("value", "raw")
  }

  /** Gzipped-payload flavor — the reference's ACTUAL wire format (its
    * generator gzips every record, timestream_kinesis_data_gen.py:75;
    * the Flink job's plain-string read was a latent bug). binaryFile
    * source → gunzip projection → same parse. Corrupt payloads null out
    * and are dropped here, not crash the job. */
  final class GzipFileLogSource(dir: String) extends LogSource {
    override def stream(spark: SparkSession): DataFrame =
      spark.readStream.format("binaryFile")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
        .option("pathGlobFilter", "*.gz")
        .load(dir)
        .select(graft.functions.GraftFunctions.gunzipText(col("content")).as("raw"))
        .filter(col("raw").isNotNull)
  }

  /** Live Kinesis edge (O1): maps [[AppConfig]] onto the option map of
    * the public AWS Labs Structured Streaming Kinesis connector
    * (`spark-sql-kinesis-connector`, source format `aws-kinesis`) — the
    * 1:1 translation of the reference consumer's tuning
    * (StreamingJob.java:77-95: region, stream, poll interval, max
    * records per GetRecords, adaptive-reads toggle; AUTO credentials =
    * the connector's DefaultCredentialsProvider default, so no key
    * options are set).
    *
    * The connector jar is not in this sandbox, so construction is
    * guarded: a missing data source surfaces as a clear "add the
    * connector jar" error instead of a raw lookup failure. The option
    * TRANSLATION is a pure function (unit-tested), and the full
    * `readStream.format(...).options(...).load()` path — lookup, option
    * delivery, LATEST positioning, record-schema contract, checkpoint
    * resume — is driven end-to-end in KinesisEdgeSpec against a
    * test-registered DataSource V2 under the same short name.
    *
    * @param format data-source short name; overridable ONLY so the
    *               missing-connector guard stays testable in a JVM where
    *               the test connector satisfies the production name. */
  final class KinesisLogSource(cfg: AppConfig, format: String = KinesisLogSource.Format)
      extends LogSource {
    override def stream(spark: SparkSession): DataFrame = {
      val df =
        try spark.readStream
          .format(format)
          .options(KinesisLogSource.options(cfg))
          .load()
        catch {
          case e: Exception =>
            throw new IllegalStateException(
              s"Kinesis source '$format' unavailable — put the " +
                "spark-sql-kinesis-connector jar on the classpath (offline edges: " +
                "FileLogSource / GzipFileLogSource / MemoryStream)", e)
        }
      // record payload → one string column `raw`, the LogSource contract
      // (SimpleStringSchema parity, StreamingJob.java:102)
      df.select(col("data").cast("string").as("raw"))
    }
  }

  object KinesisLogSource {
    val Format = "aws-kinesis"

    /** Connector options from config — reference parity key by key. */
    def options(cfg: AppConfig): Map[String, String] = Map(
      "kinesis.streamName" -> cfg.streamName,
      "kinesis.region" -> cfg.region,
      "kinesis.endpointUrl" -> s"https://kinesis.${cfg.region}.amazonaws.com",
      // the reference reads from LATEST (FlinkKinesisConsumer default
      // STREAM_INITIAL_POSITION, StreamingJob.java:80-82)
      "kinesis.startingPosition" -> "LATEST",
      // SHARD_GETRECORDS_INTERVAL_MILLIS (StreamingJob.java:90-91)
      "kinesis.getRecords.fetchIntervalMs" -> cfg.pollIntervalMs.toString,
      // SHARD_GETRECORDS_MAX (StreamingJob.java:93-94)
      "kinesis.getRecords.maxRecordsPerFetch" -> cfg.maxRecordsPerPoll.toString,
      // Always the GetRecords polling consumer. Flink's
      // SHARD_USE_ADAPTIVE_READS (StreamingJob.java:84-88) self-tunes the
      // polling batch size to throughput; the Spark connector has no
      // adaptive-polling knob and SubscribeToShard (EFO push) would be a
      // DIFFERENT consumer model (separate AWS cost + registered-consumer
      // limits, GetRecords options silently ignored) — not a faithful
      // mapping. Adaptive reads therefore translate to plain polling with
      // the configured interval/max as the static bounds; documented as a
      // semantic substitution, not silently rewired.
      "kinesis.consumerType" -> "GetRecords"
    )
  }

  /** Parse + event-time + watermark (O3+O4+O6): the batch parser reused
    * verbatim — one relational core for both modes. */
  def parsed(raw: DataFrame, cfg: AppConfig): DataFrame =
    LogParse.parse(raw, "raw")
      .withWatermark("event_time", s"${cfg.latenessSeconds} seconds")

  /** Pipeline observability (the reference emits no metrics at all):
    * attach named metrics to the parsed stream — row count, parse
    * residue (null event time), max event-time — reported per
    * micro-batch in `StreamingQueryProgress.observedMetrics("pipeline")`.
    * `observe` accumulates inside the existing tasks: zero extra jobs,
    * zero extra scans, works identically under batch `collect`. */
  def withMetrics(parsedDf: DataFrame): DataFrame =
    parsedDf.observe(
      "pipeline",
      count(lit(1)).as("n_rows"),
      sum(when(col("event_time").isNull, 1L).otherwise(0L)).as("n_null_time"),
      max(col("time")).as("max_event_ms")
    )

  /** Streaming flagship aggregation (O5): keyed tumbling window stats.
    * Uses `functions.window` here — the streaming state store keys on the
    * window struct (unlike the batch path, where arithmetic bucketing
    * avoids a filter-pushdown double-parse; see Windowing.tumble). The
    * average is exact-decimal sum ÷ count cast through double, the same
    * arithmetic as the batch `Windowing.tumblingStats` — a bare float
    * `avg()` depends on partial-aggregation order and would break the
    * streaming-vs-batch parity the tests assert. */
  def windowedStats(parsedDf: DataFrame, cfg: AppConfig): DataFrame =
    parsedDf
      .groupBy(
        window(col("event_time"), s"${cfg.windowSeconds} seconds"),
        col("callerservice"),
        col("operation")
      )
      .agg(
        count(lit(1)).as("cnt"),
        min(col("latency")).as("min_latency"),
        max(col("latency")).as("max_latency"),
        sum(col("latency").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("_sum_dec")
      )
      .select(
        col("window.start").as("window_start"),
        col("callerservice"), col("operation"),
        col("cnt"), col("min_latency"), col("max_latency"),
        (col("_sum_dec").cast("double") / col("cnt")).as("avg_latency")
      )

  /** Sliding-window flavor (the reference imports sliding windows but
    * never wires them, StreamingJob.java:39): overlapping windows of
    * `winDur` every `slide`, keyed like [[windowedStats]]. */
  def slidingStats(parsedDf: DataFrame, winDur: String, slide: String): DataFrame =
    parsedDf
      .groupBy(
        window(col("event_time"), winDur, slide),
        col("callerservice"), col("operation")
      )
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("latency").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("_sum_dec")
      )
      .select(
        col("window.start").as("window_start"),
        col("callerservice"), col("operation"), col("cnt"),
        (col("_sum_dec").cast("double") / col("cnt")).as("avg_latency")
      )

  /** Built-in session-window aggregation (gap-based), the declarative
    * counterpart of [[Stateful.sessionize]]: Spark manages the merging
    * session state; append mode emits a session once the watermark passes
    * its close. */
  def sessionStats(parsedDf: DataFrame, gap: String): DataFrame =
    parsedDf
      .groupBy(session_window(col("event_time"), gap), col("awsaccountid"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("awsaccountid"), col("n_events")
      )

  /** Late-data side output (O7/O8). Tracks the max event time seen across
    * micro-batches — Flink's `forMonotonousTimestamps` watermark (max seen
    * − ε, StreamingJob.java:132-144) advanced at BATCH boundaries: rows are
    * judged against the watermark as of batch START, exactly like Flink
    * judges each record against the watermark at its arrival. In-order
    * data inside one batch is therefore never flagged (Flink parity);
    * a record 600 s behind the established watermark goes to the late
    * sink.
    *
    * One materialization per micro-batch: the router flags `_late`,
    * caches, and builds the cache with the one action that also reads the
    * batch's max `time`; both routes and every count inside the sinks read
    * that cache, so the source lineage runs once. The two routes then
    * write CONCURRENTLY, like the reference's independent main-sink and
    * side-output operators (StreamingJob.java:150-168,180-181): the late
    * side on a helper thread, the on-time side on the caller's.
    *
    * Delivery is at-least-once with no order between the routes: both
    * writes are waited for, even when one fails, and the first failure is
    * rethrown before the watermark advances — so a replay of the batch is
    * judged exactly as its first attempt was, and the route that did land
    * is written again.
    *
    * Restart semantics: the in-memory watermark starts at
    * `initialWatermarkMs` (use [[LateRouter.bootstrapWatermark]] to
    * recover it from the main sink's own data) — without it, the first
    * batch after a restart is judged leniently (nothing late), which
    * loses no data (at-least-once into the MAIN sink) but lapses late
    * detection for one batch. */
  final class LateRouter(
      latenessMs: Long,
      onTime: RecordSink,
      late: RecordSink,
      initialWatermarkMs: Option[Long] = None
  ) extends Serializable {
    private val maxSeenMs = new AtomicLong(initialWatermarkMs.getOrElse(Long.MinValue))

    def process(batch: DataFrame, batchId: Long): Unit = {
      // watermark as of batch start — rows in this batch are judged
      // against what was seen BEFORE it
      val cutoff = maxSeenMs.get() match {
        case Long.MinValue => Long.MinValue
        case m => m - latenessMs
      }
      val flagged = batch.withColumn(
        "_late",
        col("time").isNotNull && col("time") < lit(cutoff)
      ).cache()
      try {
        // this action builds the cache BEFORE the two concurrent writes
        // read it: first readers of an unbuilt cache that run in parallel
        // would each compute the source lineage
        val batchMax = flagged.agg(max(col("time"))).collect()(0)
        writeRoutes(flagged, batchId)
        // advance the watermark for subsequent batches only once both
        // routes landed
        if (!batchMax.isNullAt(0)) {
          val m = batchMax.getLong(0)
          maxSeenMs.updateAndGet(prev => math.max(prev, m))
        }
      } finally flagged.unpersist()
    }

    /** The late route on a helper thread that carries this thread's
      * session and local properties — job group and streaming query and
      * batch ids, so `StreamingQuery.stop()` cancels its jobs too — and
      * the on-time route here. Waits for both; rethrows the first failure
      * with any second one suppressed. */
    private def writeRoutes(flagged: DataFrame, batchId: Long): Unit = {
      val failure = new AtomicReference[Throwable]()
      def route(sink: RecordSink, rows: DataFrame): Unit =
        try sink.write(rows.drop("_late"), batchId)
        catch {
          case t: Throwable =>
            if (!failure.compareAndSet(null, t) && (failure.get ne t))
              failure.get.addSuppressed(t)
        }
      val lateDone = SQLExecution.withThreadLocalCaptured(
        ClassicConversions.castToImpl(flagged.sparkSession), LateRouter.writers)(
        route(late, flagged.filter(col("_late"))))
      route(onTime, flagged.filter(!col("_late")))
      lateDone.join()
      Option(failure.get).foreach(throw _)
    }
  }

  object LateRouter {
    /** Threads for the late routes: daemon, so they never hold up JVM
      * exit, and an idle one ends after a minute. */
    private val writers = java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "late-router-write")
      t.setDaemon(true)
      t
    }

    /** Recover the event-time watermark from an existing parquet sink
      * (max `time` already delivered) so a restarted router resumes late
      * detection immediately instead of lapsing for one batch.
      *
      * Partition-pruned: on a date-partitioned sink
      * ([[graft.sink.Sinks.ParquetTableSink]] with `datePartitioned =
      * true`, the production layout) only the latest `event_date=`
      * partition is scanned — `event_date = to_date(time)` means the
      * global max(time) necessarily lives in the max date partition, so
      * a restart on a multi-year sink reads one day of files, not the
      * whole table. Unpartitioned sinks fall back to the full scan. */
    def bootstrapWatermark(spark: SparkSession, parquetDataPath: String): Option[Long] =
      try {
        def maxTime(df: DataFrame): Option[Long] = {
          val r = df.agg(max(col("time"))).collect()(0)
          if (r.isNullAt(0)) None else Some(r.getLong(0))
        }
        val (scan, pruned) = bootstrapScanWith(spark, parquetDataPath)
        // a crashed write can leave the LATEST partition directory empty
        // (only _temporary, no committed rows) — a null pruned max must
        // fall back to the full scan, not report "no watermark" while
        // older partitions hold data
        maxTime(scan).orElse(
          if (pruned) maxTime(spark.read.parquet(parquetDataPath)) else None)
      } catch {
        // NonFatal only: a missing/corrupt/empty sink path legitimately means
        // "no watermark yet", but an OOM or fatal JVM error must propagate —
        // swallowing it here would silently disable late detection forever.
        case scala.util.control.NonFatal(_) => None
      }

    /** The frame [[bootstrapWatermark]] aggregates over — exposed so
      * PlanSpec can pin the pruned scan shape (exactly one selected
      * partition on a date-partitioned sink). ISO `yyyy-MM-dd` partition
      * values sort lexicographically == chronologically, so the max dir
      * name is the latest day without parsing. */
    private[graft] def bootstrapScan(
        spark: SparkSession, parquetDataPath: String): DataFrame =
      bootstrapScanWith(spark, parquetDataPath)._1

    /** [[bootstrapScan]] plus whether pruning actually applied — the
      * caller's signal that a null max warrants the full-scan fallback. */
    private def bootstrapScanWith(
        spark: SparkSession, parquetDataPath: String): (DataFrame, Boolean) = {
      val df = spark.read.parquet(parquetDataPath)
      latestEventDate(spark, parquetDataPath) match {
        case Some(d) if df.columns.contains("event_date") =>
          (df.filter(col("event_date") === lit(d)), true)
        case _ => (df, false)
      }
    }

    /** Latest `event_date=` partition directory, from one filesystem
      * listing — no data files touched. None on an unpartitioned or
      * missing sink. */
    private def latestEventDate(
        spark: SparkSession, parquetDataPath: String): Option[String] =
      try {
        val p = new org.apache.hadoop.fs.Path(parquetDataPath)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val parts = fs.listStatus(p).toSeq
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(_.startsWith("event_date="))
          .map(_.stripPrefix("event_date="))
          .filter(_ != "__HIVE_DEFAULT_PARTITION__")
        if (parts.isEmpty) None else Some(parts.max)
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Apply the configured state-store backend to the session. RocksDB is
    * the production default: the HDFS provider keeps every key in
    * executor heap, which is the first thing to die when windowed /
    * session / join state reaches 100 TB-cluster volumes; RocksDB spills
    * to local disk, changelog checkpointing ships deltas instead of full
    * snapshots, and the bounded block cache caps its memory share.
    * Session-wide by necessity (the state store is a session conf, not a
    * per-query option). */
  private[graft] def applyStateStore(spark: SparkSession, cfg: AppConfig): Unit =
    cfg.stateStoreProvider match {
      case "rocksdb" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "2048")
      case "hdfs" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      case other =>
        throw new IllegalArgumentException(
          s"unknown stateStoreProvider '$other' (expected 'rocksdb' or 'hdfs')")
    }

  /** Wire the full job: parse → late router (dead-letter + main point
    * sink). Checkpointed; AvailableNow trigger for deterministic tests,
    * continuous micro-batches in production. */
  def start(
      spark: SparkSession,
      source: LogSource,
      cfg: AppConfig,
      router: LateRouter,
      checkpointDir: String,
      availableNow: Boolean = false
  ): StreamingQuery = {
    applyStateStore(spark, cfg)
    val q = parsed(source.stream(spark), cfg)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => router.process(df, id))
    (if (availableNow) q.trigger(Trigger.AvailableNow()) else q).start()
  }

  /** UPDATE-MODE windowed aggregation — the Flink `allowedLateness`
    * RE-FIRE twin (StreamingJob.java:149,151-166). The append-mode path
    * folds lateness into the watermark and emits each window exactly
    * once, after the grace expires; Flink instead fires a window at the
    * watermark AND RE-FIRES a revised result for every late-but-in-grace
    * record. This start offers that second semantic natively: output
    * mode `update` emits a window's CURRENT aggregate in every
    * micro-batch that changed it, so a 3 s-late record inside the 5 s
    * grace produces a revised emission for its (already emitted) window
    * — exactly the reference's re-fire. Downstream must upsert by
    * (window_start, callerservice, operation); pair with UpsertSink for
    * idempotent revision application. */
  def startWindowedUpdate(
      spark: SparkSession,
      source: LogSource,
      cfg: AppConfig,
      sink: (DataFrame, Long) => Unit,
      checkpointDir: String,
      availableNow: Boolean = false
  ): StreamingQuery = {
    applyStateStore(spark, cfg)
    val q = windowedStats(parsed(source.stream(spark), cfg), cfg)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
    (if (availableNow) q.trigger(Trigger.AvailableNow()) else q).start()
  }
}
