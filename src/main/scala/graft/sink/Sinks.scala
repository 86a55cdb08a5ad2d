package graft.sink

import graft.config.AppConfig

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Batched fault-tolerant sinks (operators O9–O12).
  *
  * The reference hand-rolls a 50-record buffer flushed via WriteRecords,
  * removes per-record rejects from the live buffer, and checkpoints the
  * unflushed buffer into Flink state (TimestreamSink.java:72-125,150-172).
  * In Structured Streaming the micro-batch IS the buffer and
  * `checkpointLocation` IS the state snapshot, so the whole buffer/flush/
  * restore machinery collapses into `foreachBatch` + a validation split —
  * which also fixes the reference's flush-by-`==`-only bug
  * (TimestreamSink.java:132: a buffer that skips the exact boundary never
  * flushes).
  *
  * Per-record rejection (Timestream's RejectedRecordsException) becomes a
  * declarative validity predicate: rejected rows land in a dead-letter
  * table in the same transaction scope as the batch, instead of reverse-
  * index buffer surgery (TimestreamSink.java:103-120).
  */
object Sinks {

  /** A write target for point batches. */
  trait RecordSink {
    /** Write one (micro-)batch; returns (accepted, rejected) row counts.
      * A sink may read `batch` up to three times (one count, two writes),
      * so callers pass a cached frame, as
      * [[graft.streaming.Pipeline.LateRouter]] does. */
    def write(batch: DataFrame, batchId: Long): (Long, Long)
  }

  /** Validity predicate mirroring Timestream's per-record rejection
    * rules: a record needs a time, a present measure value parseable as
    * its declared type, and a known measure-value type. The flag is
    * null-SAFE (`coalesce` to false): a NULL measure_value_type makes
    * `isin` three-valued-NULL, and a NULL `_valid` would be dropped by
    * BOTH the accepted filter and the negated dead-letter filter — the
    * malformed row this split exists for would silently vanish. */
  def isValidPoint(df: DataFrame): DataFrame =
    df.withColumn(
      "_valid",
      coalesce(
        col("time").isNotNull &&
          col("measure_value_type")
            .isin(graft.model.TimestreamPoint.MeasureValueTypes.toSeq: _*) &&
          col("measure_value").isNotNull &&
          (col("measure_value_type") =!= "DOUBLE" || col("measure_value").try_cast("double").isNotNull) &&
          (col("measure_value_type") =!= "BIGINT" || col("measure_value").try_cast("long").isNotNull),
        lit(false)
      )
    )

  /** Validation split + write shared by the record sinks: one aggregate
    * counts both sides, then each non-empty side is written. It caches
    * nothing of its own: the count and both writes read the caller's
    * cached batch (see [[RecordSink.write]]). `extraValid` lets a sink
    * add endpoint-specific rejection rules (e.g. JDBC column-width
    * limits); `writeEmptyOk` forces the accepted-side write even for an
    * empty batch (the JDBC sink creates its table through it). */
  private def splitAndWrite(
      batch: DataFrame,
      writeOk: DataFrame => Unit,
      writeBad: DataFrame => Unit,
      extraValid: DataFrame => org.apache.spark.sql.Column = _ => lit(true),
      writeEmptyOk: Boolean = false
  ): (Long, Long) = {
    val flagged = isValidPoint(batch)
      .withColumn("_valid", col("_valid") && coalesce(extraValid(batch), lit(false)))
    val counts = flagged.agg(count_if(col("_valid")), count_if(!col("_valid"))).head()
    val (nOk, nBad) = (counts.getLong(0), counts.getLong(1))
    if (nOk > 0 || writeEmptyOk) writeOk(flagged.filter(col("_valid")).drop("_valid"))
    if (nBad > 0) writeBad(flagged.filter(!col("_valid")).drop("_valid"))
    (nOk, nBad)
  }

  /** Offline-runnable table sink: appends accepted rows as parquet under
    * `path`, rejected rows under `path`/_dead_letter. Stands in for the
    * Timestream/JDBC endpoint in this sandbox; the split logic is the
    * production logic.
    *
    * `datePartitioned = true` writes accepted rows under
    * `data/event_date=YYYY-MM-DD/` (derived from the point's epoch-ms
    * `time`) — the layout that makes time-range scans directory-pruned
    * AND makes the magnetic-store TTL enforceable as one directory
    * delete per expired day
    * ([[graft.sources.Layout.expirePartitions]]); this is how the
    * reference's MagneticStoreRetentionPeriodInDays
    * (TimestreamInitializer.java:47-50) becomes a real expiry here
    * rather than a recorded comment. */
  object ParquetTableSink {
    /** True when `dataPath` already holds TOP-LEVEL parquet files — a
      * sink written by the unpartitioned layout. Appending `event_date=`
      * directories beside them would create a mixed layout whose
      * partition discovery fails on every future read (and the write
      * side would never notice — append never reads). Callers use this
      * to keep writing a legacy sink flat instead of corrupting it.
      *
      * Error stance: only "path does not exist" means "fresh sink,
      * partitioned layout OK". A FAILED listing propagates — swallowing
      * it would return "not legacy" for a sink we could not inspect,
      * and a transient filesystem error on a genuinely flat sink would
      * then start the exact mixed-layout corruption this check exists
      * to prevent. */
    def isLegacyFlat(spark: org.apache.spark.sql.SparkSession,
        dataPath: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dataPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).exists { s =>
        s.isFile && (s.getPath.getName.endsWith(".parquet") ||
          s.getPath.getName.startsWith("part-"))
      }
    }
  }

  final class ParquetTableSink(path: String, datePartitioned: Boolean = false)
      extends RecordSink {
    override def write(batch: DataFrame, batchId: Long): (Long, Long) =
      splitAndWrite(
        batch,
        ok =>
          if (datePartitioned)
            ok.withColumn("event_date", to_date(timestamp_millis(col("time"))))
              .write.partitionBy("event_date").mode("append").parquet(s"$path/data")
          else ok.write.mode("append").parquet(s"$path/data"),
        bad => bad.write.mode("append").parquet(s"$path/_dead_letter")
      )
  }

  /** JDBC sink (the BASELINE.json-designated production edge). Code path
    * is complete but only exercised when a jdbcUrl is configured — the
    * sandbox has no database endpoint. Rejected rows go to
    * `<table>_dead_letter` on the same connection. */
  final class JdbcBatchSink(cfg: AppConfig) extends RecordSink {
    require(cfg.jdbcUrl.nonEmpty, "JdbcBatchSink needs jdbcUrl")
    private val props = new java.util.Properties()

    /** JDBC has no map/array/struct types — serialize complex columns to
      * JSON text (the `dimensions` map of the point model travels as its
      * JSON form, exactly how Timestream's own write API flattens
      * dimensions). Without this the first parsed micro-batch kills the
      * query with "Can't get JDBC type for map<string,string>". */
    private def jdbcCompatible(df: DataFrame): DataFrame =
      df.schema.fields.foldLeft(df) { (acc, f) =>
        f.dataType match {
          case _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.StructType =>
            acc.withColumn(f.name, to_json(col(f.name)))
          case _ => acc
        }
      }

    /** String columns as VARCHAR, not the dialect's LOB default — Spark
      * maps StringType to CLOB on Derby-family databases, and LOB columns
      * can't be compared/indexed (breaks downstream dedup/lookups). */
    private def varcharTypes(batch: DataFrame): Option[String] = {
      val strCols = batch.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.StringType)
        .map(f => s"${f.name} VARCHAR(${JdbcBatchSink.VarcharWidth})")
      if (strCols.isEmpty) None else Some(strCols.mkString(", "))
    }

    private def stringCols(df: DataFrame): Seq[String] =
      df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.StringType)
        .map(_.name).toSeq

    override def write(batch: DataFrame, batchId: Long): (Long, Long) = {
      val compat = jdbcCompatible(batch)
      def writer(df: DataFrame) = {
        val w = df.write.mode("append")
        varcharTypes(df).fold(w)(t => w.option("createTableColumnTypes", t))
      }
      splitAndWrite(
        compat,
        ok => writer(ok).jdbc(cfg.jdbcUrl.get, cfg.tableName, props),
        bad => {
          // the dead-letter table shares the VARCHAR widths, so oversized
          // rejects are truncated to fit — a too-long value must not kill
          // the dead-letter write either
          val truncated = stringCols(bad).foldLeft(bad)((acc, c) =>
            acc.withColumn(c, substring(col(c), 1, JdbcBatchSink.VarcharWidth)))
          writer(truncated).jdbc(cfg.jdbcUrl.get, s"${cfg.tableName}_dead_letter", props)
        },
        // endpoint rule: a string longer than the declared VARCHAR width
        // cannot INSERT — reject the row instead of letting one oversized
        // record abort the whole micro-batch (NULL strings fit trivially)
        extraValid = df => stringCols(df)
          .map(c => coalesce(length(col(c)) <= JdbcBatchSink.VarcharWidth, lit(true)))
          .foldLeft(lit(true))(_ && _),
        writeEmptyOk = true
      )
    }
  }

  object JdbcBatchSink {
    /** Declared width of every JDBC string column (shared by the main and
      * dead-letter tables). */
    val VarcharWidth = 4096
  }

  /** Exactly-once upgrade for `foreachBatch` replays: after recovery
    * Structured Streaming re-delivers a micro-batch under the SAME
    * batchId, so recording completed batchIds makes the at-least-once
    * write idempotent — a replayed batch whose marker exists is skipped
    * outright. The marker commits only AFTER the inner write, so the
    * remaining window is a crash between write and marker (replayed,
    * possibly duplicating that one batch into an append-only target);
    * a transactional endpoint (JDBC staging-table swap, an overwrite of
    * a per-batch partition) closes that last gap — the dedup here is the
    * part the reference's checkpointed buffer never had
    * (TimestreamSink.java:150-172 restores and RE-SENDS the buffer).
    *
    * `markerDir` MUST live under the query's `checkpointLocation` (or
    * share its lifecycle): batchIds restart from 0 when the checkpoint
    * is reset, and stale markers from a previous incarnation would make
    * the fresh batchIds look already-written — silently dropping data.
    * Tying the two directories together makes a checkpoint reset clear
    * the markers with it. */
  final class IdempotentSink(inner: RecordSink, markerDir: String) extends RecordSink {
    override def write(batch: DataFrame, batchId: Long): (Long, Long) = {
      val marker = Paths.get(markerDir, f"batch-$batchId%09d.done")
      if (Files.exists(marker)) (0L, 0L)
      else {
        val r = inner.write(batch, batchId)
        Files.createDirectories(marker.getParent)
        Files.writeString(marker, s"${r._1},${r._2}")
        r
      }
    }
  }

  /** Console sink (O9 — the reference's side-output `print()`). Its two
    * actions (count + show) both read the caller's cached batch, so the
    * lineage — the whole source scan on the late-data path — runs once
    * per trigger, not twice. */
  final class ConsoleSink extends RecordSink {
    override def write(batch: DataFrame, batchId: Long): (Long, Long) = {
      val n = batch.count()
      batch.show(20, truncate = false)
      (n, 0L)
    }
  }

  /** Deliberately drops its batch (counting it as accepted) — for
    * routing topologies where this side of a split is DELIVERED BY A
    * DIFFERENT QUERY and only the other side should land here: e.g.
    * `Main --mode refire` runs the update-mode upsert as the main
    * delivery and a LateRouter purely for the dead letter, so the
    * router's on-time side discards. Its count() reads the router's
    * already-built cache, so discarding costs no source scan. */
  final class DiscardSink extends RecordSink {
    override def write(batch: DataFrame, batchId: Long): (Long, Long) =
      (batch.count(), 0L)
  }

  /** Idempotent DDL initializer (O12). The reference creates the
    * Timestream database/table and swallows ConflictException
    * (TimestreamInitializer.java:30-58); here: `CREATE TABLE IF NOT
    * EXISTS` DDL for the JDBC edge, directory+marker bootstrap for the
    * offline table sink. Safe to call repeatedly. */
  object DdlInitializer {

    /** DDL the JDBC edge would run, retention encoded as comments the way
      * a warehouse encodes table properties. */
    def createTableSql(cfg: AppConfig): String =
      s"""CREATE TABLE IF NOT EXISTS ${cfg.databaseName}.${cfg.tableName} (
         |  time BIGINT NOT NULL,
         |  time_unit VARCHAR,
         |  measure_name VARCHAR,
         |  measure_value VARCHAR,
         |  measure_value_type VARCHAR,
         |  callerservice VARCHAR,
         |  operation VARCHAR,
         |  awsaccountid VARCHAR
         |) /* memory_store_retention_hours=${cfg.memoryStoreRetentionHours},
         |     magnetic_store_retention_days=${cfg.magneticStoreRetentionDays} */""".stripMargin

    /** Offline flavor: ensure the sink directory tree exists (idempotent,
      * like CREATE IF NOT EXISTS). Returns true iff it newly created. */
    def ensureTableDir(path: String): Boolean = {
      val p = Paths.get(path)
      val existed = Files.exists(p)
      Files.createDirectories(Paths.get(s"$path/data"))
      Files.createDirectories(Paths.get(s"$path/_dead_letter"))
      !existed
    }

    /** ENFORCE the configured magnetic-store retention on a
      * date-partitioned table sink — the reference sets a real TTL
      * (TimestreamInitializer.java:47-50) and Timestream expires past
      * it; `createTableSql` only RECORDS the numbers. Run on the same
      * maintenance cadence as compaction
      * ([[graft.streaming.CorpusIngest.compact]] takes a
      * [[graft.sources.Layout.RetentionPolicy]] for exactly this).
      * Returns the dropped partition dates. */
    def enforceRetention(
        spark: org.apache.spark.sql.SparkSession,
        path: String,
        cfg: AppConfig,
        // UTC to match the partition naming — see RetentionPolicy's note
        today: java.time.LocalDate = java.time.LocalDate.now(java.time.ZoneOffset.UTC)): Seq[String] =
      graft.sources.Layout.applyRetention(
        spark,
        graft.sources.Layout.RetentionPolicy(
          s"$path/data", cfg.magneticStoreRetentionDays, today))
  }
}
