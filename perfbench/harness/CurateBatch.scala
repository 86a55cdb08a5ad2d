package perfbench

import graft.queries.CurationQueries

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, sum}

import java.util.SplittableRandom

/** curate_batch: the batch `Main --mode curate` pipeline
  * (`CurationQueries.curateRun`), repeated over a generated corpus
  * three times the size of sf0.1's, written as several parquet files the way a
  * sharded corpus is. No streaming: per-row kernels (tokenize, MinHash),
  * shuffles and the actions run while the query is built dominate. */
object CurateBatch {
  val Docs = 15000
  /** Input preparation is repeated and its median reported in setup_s. */
  val SetupReps = 3
  val Files = 8
  /** Timed runs per benchmark run: a fixed count, so every run does the
    * same work, and odd, so the median is one run's own time and a run
    * the host slows moves it less than it would move a mean. */
  val Reps = 3

  def writeCorpus(spark: SparkSession, docs: Array[Gen.Doc], dir: String, files: Int): Unit = {
    import spark.implicits._
    docs.toSeq.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(files, col("doc_id")).sortWithinPartitions("doc_id")
      .write.parquet(s"$dir/documents.parquet")
  }

  def run(spark: SparkSession, o: Opts): Result = {
    val tracer = if (o.trace) Some(new Tracer(spark, "curate_batch").install()) else None
    val dir = Fs.fresh(s"${o.work}/curate_batch")

    // ---- set-up: corpus (median of SetupReps writes), untimed warm-up run ----
    val prepMs = (0 until SetupReps).map { r =>
      val t0 = Clock.nowMs
      writeCorpus(spark, Gen.corpus(new SplittableRandom(o.seed), Docs), s"$dir/corpus$r", Files)
      Clock.nowMs - t0
    }
    val corpus = s"$dir/corpus${SetupReps - 1}"
    Phase.mark("corpus written")
    val w0 = Clock.nowMs
    CurationQueries.curateRun(spark, corpus, s"$dir/warm_out")
    val warmMs = Clock.nowMs - w0
    val setupS = (w0 - o.launchMs - prepMs.sum + Stats.median(prepMs) + warmMs) / 1000.0
    Phase.mark("warm")
    // ---- timed repetitions ----
    val gc0 = Tracer.gcMs
    val t0 = Clock.nowMs
    val runs = (0 until Reps).map { r =>
      val out = s"$dir/out$r"
      val s0 = Clock.nowMs
      def go() = CurationQueries.curateRun(spark, corpus, out)
      tracer.fold(go())(_.unit(s"run$r", "queries.curate_run")(go()))
      (r, (Clock.nowMs - s0) / 1000.0, out)
    }
    val wallMs = Clock.nowMs - t0
    val gcMs = Tracer.gcMs - gc0
    val secs = runs.map(_._2)
    System.err.println(f"curate_batch: corpus writes ${prepMs.map(_ / 1000).mkString(" ")} s, " +
      f"warm-up ${warmMs / 1000}%.2f s, ${runs.size} runs: " +
      secs.map(s => f"$s%.3f").mkString(" "))

    Phase.mark("runs done")
    // ---- untimed checks ----
    val manifests = runs.map { case (_, _, out) => manifestOf(spark, out) }
    val failed = runs.zip(manifests).count { case ((_, _, out), m) =>
      !(reconciles(spark, out, m) && m == manifests.head)
    }
    if (failed > 0) System.err.println(s"curate_batch check: $failed runs wrong")
    Phase.mark("checked")

    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("p50_ms", Stats.median(secs) * 1000, "ms"),
      Metric("rate_per_s", Stats.median(secs.map(Docs / _)), "1/s"))

    val traced = tracer.map { t =>
      t.drain()
      val units = runs.map { case (r, s, _) => (s * 1000, t.unitStats(s"run$r")) }
      val spans = t.spans()
      t.writeSpans(s"${o.work}/spans-curate_batch.jsonl", spans)
      val writeMs = units.map(_._2.writeMs)
      val actionMs = units.map(_._2.actionMs)
      val byFunc = units.last._2.actionsByFunc.toSeq.sorted.map { case (k, n) => s"$k x$n" }.mkString(", ")
      Layers.fromRuns(
        unitMs = units.map(_._1),
        outsideJobsMs = units.map { case (ms, s) => ms - s.jobUnionMs },
        planMs = units.map(_._2.planMs),
        sinkWriteMs = writeMs,
        actionMs = actionMs,
        closed = units.map(_._2), closedRecords = Docs.toDouble * runs.size,
        closedWallMs = wallMs, closedGcMs = gcMs, slots = o.slots,
        // no streaming source and no log records: those layers read 0
        backlogEnd = 0.0, sourceLagMs = 0.0, parseUs = 0.0, gunzipUs = 0.0,
        table = Seq(
          "queries.curate_jobs" -> Stats.median(units.map(_._2.jobs.toDouble)),
          "queries.curate_action_s" -> Stats.median(actionMs) / 1000,
          "engine.tasks_per_stage" -> units.map(_._2.tasks).sum.toDouble / units.map(_._2.stages).sum,
          "engine.idle_core_frac" -> (1.0 - units.map(_._2.runMs).sum / (o.slots * wallMs)),
          "engine.task_cpu_s" -> Stats.median(units.map(_._2.cpuNs / 1e9)),
          "engine.shuffle_mb" -> Stats.median(units.map(_._2.shuffleBytes / 1048576.0)),
          "engine.gc_ms" -> gcMs.toDouble / runs.size,
          "engine.plan_ms" -> Stats.median(units.map(_._2.planMs)),
          "sink.write_ms" -> Stats.median(writeMs)),
        spans = spans) match { case (m, lines) => (m, lines :+ s"  executions in one run: $byFunc") }
    }
    Result(runs.size, failed, valid = true,
      traced.map(_._1).getOrElse(metrics), traced.map(_._2).getOrElse(Nil),
      e2e = if (traced.isDefined) metrics else Nil)
  }

  def manifestOf(spark: SparkSession, out: String): Seq[Row] =
    spark.read.parquet(s"$out/manifest").orderBy("stage_ord").collect().toSeq

  /** The manifest chains stage to stage and matches the curated output:
    * documents and tokens kept, and packed sequences (distinct shard, bin). */
  def reconciles(spark: SparkSession, out: String, m: Seq[Row]): Boolean = {
    val byStage = m.map(r => r.getAs[String]("stage") -> r).toMap
    val chained = m.sliding(2).forall { case Seq(a, b) =>
      a.getAs[Long]("n_out") == b.getAs[Long]("n_in") || b.getAs[String]("stage") == "pack"
    }
    val c = spark.read.parquet(s"$out/curated")
      .agg(org.apache.spark.sql.functions.count("*"), sum(col("n_tok")),
        countDistinct(col("shard"), col("bin"))).head()
    val pack = byStage("pack")
    val mix = byStage("mix_sample")
    m.size == 5 && chained &&
      c.getLong(0) == pack.getAs[Long]("n_in") && c.getLong(0) == mix.getAs[Long]("n_out") &&
      c.getLong(1) == pack.getAs[Long]("tokens_out") && c.getLong(2) == pack.getAs[Long]("n_out")
  }
}
