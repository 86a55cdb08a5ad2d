package graft

import graft.queries.{AnalyticsQueries, CoreQueries, CurationQueries, SimilarityQueries, TextQueries}
import graft.sources.Tables

import org.apache.spark.sql.functions._

/** Semantics of the round-4 pipeline queries: boilerplate n-grams, the
  * strict-order funnel, exact decile binning, and keeper election. */
class PipelineQueriesSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("time_split: 80/20 event partition, leakage count matches a brute-force overlap") {
    val out = AnalyticsQueries.timeSplit(spark, dir).collect()
    assert(out.length == 2)
    val byName = out.map(r => r.getAs[String]("split") -> r).toMap
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("tus")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("tus")))
    val n = ev.length
    assert(byName("train").getAs[Long]("n_events") +
      byName("eval").getAs[Long]("n_events") == n)
    // the 0.8-quantile cut puts ~80% of events in train (interpolated
    // cutpoint: at least floor(0.8(n-1))+1 events are <= it)
    val trainN = byName("train").getAs[Long]("n_events")
    assert(trainN >= (0.8 * (n - 1)).floor.toLong + 1 && trainN < n)
    // brute-force leakage: users present on both sides of the same cut
    val sorted = ev.map(_._2).sorted
    val rank = 0.8 * (n - 1)
    val lo = sorted(rank.floor.toInt).toDouble
    val hi = sorted(rank.ceil.toInt).toDouble
    val cut = lo + (rank - rank.floor) * (hi - lo)
    val train = ev.filter(_._2 <= cut).map(_._1).toSet
    val eval = ev.filter(_._2 > cut).map(_._1).toSet
    out.foreach { r =>
      assert(r.getAs[Long]("n_overlap_users") == (train & eval).size.toLong)
    }
    assert(byName("train").getAs[Long]("n_users") == train.size.toLong)
    assert(byName("eval").getAs[Long]("n_users") == eval.size.toLong)
  }

  test("quality_threshold_sweep: monotone yields, t=0 covers the corpus") {
    val rows = TextQueries.qualityThresholdSweep(spark, dir).collect()
      .sortBy(_.getAs[Double]("threshold"))
    assert(rows.length == 10)
    // quality components are all non-negative, so t=0 keeps everything
    assert(rows.head.getAs[Long]("n_docs") ==
      Tables.documents(spark, dir).count())
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("n_docs") >= hi.getAs[Long]("n_docs"))
        assert(lo.getAs[Long]("n_tokens") >= hi.getAs[Long]("n_tokens"))
      case _ => ()
    }
  }

  test("token_rarity: frequencies reconcile with a driver-side vocabulary") {
    val out = TextQueries.tokenRarity(spark, dir).collect()
    val docToks = Tables.documents(spark, dir)
      .withColumn("ws", graft.functions.TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), col("ws")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("ws").toSeq)
      .toMap
    val vocab = docToks.values.flatten.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    assert(out.length == docToks.count(_._2.nonEmpty))
    out.foreach { r =>
      val toks = docToks(r.getAs[Long]("doc_id"))
      val freqs = toks.map(vocab)
      assert(r.getAs[Long]("n_tok") == toks.length.toLong)
      assert(r.getAs[Long]("sum_freq") == freqs.sum)
      assert(r.getAs[Long]("min_freq") == freqs.min)
      assert(r.getAs[Long]("n_hapax") == freqs.count(_ == 1L).toLong)
    }
  }

  test("lm_score: bigram conditional probabilities reconcile with a driver-side model") {
    val out = TextQueries.lmScore(spark, dir).collect()
    val docToks = Tables.documents(spark, dir)
      .withColumn("ws", graft.functions.TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), col("ws")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("ws").toSeq)
      .toMap
    val uni = docToks.values.flatten.groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val docBigrams = docToks.view.mapValues(ts =>
      ts.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq).toMap
    val bi = docBigrams.values.flatten.groupBy(identity)
      .map { case (b, o) => b -> o.size.toLong }
    assert(out.length == docBigrams.count(_._2.nonEmpty))
    out.foreach { r =>
      val bgs = docBigrams(r.getAs[Long]("doc_id"))
      // the exact fixed-point tree the query computes: one ratio
      // division, one scale, floor, long sum
      val expFp = bgs.map { case (u, v) =>
        math.floor((bi((u, v)).toDouble / uni(u).toDouble) * 1000000000.0).toLong
      }.sum
      assert(r.getAs[Long]("n_bigrams") == bgs.length.toLong)
      assert(r.getAs[Long]("lp_fp") == expFp)
      assert(r.getAs[Double]("avg_p") ==
        expFp.toDouble / (bgs.length.toDouble * 1000000000.0))
      // c(u w) <= c(u) always, so each probability (and the mean) is in (0, 1]
      assert(r.getAs[Double]("avg_p") > 0.0 && r.getAs[Double]("avg_p") <= 1.0)
    }
  }

  test("boilerplate ngrams: shared template scores 1.0, unique text 0.0") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    // five docs are the same 3-token template (df of their one shingle = 5
    // = the boilerplate threshold); the sixth is unique 4-token text whose
    // two shingles have df 1
    val docs = (1L to 5L).map(i => (i, "alpha beta gamma", "en", "t", 16L)) :+
      ((6L, "delta epsilon zeta eta", "en", "t", 22L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextQueries.boilerplateNgrams(spark, tmp)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.size == 6)
    (1L to 5L).foreach { i =>
      assert(r(i).getAs[Long]("n_shingles") == 1L)
      assert(r(i).getAs[Double]("boiler_ratio") == 1.0)
    }
    assert(r(6L).getAs[Long]("n_shingles") == 2L)
    assert(r(6L).getAs[Double]("boiler_ratio") == 0.0)
  }

  test("funnel: strict after-ordering gates each step") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    def ns(sec: Long): Long = sec * 1000000000L
    // u1 converts fully in order; u2's only click PRECEDES its first view
    // (and its purchase precedes everything); u3 views only
    Seq(
      (1L, ns(1), 1L, "view", 1.0, "{}"),
      (2L, ns(2), 1L, "click", 1.0, "{}"),
      (3L, ns(3), 1L, "purchase", 1.0, "{}"),
      (4L, ns(1), 2L, "click", 1.0, "{}"),
      (5L, ns(2), 2L, "view", 1.0, "{}"),
      (6L, ns(0), 2L, "purchase", 1.0, "{}"),
      (7L, ns(9), 3L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val steps = AnalyticsQueries.funnelSteps(spark, tmp)
      .collect().map(x => x.getAs[String]("stage") -> x.getAs[Long]("n_users")).toMap
    assert(steps("view") == 3L)
    assert(steps("click_after_view") == 1L)
    assert(steps("purchase_after_click") == 1L)
  }

  test("quantile bins: 10 near-equal bins, value-monotonic boundaries") {
    val total = Tables.events(spark, dir).count()
    val bins = AnalyticsQueries.quantileBins(spark, dir)
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(bins.map(_.getAs[Long]("bin")).toSeq == (1L to 10L))
    assert(bins.map(_.getAs[Long]("n")).sum == total)
    // ntile spreads rows within 1 of each other
    val ns = bins.map(_.getAs[Long]("n"))
    assert(ns.max - ns.min <= 1)
    // deciles tile the value axis in order
    bins.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Double]("max_value") <= hi.getAs[Double]("min_value"))
    }
  }

  test("keeper election: longest doc wins its cluster, sizes cover the corpus") {
    val keepers = CurationQueries.dedupKeepBest(spark, dir).collect()
    val labels = CurationQueries.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val chars = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // one row per cluster; sizes sum to the full corpus
    assert(keepers.map(_.getAs[Long]("cluster")).distinct.length == keepers.length)
    assert(keepers.map(_.getAs[Long]("n_docs")).sum == labels.length)
    val byCluster = labels.groupBy(_._2)
    keepers.foreach { k =>
      val members = byCluster(k.getAs[Long]("cluster")).map(_._1)
      val best = members.maxBy(d => (chars(d), -d))
      assert(k.getAs[Long]("keeper") == best)
      assert(k.getAs[Long]("n_docs") == members.length)
      assert(k.getAs[Long]("keeper_chars") == chars(best))
    }
  }

  test("retention cohorts: users anchor to their first week, offsets count actives") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_retention").toString
    def day(d: Long): Long = d * 86400000000000L // ns
    // u1 cohort week0, active weeks 0+1; u2 week0 only; u3 cohort week1,
    // active weeks 1+3 (u3's second event also tests the (user, week)
    // distinct: two events in week 3 count once)
    Seq(
      (1L, day(0), 1L, "view", 1.0, "{}"),
      (2L, day(8), 1L, "view", 1.0, "{}"),
      (3L, day(1), 2L, "view", 1.0, "{}"),
      (4L, day(7), 3L, "view", 1.0, "{}"),
      (5L, day(22), 3L, "view", 1.0, "{}"),
      (6L, day(23), 3L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val cells = AnalyticsQueries.retentionCohort(spark, tmp)
      .collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("weeks_since")) -> r.getAs[Long]("n_active_users"))
      .toMap
    assert(cells == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  test("snapshot diff: status follows the derivation arithmetic exactly") {
    val rows = CurationQueries.snapshotDiff(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val all = Tables.documents(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    all.foreach { id =>
      val inV1 = id % 5 != 0
      val inV2 = id % 7 != 0
      val expected =
        if (!inV1 && !inV2) None // in neither snapshot → not in the diff
        else if (!inV1) Some("added")
        else if (!inV2) Some("removed")
        else if (id % 3 == 0) Some("changed")
        else Some("same")
      assert(rows.get(id) == expected, s"doc $id")
    }
    assert(rows.size == all.count(id => id % 5 != 0 || id % 7 != 0))
  }

  test("event transitions: every non-first event contributes exactly one pair") {
    val ev = Tables.events(spark, dir)
    val total = ev.count()
    val users = ev.select(col("user_id")).distinct().count()
    val n = AnalyticsQueries.eventTransitions(spark, dir)
      .agg(sum(col("n"))).head.getLong(0)
    assert(n == total - users)
  }

  test("boilerplate join never plans doc x doc (candidate key is the shingle)") {
    val plan = TextQueries.boilerplateNgrams(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "boilerplate must not cross-join")
  }

  test("retention / transitions / snapshot diff: keyed shuffles only, no cartesian") {
    Seq(
      AnalyticsQueries.retentionCohort(spark, dir),
      AnalyticsQueries.eventTransitions(spark, dir),
      CurationQueries.snapshotDiff(spark, dir)
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n${p.take(1500)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"unexpected NLJ:\n${p.take(1500)}")
    }
  }

  test("above_avg_docs: the corpus statistic is a subquery, not a join") {
    val p = AnalyticsQueries.aboveAvgDocs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Subquery"), "expected scalar subqueries in the plan")
    assert(!p.toLowerCase.contains("join"), s"statistic must not plan as a join:\n${p.take(1500)}")
  }

  test("funnel filters push to the events scan") {
    val plan = AnalyticsQueries.funnelSteps(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_type"),
      "per-type funnel projections should push the type filter into the scan")
  }

  test("importance_weight: pure-target docs score 1.0-ish, scores reconcile with a driver model") {
    val out = TextQueries.importanceWeight(spark, dir).collect()
    // driver-side recomputation of the exact integer arithmetic
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[String]("text")))
    def toks(t: String): Seq[String] =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    val cr = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ct = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { case (_, lang, text) =>
      toks(text).foreach { w =>
        cr(w) += 1L; if (lang == "en") ct(w) += 1L
      }
    }
    val expected = docs.flatMap { case (id, _, text) =>
      val ws = toks(text)
      if (ws.isEmpty) None
      else {
        val score = ws.map(w => (ct(w) * 1000000L) / cr(w)).sum
        Some(id -> (ws.length.toLong, score, score / ws.length))
      }
    }.toMap
    assert(out.length == expected.size)
    out.foreach { r =>
      val (n, s, m) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_toks") == n && r.getAs[Long]("score_fp") == s &&
        r.getAs[Long]("mean_fp") == m,
        s"mismatch at doc ${r.getAs[Long]("doc_id")}")
    }
    // the signal separates: mean importance of en docs exceeds non-en
    val byLang = docs.map(d => d._1 -> d._2).toMap
    val (en, rest) = out.partition(r => byLang(r.getAs[Long]("doc_id")) == "en")
    def mean(a: Array[org.apache.spark.sql.Row]): Double =
      a.map(_.getAs[Double]("importance")).sum / a.length
    assert(mean(en) > mean(rest),
      "en documents must rank as more target-like than the rest")
  }

  test("mix_temperature: big sources down-sample but keep MORE than uniform; tiny pass whole") {
    val out = CurationQueries.mixTemperature(spark, dir).collect()
    assert(out.nonEmpty)
    val bySrc = out.groupBy(_.getAs[String]("source"))
    // per-source invariants: shares consistent, rate = min(1, temp/raw)
    bySrc.foreach { case (_, rs) =>
      val r = rs.head
      val (raw, temp, rate) =
        (r.getAs[Double]("raw_share"), r.getAs[Double]("temp_share"), r.getAs[Double]("rate"))
      assert(rate == math.min(1.0, temp / raw))
      assert(rs.forall(x => x.getAs[Double]("rate") == rate))
      // α=1/2 compresses toward uniform: a source above the uniform
      // share shrinks (rate < 1) but less aggressively than mix_sample's
      // forced-uniform rate; one below it is capped at 1
      if (temp < raw) assert(rate < 1.0) else assert(rate == 1.0)
    }
    // temperature rates dominate the uniform-mixture rates source-wise
    val uni = CurationQueries.mixSample(spark, dir).collect()
      .groupBy(_.getAs[String]("source")).map { case (s, rs) =>
        s -> rs.head.getAs[Double]("rate")
      }
    bySrc.foreach { case (s, rs) =>
      assert(rs.head.getAs[Double]("rate") >= uni(s) - 1e-12,
        s"temperature sampling must be softer than uniform for $s")
    }
  }

  private def docTokens(): Map[Long, Seq[String]] =
    Tables.documents(spark, dir)
      .withColumn("ws", graft.functions.TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), col("ws")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("ws").toSeq)
      .toMap

  test("token_diversity: Simpson index reconciles with driver-side counts and bounds") {
    val out = TextQueries.tokenDiversity(spark, dir).collect()
    val docToks = docTokens()
    assert(out.length == docToks.count(_._2.nonEmpty))
    out.foreach { r =>
      val toks = docToks(r.getAs[Long]("doc_id"))
      val counts = toks.groupBy(identity).map(_._2.size.toLong)
      val n = toks.length.toLong
      val sumSq = counts.map(c => c * c).sum
      assert(r.getAs[Long]("n_tok") == n)
      assert(r.getAs[Long]("n_distinct") == counts.size.toLong)
      assert(r.getAs[Long]("sum_sq") == sumSq)
      val fp = ((n * n - sumSq) * 1000000L) / (n * n)
      assert(r.getAs[Long]("simpson_fp") == fp)
      assert(r.getAs[Double]("simpson") == fp.toDouble / 1000000.0)
      // 0 ≤ simpson < 1 always; single-token docs pin exactly 0
      assert(fp >= 0L && fp < 1000000L)
      if (counts.size == 1) assert(fp == 0L)
    }
  }

  test("vocab_coverage: top-100 membership and the exact coverage ratio") {
    val out = TextQueries.vocabCoverage(spark, dir).collect()
    val docToks = docTokens()
    val vocab = docToks.values.flatten.groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(100).map(_._1).toSet
    assert(out.length == docToks.count(_._2.nonEmpty))
    out.foreach { r =>
      val toks = docToks(r.getAs[Long]("doc_id"))
      val inV = toks.count(vocab.contains).toLong
      assert(r.getAs[Long]("n_tok") == toks.length.toLong)
      assert(r.getAs[Long]("n_in_vocab") == inV)
      assert(r.getAs[Long]("coverage_fp") == inV * 1000000L / toks.length)
    }
    // the fixture's shared vocabulary is under 100 words, so every token
    // is covered — the interesting case (partial coverage) is pinned by
    // the ratio reconciliation above on EVERY doc
    assert(out.exists(_.getAs[Long]("coverage_fp") == 1000000L))
  }

  test("ohlc_agg: open/close reconcile with driver-side extremes; invariants hold") {
    val out = AnalyticsQueries.ohlcAgg(spark, dir).collect()
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("tus"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("tus"),
        r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    val byBucket = ev.groupBy { case (t, us, _, _) => (t, us / 3600000000L) }
    assert(out.length == byBucket.size)
    out.foreach { r =>
      val key = (r.getAs[String]("event_type"), r.getAs[Long]("hour"))
      val rows = byBucket(key)
      val open = rows.minBy { case (_, us, id, v) => (us, id, v) }._4
      val close = rows.maxBy { case (_, us, id, v) => (us, id, v) }._4
      assert(r.getAs[Double]("open") == open)
      assert(r.getAs[Double]("close") == close)
      assert(r.getAs[Double]("high") == rows.map(_._4).max)
      assert(r.getAs[Double]("low") == rows.map(_._4).min)
      assert(r.getAs[Long]("cnt") == rows.length.toLong)
      // candlestick sanity: body inside the wick
      assert(r.getAs[Double]("high") >= math.max(open, close))
      assert(r.getAs[Double]("low") <= math.min(open, close))
    }
  }

  test("gap_fill: dense grid, real buckets exact, synthesized points between neighbours") {
    val out = AnalyticsQueries.gapFill(spark, dir).collect()
    val bySeries = out.groupBy(_.getAs[String]("event_type"))
    assert(bySeries.nonEmpty)
    bySeries.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("bucket"))
      val (b0, b1) = (sorted.head.getAs[Long]("bucket"), sorted.last.getAs[Long]("bucket"))
      // the grid is DENSE: one row per bucket in the series' span
      assert(sorted.length.toLong == b1 - b0 + 1)
      assert(sorted.map(_.getAs[Long]("bucket")).toSeq == (b0 to b1).toSeq)
      // edges are real data points by construction (span is min..max of data)
      assert(sorted.head.getAs[Boolean]("filled") && sorted.last.getAs[Boolean]("filled"))
      assert(sorted.exists(!_.getAs[Boolean]("filled")), "fixture must exercise gaps")
      // every synthesized value lies within its nearest-neighbour bracket
      val filled = sorted.filter(_.getAs[Boolean]("filled"))
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("value"))
      sorted.filter(!_.getAs[Boolean]("filled")).foreach { r =>
        val b = r.getAs[Long]("bucket")
        val (pb, pv) = filled.filter(_._1 < b).maxBy(_._1)
        val (nb, nv) = filled.filter(_._1 > b).minBy(_._1)
        val expect = pv + (nv - pv) * ((b - pb).toDouble / (nb - pb).toDouble)
        assert(r.getAs[Double]("value") == expect)
        assert(r.getAs[Double]("value") >= math.min(pv, nv) - 1e-12 &&
          r.getAs[Double]("value") <= math.max(pv, nv) + 1e-12)
      }
    }
  }

  test("anomaly_zscore: z reconciles with a driver-side rolling window; flags at |z|>3") {
    val out = AnalyticsQueries.anomalyZscore(spark, dir).collect()
    assert(out.nonEmpty)
    // driver-side rebuild of the exact pipeline: decimal bucket means,
    // floor(mv·10³) quantization, trailing-24 integer window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("tus"), col("value")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("tus") / 600000000L,
        BigDecimal(r.getAs[Double]("value")).setScale(2)))
    val means = ev.groupBy { case (t, b, _) => (t, b) }
      .map { case ((t, b), rows) =>
        (t, b, rows.map(_._3).sum.toDouble / rows.length.toDouble)
      }.toSeq
    val expect = means.groupBy(_._1).flatMap { case (t, rows) =>
      val sorted = rows.sortBy(_._2).map { case (_, b, mv) =>
        (b, mv, math.floor(mv * 1000.0).toLong)
      }
      sorted.zipWithIndex.flatMap { case ((b, mv, fp), i) =>
        val win = sorted.slice(math.max(0, i - 24), i).map(_._3)
        val n = win.length.toLong
        val s = win.sum
        val ss = win.map(x => x * x).sum
        if (n >= 12 && n * ss - s * s > 0) {
          val z = (fp * n - s).toDouble / math.sqrt((n * ss - s * s).toDouble)
          Some((t, b) -> (mv, n, z))
        } else None
      }
    }
    assert(out.length == expect.size)
    out.foreach { r =>
      val (mv, n, z) = expect((r.getAs[String]("event_type"), r.getAs[Long]("bucket")))
      assert(r.getAs[Double]("mv") == mv)
      assert(r.getAs[Long]("n_window") == n)
      assert(r.getAs[Double]("z") == z)
      assert(r.getAs[Boolean]("is_anomaly") == (math.abs(z) > 3.0))
    }
    // the detector must actually fire somewhere on the fixture, and not
    // everywhere (a threshold that flags everything detects nothing)
    val flagged = out.count(_.getAs[Boolean]("is_anomaly"))
    assert(flagged > 0 && flagged < out.length / 10)
  }

  test("rolling_median: median reconciles with a driver-side sorted window; robust to the mean") {
    val out = AnalyticsQueries.rollingMedian(spark, dir).collect()
    assert(out.nonEmpty)
    // driver-side rebuild: decimal bucket means, floor(mv·10³), trailing-24
    // (current inclusive) sorted pick of the two middles
    val means = driverBucketMeans()
    val expect = means.groupBy(_._1).flatMap { case (t, rows) =>
      val sorted = rows.sortBy(_._2).map { case (_, b, mv) =>
        (b, mv, math.floor(mv * 1000.0).toLong)
      }
      sorted.zipWithIndex.flatMap { case ((b, mv, _), i) =>
        val win = sorted.slice(math.max(0, i - 23), i + 1).map(_._3).sorted
        val n = win.length
        if (n >= 12) {
          val med2 = win((n + 1) / 2 - 1) + win((n + 2) / 2 - 1)
          Some((t, b) -> (mv, n.toLong, med2))
        } else None
      }
    }
    assert(out.length == expect.size)
    out.foreach { r =>
      val (mv, n, med2) = expect((r.getAs[String]("event_type"), r.getAs[Long]("bucket")))
      assert(r.getAs[Double]("mv") == mv)
      assert(r.getAs[Long]("n_window") == n)
      assert(r.getAs[Long]("med_x2") == med2)
      assert(r.getAs[Double]("median") == med2.toDouble / 2000.0)
    }
  }

  test("series_cusum: change point matches a driver-side argmax; detects an injected shift") {
    val out = AnalyticsQueries.seriesCusum(spark, dir).collect()
    val means = driverBucketMeans()
    // one row per series
    assert(out.length == means.map(_._1).distinct.length)
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val sorted = means.filter(_._1 == t).sortBy(_._2)
        .map { case (_, b, mv) => (b, math.floor(mv * 1000.0).toLong) }
      val ntot = sorted.length.toLong
      val stot = sorted.map(_._2).sum
      var ps = 0L
      val stats = sorted.zipWithIndex.map { case ((b, fp), i) =>
        ps += fp
        (b, ntot * ps - (i + 1).toLong * stot)
      }
      val (eb, es) = stats.maxBy { case (b, s) => (math.abs(s), -b) }
      assert(r.getAs[Long]("change_bucket") == eb)
      assert(r.getAs[Long]("n_buckets") == ntot)
      assert(r.getAs[Long]("cusum_xn") == es)
      assert(r.getAs[Double]("cusum_norm") ==
        math.abs(es).toDouble / (ntot.toDouble * ntot.toDouble * 1000.0))
    }
    // synthetic shift: a series that steps from level 10 to 20 at its
    // midpoint must localize the change at the step boundary
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("cusum").toString
    val rows = (0 until 200).map { i =>
      val v = if (i < 100) 10.0 else 20.0
      org.apache.spark.sql.Row(i.toLong, java.time.Instant.ofEpochSecond(i * 600L), 1L, "s", v, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val shifted = AnalyticsQueries.seriesCusum(spark, tmp).collect()
    assert(shifted.length == 1)
    // CUSUM of a clean step maximizes |S| at the last pre-shift bucket;
    // for a mid-series step of height Δ, max|S|/n = Δ/4 = 2.5
    assert(shifted.head.getAs[Long]("change_bucket") == 99L)
    assert(math.abs(shifted.head.getAs[Double]("cusum_norm") - 2.5) < 0.1)
  }

  test("series_ewma: matches a driver-side truncated-kernel recompute; constant series is a fixed point") {
    val out = AnalyticsQueries.seriesEwma(spark, dir).collect()
    val weights = (0 until 8).map(j =>
      BigInt(3).pow(j).toLong * BigInt(4).pow(7 - j).toLong)
    val expect = driverBucketMeans().groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      val fps = sorted.map { case (_, _, mv) => math.floor(mv * 1000.0).toLong }
      val ewmas = sorted.indices.map { i =>
        val lags = (0 until 8).filter(j => i - j >= 0)
          .map(j => (weights(j), fps(i - j)))
        lags.map { case (w, f) => w * f }.sum.toDouble /
          lags.map(_._1).sum.toDouble / 1000.0
      }
      sorted.indices.map { i =>
        val (t, b, mv) = sorted(i)
        ((t, b), (mv, ewmas(i),
          if (i == 0) None else Some(mv - ewmas(i - 1))))
      }
    }
    assert(out.length == expect.size)
    out.foreach { r =>
      val (mv, ew, fe) =
        expect((r.getAs[String]("event_type"), r.getAs[Long]("bucket")))
      assert(r.getAs[Double]("mv") == mv)
      assert(r.getAs[Double]("ewma") == ew)
      fe match {
        case None => assert(r.isNullAt(r.fieldIndex("forecast_err")))
        case Some(v) => assert(r.getAs[Double]("forecast_err") == v)
      }
    }
    // constant series: any truncated-kernel renormalization must return
    // the level itself at EVERY history depth, with zero forecast error
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("ewma").toString
    val rows = (0 until 50).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        java.time.Instant.ofEpochSecond(i * 600L), 1L, "s", 10.0, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val flat = AnalyticsQueries.seriesEwma(spark, tmp).collect()
    assert(flat.length == 50)
    flat.foreach { r =>
      assert(r.getAs[Double]("ewma") == 10.0)
      if (!r.isNullAt(r.fieldIndex("forecast_err")))
        assert(r.getAs[Double]("forecast_err") == 0.0)
    }
  }

  test("winsorize: clamp band matches driver-side p05/p95 interpolation; ~10% clipped per series") {
    val out = AnalyticsQueries.winsorize(spark, dir).collect()
    val vals = Tables.events(spark, dir)
      .select(col("event_type"), col("value")).collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def q(xs: Array[Double], p: Double): Double = {
      // rank = p·(n−1), interpolated in Spark Percentile's EXACT IEEE
      // order — lower·(1−d) + higher·d — not the algebraically-equal
      // a + d·(b−a), which can differ by 1 ulp and flake the exact
      // clamp/flag asserts below
      val rank = p * (xs.length - 1)
      val lo = rank.toInt
      val d = rank - lo
      if (lo + 1 >= xs.length) xs(lo)
      else xs(lo) * (1.0 - d) + xs(lo + 1) * d
    }
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("event_type")).foreach { case (t, rows) =>
      val xs = vals(t)
      val (lo, hi) = (q(xs, 0.05), q(xs, 0.95))
      var nLo = 0; var nHi = 0
      rows.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("value"))) {
          val v = r.getAs[Double]("value")
          val w = r.getAs[Double]("winsorized")
          assert(w == math.min(math.max(v, lo), hi), s"$t: $v -> $w not clamped to [$lo,$hi]")
          assert(r.getAs[Boolean]("clipped_low") == (v < lo))
          assert(r.getAs[Boolean]("clipped_high") == (v > hi))
          if (v < lo) nLo += 1
          if (v > hi) nHi += 1
        } else {
          assert(r.isNullAt(r.fieldIndex("winsorized")))
        }
      }
      // ≈5% clipped each side (ties/interpolation move the exact count)
      assert(nLo > 0 && nLo <= math.ceil(xs.length * 0.06).toInt, s"$t: $nLo clipped low of ${xs.length}")
      assert(nHi > 0 && nHi <= math.ceil(xs.length * 0.06).toInt, s"$t: $nHi clipped high of ${xs.length}")
    }
  }

  test("cluster_terms: top-3 per cluster, df-damped ordering, counts bounded by cluster size") {
    val out = SimilarityQueries.clusterTerms(spark, dir).collect()
    assert(out.nonEmpty)
    val sizes = SimilarityQueries.kmeansTrainAssign(spark, dir, rounds = 2)
      .groupBy(col("bucket")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_.getAs[Long]("bucket")).foreach { case (b, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rk"))
      assert(byRank.map(_.getAs[Long]("rk")).toSeq == (1L to byRank.length).toSeq)
      assert(byRank.length <= 3)
      // scores non-increasing down the ranks; term tie-break ascending
      byRank.sliding(2).foreach {
        case Array(hi, lo) =>
          val (sh, sl) = (hi.getAs[Long]("score_fp"), lo.getAs[Long]("score_fp"))
          assert(sh > sl || (sh == sl &&
            hi.getAs[String]("tok") < lo.getAs[String]("tok")))
        case _ =>
      }
      rows.foreach { r =>
        assert(r.getAs[Long]("ctf") <= sizes(b), "containment cannot exceed cluster size")
        assert(r.getAs[Long]("df") >= r.getAs[Long]("ctf"), "corpus df bounds cluster containment")
        assert(r.getAs[Long]("score_fp") ==
          r.getAs[Long]("ctf") * 1000000L / (r.getAs[Long]("df") + 1L))
      }
    }
  }

  test("robust_zscore: matches driver-side median/MAD picks; flags a spike the trailing sigma would mask") {
    val out = AnalyticsQueries.robustZscore(spark, dir).collect()
    val means = driverBucketMeans()
    val bySeries = means.groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val fps = bySeries(t).map { case (_, _, mv) => math.floor(mv * 1000.0).toLong }.sorted
      val n = fps.length
      val medX2 = fps((n + 1) / 2 - 1) + fps((n + 2) / 2 - 1)
      val devs = bySeries(t).map { case (_, _, mv) =>
        math.abs(2 * math.floor(mv * 1000.0).toLong - medX2) }.sorted
      val madX4 = devs((n + 1) / 2 - 1) + devs((n + 2) / 2 - 1)
      assert(r.getAs[Long]("med_x2") == medX2)
      assert(r.getAs[Long]("mad_x4") == madX4)
      val fp = math.floor(r.getAs[Double]("mv") * 1000.0).toLong
      assert(r.getAs[Double]("robust_z") ==
        0.6745 * (2 * fp - medX2).toDouble * 2.0 / madX4.toDouble)
    }
    // masking test: 99 mildly-varying buckets + one 10× spike — the
    // robust score must flag the spike (a trailing mean/σ window that
    // CONTAINS the spike inflates σ and can mask it)
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("robustz").toString
    val rows = (0 until 100).map { i =>
      val v = if (i == 50) 100.0 else 10.0 + (i % 5) * 0.1
      org.apache.spark.sql.Row(i.toLong,
        java.time.Instant.ofEpochSecond(i * 600L), 1L, "s", v, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val scored = AnalyticsQueries.robustZscore(spark, tmp).collect()
    assert(scored.length == 100)
    val spike = scored.find(_.getAs[Long]("bucket") == 50L).get
    assert(spike.getAs[Boolean]("is_anomaly"), "10x spike must be flagged")
    assert(scored.count(_.getAs[Boolean]("is_anomaly")) == 1,
      "only the spike should clear |z| > 3.5")
    // all-NULL buckets (mv = NULL) must be EXCLUDED, not crash the ANSI
    // array pick or shift the medians: majority-NULL series with the
    // same scoreable rows must reproduce the same med/mad picks
    val rows2 = rows ++ (100 until 400).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        java.time.Instant.ofEpochSecond(i * 600L), 1L, "s", null, "{}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows2.toSeq), schema)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val scored2 = AnalyticsQueries.robustZscore(spark, tmp).collect()
    assert(scored2.length == 100, "NULL buckets must drop out, not be scored")
    assert(scored2.map(r => (r.getAs[Long]("bucket"), r.getAs[Double]("robust_z"))).toSet ==
      scored.map(r => (r.getAs[Long]("bucket"), r.getAs[Double]("robust_z"))).toSet,
      "NULL buckets must not shift the median/MAD picks")
  }

  test("series_decompose: reconstruction identity holds to quantization precision") {
    val out = AnalyticsQueries.seriesDecompose(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // trend + seasonal + residual = floor(mv·10³)/10³ — the quantized
      // mean, so reconstruction matches mv to within one milli-unit
      val recon = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      val mv = r.getAs[Double]("mv")
      assert(math.abs(recon - mv) <= 0.001 + 1e-9,
        s"reconstruction $recon vs mv $mv")
    }
    // the decomposition must drop only window-warmup edges: interior
    // coverage stays above 90% of the full mean frame
    val total = AnalyticsQueries.bucketMeans(spark, dir).count()
    assert(out.length >= (total * 9) / 10)
    // seasonal is a per-(series, hod) MEAN of detrended values, so its
    // magnitude can never exceed the largest detrended magnitude — a
    // unit-scale error (e.g. micro-unit profile divided as milli) blows
    // this bound by 1000×, which the additive identity alone can't see
    val maxDetr = out.iterator.map(r =>
      math.abs(r.getAs[Double]("mv") - r.getAs[Double]("trend"))).max
    val maxSeasonal = out.iterator.map(r =>
      math.abs(r.getAs[Double]("seasonal"))).max
    assert(maxSeasonal <= maxDetr + 2e-3,
      s"seasonal amplitude $maxSeasonal exceeds max detrended $maxDetr")
  }

  test("series_autocorr: r within [-1,1], n = buckets - 1 per series") {
    val out = AnalyticsQueries.seriesAutocorr(spark, dir).collect()
    assert(out.nonEmpty)
    val counts = driverBucketMeans().groupBy(_._1).map { case (t, r) => t -> r.size.toLong }
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n") == counts(t) - 1)
      val ac = r.getAs[Double]("autocorr_lag1")
      assert(ac >= -1.0 && ac <= 1.0)
    }
  }

  test("score_agreement: rho reconciles with a driver-side rank rebuild, bounded") {
    val r = TextQueries.scoreAgreement(spark, dir).collect().head
    val rho = r.getAs[Double]("spearman")
    assert(rho >= -1.0 && rho <= 1.0)
    // rebuild from the engine's own (oracle-validated) component scores
    val q = TextQueries.qualityScore(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("quality")).toMap
    val l = TextQueries.lmScore(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("avg_p")).toMap
    val ids = q.keySet.intersect(l.keySet).toSeq
    val ra = ids.sortBy(id => (q(id), id)).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val rb = ids.sortBy(id => (l(id), id)).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val n = ids.length.toLong
    val d2 = ids.map(id => { val d = ra(id) - rb(id); d * d }).sum
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Long]("sum_d2") == d2)
    assert(rho == 1.0 - 6.0 * d2.toDouble / (n.toDouble * (n.toDouble * n.toDouble - 1.0)))
  }

  test("cms_topk: sketch never underestimates; exact counts reconcile with a driver count") {
    val out = TextQueries.cmsTopk(spark, dir).collect()
    assert(out.nonEmpty)
    val exact = docTokens().values.flatten.groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    out.foreach { r =>
      val tok = r.getAs[String]("tok")
      assert(r.getAs[Long]("exact_c") == exact(tok))
      // the CMS invariant: estimates only ever overcount
      assert(r.getAs[Long]("overcount") >= 0L)
      assert(r.getAs[Long]("est_c") == r.getAs[Long]("exact_c") + r.getAs[Long]("overcount"))
    }
    // the probe set is the exact top-k (all of a small vocabulary, or 50)
    assert(out.length == math.min(exact.size, 50))
  }

  test("unpivot_stats: 4 narrow rows per series, values equal the wide aggregate") {
    val out = AnalyticsQueries.unpivotStats(spark, dir).collect()
    val series = out.map(_.getAs[String]("event_type")).distinct
    assert(out.length == series.length * 4)
    val byKey = out.map(r => (r.getAs[String]("event_type"), r.getAs[String]("metric")) ->
      r.getAs[Double]("value")).toMap
    series.foreach { t =>
      assert(byKey((t, "n_events")) > 0)
      assert(byKey((t, "min_value")) <= byKey((t, "max_value")))
      assert(byKey((t, "sum_value")) >= byKey((t, "min_value")) * byKey((t, "n_events")))
    }
  }

  test("semantic_threshold_sweep: monotone non-increasing; t=0.3 equals embedding_neardup") {
    val sweep = SimilarityQueries.semanticThresholdSweep(spark, dir).collect()
      .map(r => r.getAs[Double]("threshold") -> r.getAs[Long]("n_pairs")).sortBy(_._1)
    assert(sweep.length == 13)
    assert(sweep.head._1 == 0.3 && sweep.last._1 == 0.9)
    sweep.sliding(2).foreach { case Array((_, a), (_, b)) => assert(a >= b) }
    // the sweep's first point IS the shipped near-dup threshold
    assert(sweep.head._2 == SimilarityQueries.embeddingNearDup(spark, dir).count())
  }

  test("key_skew: HHI within [1/n_keys, 1], dominated below by top share squared") {
    val out = AnalyticsQueries.keySkew(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_events"), r.getAs[Long]("n_keys"))
      val (ts, hhi) = (r.getAs[Double]("top_share"), r.getAs[Double]("hhi"))
      assert(k >= 1 && n >= k)
      assert(ts > 0.0 && ts <= 1.0)
      // uniform keys floor the index at 1/k; one dominant key drives it
      // toward 1; the heaviest key alone contributes top_share²
      assert(hhi >= 1.0 / k.toDouble - 1e-12 && hhi <= 1.0)
      assert(hhi >= ts * ts - 1e-12)
    }
  }

  test("source_centroids: cosine recomputes from brute quantized sums; docs tile") {
    val out = SimilarityQueries.sourceCentroids(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("cos_to_corpus"))).toMap
    val rows = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("source"), col("embedding"))
      .collect().map(r => (r.getString(0), r.getSeq[Float](1).toArray))
    assert(out.values.map(_._1).sum == rows.length.toLong)
    val dims = rows.head._2.length
    def sums(vs: Seq[Array[Float]]): Array[Long] =
      (0 until dims).map(p =>
        vs.map(v => math.floor(v(p).toDouble * 1000.0).toLong).sum).toArray
    val global = sums(rows.map(_._2).toSeq)
    rows.groupBy(_._1).foreach { case (src, grp) =>
      val s = sums(grp.map(_._2).toSeq)
      val dot = s.zip(global).map { case (a, b) => a * b }.sum.toDouble
      val cos = dot / (math.sqrt(s.map(x => x * x).sum.toDouble) *
        math.sqrt(global.map(x => x * x).sum.toDouble))
      assert(math.abs(out(src)._2 - cos) < 1e-12, s"$src: ${out(src)._2} vs $cos")
      assert(out(src)._2 >= -1.0 && out(src)._2 <= 1.0)
      assert(out(src)._1 == grp.length.toLong)
    }
  }

  test("prefix_join: exact thresholded pairs cover every LSH candidate at J >= 0.7") {
    val exact = SimilarityQueries.prefixJoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the LSH candidates that truly sit at J >= 0.7 (re-ranked exactly)
    // must ALL be found — the no-false-negatives guarantee LSH lacks
    val lshAtThreshold = SimilarityQueries.ngramJaccard(spark, dir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.7)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lshAtThreshold.subsetOf(exact))
    assert(exact.nonEmpty)
    // jaccard really is >= 0.7 on every output row
    SimilarityQueries.prefixJoin(spark, dir).collect()
      .foreach(r => assert(r.getAs[Double]("jaccard") >= 0.7))
  }

  test("prefix_join equals the brute-force all-pairs join (positional filter is lossless)") {
    import spark.implicits._
    // EVERY pair at J >= 0.7, by definition — the set the prefix AND
    // positional filters must not lose a single member of
    val arrs = Tables.documents(spark, dir)
      .withColumn("ws", graft.functions.TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"),
        array_distinct(SimilarityQueries.shingleColPublic(col("ws"))).as("shs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (a, sa) <- arrs; (b, sb) <- arrs if a < b
      inter = (sa & sb).size
      uni = sa.size + sb.size - inter
      if uni > 0 && inter * 10 >= uni * 7
    } yield (a, b)).toSet
    val got = SimilarityQueries.prefixJoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("filtered_ann: every hit shares the query's label and fills k where possible") {
    val out = SimilarityQueries.filteredAnn(spark, dir).collect()
    assert(out.nonEmpty)
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      // the predicate held: hit label == query label, and never self
      assert(labels(r.getAs[Long]("vid")) == r.getAs[Int]("label"))
      assert(labels(r.getAs[Long]("qid")) == r.getAs[Int]("label"))
      assert(r.getAs[Long]("vid") != r.getAs[Long]("qid"))
    }
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (q, rows) =>
      val qualifying = labels.count { case (v, l) => v != q && l == labels(q) }
      // filter-first fills k whenever k qualifying rows exist — the
      // guarantee post-filtering a global top-k cannot give
      assert(rows.length == math.min(5, qualifying))
      // ranks are 1..n with descending cosine
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to rows.length).toSeq)
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getAs[Double]("cos") >= b.getAs[Double]("cos")) }
    }
  }

  test("mrl_recall: recall matches a driver-side truncated-vs-full top-3 recompute") {
    val out = SimilarityQueries.mrlRecall(spark, dir).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("n_hit"), r.getAs[Long]("k"), r.getAs[Double]("recall"))).toMap
    assert(out.size == 10)
    val vecs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def top3(qid: Long, dims: Int): Set[Long] = {
      val q = vecs(qid).take(dims).map(_.toDouble)
      val qn = math.sqrt(q.map(x => x * x).sum)
      vecs.toSeq.filter(_._1 != qid).map { case (vid, v) =>
        val t = v.take(dims).map(_.toDouble)
        val cos = q.zip(t).map { case (a, b) => a * b }.sum /
          (qn * math.sqrt(t.map(x => x * x).sum))
        (vid, cos)
      }.sortBy { case (vid, cos) => (-cos, vid) }.take(3).map(_._1).toSet
    }
    (0L until 10L).foreach { qid =>
      val exact = top3(qid, 64)
      val trunc = top3(qid, SimilarityQueries.MrlDims)
      val (nHit, k, recall) = out(qid)
      assert(k == 3L)
      assert(nHit == (exact & trunc).size.toLong, s"qid=$qid")
      assert(math.abs(recall - nHit.toDouble / 3.0) < 1e-15)
    }
    // truncation must not be a no-op (these synthetic embeddings are
    // near-isotropic, so dropping 48 of 64 dims genuinely scrambles
    // neighborhoods) yet must beat chance recall@3 ≈ 3/499
    val mean = out.values.map(_._3).sum / out.size
    assert(mean > 3.0 / 499.0 && mean < 1.0, s"mean=$mean")
  }

  test("upsert_merge: randomized changelogs (timestamp ties, hot keys) merge ≡ replay") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      // few keys + coarse timestamps force collisions and exact-tie
      // elections, the paths a clean fixture rarely exercises
      val n = 200 + rnd.nextInt(200)
      val rows = (0 until n).map { i =>
        (i.toLong, // unique event_id
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(10) * 1000L),
          rnd.nextInt(5).toLong, // 5 users
          Seq("view", "click")(rnd.nextInt(2)),
          rnd.nextInt(100) / 10.0)
      }
      val tmpDir = java.nio.file.Files.createTempDirectory(s"upsfuzz$trial").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$tmpDir/events.parquet")
      val out = AnalyticsQueries.upsertMerge(spark, tmpDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
          (r.getAs[Long]("last_us"), r.getAs[Long]("last_event_id"),
            r.getAs[Double]("last_value"))).toMap
      val replay = rows.groupBy(r => (r._3, r._4)).map { case (k, rs) =>
        val w = rs.maxBy(r => (r._2.getTime, r._1)) // (ts, event_id) order
        k -> (w._2.getTime * 1000L, w._1, w._5)
      }
      assert(out == replay, s"trial $trial")
    }
  }

  test("schema_integrity: 18 constraints, clean fixture, and a planted violation trips it") {
    val out = AnalyticsQueries.schemaIntegrity(spark, dir).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad"), r.getAs[Double]("bad_rate"))).toMap
    assert(out.size == 18)
    // the audit EARNS its keep on the raw fixture: the synthetic
    // generator assigns l_linenumber randomly, so (l_orderkey,
    // l_linenumber) is NOT unique — a genuine data defect the audit
    // must surface; every other constraint is clean
    assert(out("pk_lineitem")._2 > 0L)
    out.filterKeys(_ != "pk_lineitem").foreach { case (chk, (n, bad, rate)) =>
      assert(n > 0, chk)
      assert(bad == 0L && rate == 0.0, s"$chk: $bad bad of $n")
    }
    // row counts line up with the raw tables
    assert(out("pk_lineitem")._1 == Tables.lineitem(spark, dir).count())
    assert(out("fk_orders_customer")._1 == Tables.orders(spark, dir).count())
    // sensitivity: a corrupted copy (orphaned FK + duplicated PK) must
    // be flagged — write a tampered snapshot and audit it
    val tmpDir = java.nio.file.Files.createTempDirectory("integ").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").write.parquet(s"$tmpDir/$t.parquet")
    }
    val li = Tables.lineitem(spark, dir)
    li.withColumn("l_orderkey",
        when(col("l_orderkey") % 100 === 0, lit(-1L)).otherwise(col("l_orderkey")))
      .unionAll(li.limit(5)) // 5 duplicated PKs
      .write.parquet(s"$tmpDir/lineitem.parquet")
    val bad = AnalyticsQueries.schemaIntegrity(spark, tmpDir).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n_bad")).toMap
    assert(bad("fk_lineitem_orders") > 0)
    assert(bad("pk_lineitem") > out("pk_lineitem")._2) // 5 planted dups on top
    assert(bad("pk_orders") == 0L) // untouched tables stay clean
  }

  test("markov_eval: model and accuracy match a driver train/test replay") {
    val out = AnalyticsQueries.markovEval(spark, dir).collect()
      .map(r => r.getAs[String]("prev_type") -> r).toMap
    assert(out.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._3, e._4))
      s.zip(s.tail).map { case (a, b) => (a._2, b._2, b._3) }
    }.toSeq
    val mid = (pairs.map(_._3).min + pairs.map(_._3).max) / 2
    val train = pairs.filter(_._3 < mid)
    val test = pairs.filter(_._3 >= mid)
    val counts = train.groupBy(p => (p._1, p._2)).map { case (k, v) => k -> v.size.toLong }
    val model = counts.groupBy(_._1._1).map { case (prev, cs) =>
      val best = cs.toSeq.map { case ((_, nxt), n) => (n, nxt) }.max // (n, lex) max
      prev -> (best._2, best._1, cs.values.sum)
    }
    assert(out.keySet == model.keySet.filter(p => test.exists(_._1 == p)))
    out.foreach { case (prev, r) =>
      val (pred, nTop, nTrain) = model(prev)
      assert(r.getAs[String]("predicted_next") == pred, prev)
      assert(r.getAs[Long]("n_train") == nTrain)
      val t = test.filter(_._1 == prev)
      assert(r.getAs[Long]("n_test") == t.size.toLong)
      val nc = t.count(_._2 == pred).toLong
      assert(r.getAs[Long]("n_correct") == nc)
      assert(r.getAs[Double]("accuracy") == nc.toDouble / t.size)
      assert(r.getAs[Double]("train_majority") == nTop.toDouble / nTrain)
      // a majority-class predictor's held-out accuracy should sit near
      // the training majority share on this stationary fixture
      assert(math.abs(r.getAs[Double]("accuracy") - r.getAs[Double]("train_majority")) < 0.2)
    }
  }

  test("rfm_segments: bins match a driver quartile replay; census covers every user") {
    val out = AnalyticsQueries.rfmSegments(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 64)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val users = ev.groupBy(_._1).map { case (u, es) =>
      (u, es.map(_._2).max, es.length.toLong, es.map(_._3).sum)
    }.toSeq
    val tMax = users.map(_._2).max
    def quartiles(xs: Seq[Double]): Seq[Double] = {
      val s = xs.sorted
      Seq(0.25, 0.5, 0.75).map { p =>
        val rank = p * (s.length - 1)
        val lo = s(rank.floor.toInt); val hi = s(rank.ceil.toInt)
        lo + (rank - rank.floor) * (hi - lo)
      }
    }
    val rec = users.map(u => (tMax - u._2).toDouble)
    val frq = users.map(_._3.toDouble)
    val mon = users.map(_._4.toDouble)
    val (rc, fc, mc) = (quartiles(rec), quartiles(frq), quartiles(mon))
    def bin(cuts: Seq[Double], v: Double): Long = 1L + cuts.count(v > _)
    val brute = users.map { case (_, lt, f, m) =>
      (bin(rc, (tMax - lt).toDouble), bin(fc, f.toDouble), bin(mc, m.toDouble))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = out.map(r => (r.getAs[Long]("r_bin"), r.getAs[Long]("f_bin"),
      r.getAs[Long]("m_bin")) -> r.getAs[Long]("n_users")).toMap
    assert(got == brute)
    assert(got.values.sum == users.length.toLong) // every user in one segment
    out.foreach { r =>
      Seq("r_bin", "f_bin", "m_bin").foreach(c =>
        assert(r.getAs[Long](c) >= 1 && r.getAs[Long](c) <= 4))
      assert(r.getAs[Double]("avg_frequency") >= 1.0)
    }
    // monetary quartiles genuinely separate: bin-4 segments carry more
    // total value per user than bin-1 segments on average
    def valuePerUser(mbin: Long) = {
      val rs = out.filter(_.getAs[Long]("m_bin") == mbin)
      rs.map(_.getAs[Double]("total_value")).sum / rs.map(_.getAs[Long]("n_users")).sum
    }
    assert(valuePerUser(4) > valuePerUser(1))
  }

  test("cohort_value: grid matches a driver replay; LTV curves are monotone") {
    val out = AnalyticsQueries.cohortValue(spark, dir).collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("age_week")) -> r).toMap
    assert(out.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val firstWeek = ev.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    val cells = ev.groupBy(e => (firstWeek(e._1), e._2 - firstWeek(e._1)))
    assert(out.keySet == cells.keySet)
    cells.foreach { case (key @ (cw, _), es) =>
      val r = out(key)
      assert(r.getAs[Long]("n_active") == es.map(_._1).distinct.length.toLong)
      assert(r.getAs[Long]("cohort_size") == firstWeek.values.count(_ == cw).toLong)
      assert(r.getAs[Double]("week_value") == es.map(_._3).sum.toDouble)
    }
    // cumulative value is the running sum of week values within a cohort,
    // and LTV per user is monotone non-decreasing in age
    out.groupBy(_._1._1).foreach { case (_, rows) =>
      val byAge = rows.toSeq.sortBy(_._1._2).map(_._2)
      var run = 0.0
      byAge.foreach { r =>
        run += r.getAs[Double]("week_value")
        assert(math.abs(r.getAs[Double]("cum_value") - run) < 1e-6)
      }
      val ltvs = byAge.map(_.getAs[Double]("ltv_per_user"))
      assert(ltvs.zip(ltvs.tail).forall { case (a, b) => b >= a - 1e-9 })
    }
  }

  test("attribution_linear: credits match a driver replay and conserve per purchase") {
    val out = AnalyticsQueries.attributionLinear(spark, dir).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_touches"), r.getAs[Long]("n_purchases"),
          r.getAs[Double]("credit"))).toMap
    assert(out.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val purchases = ev.filter(_._2 == "purchase")
    val touches = ev.filter(e => Set("view", "click", "signup")(e._2))
    val pairs = for {
      p <- purchases
      t <- touches
      if t._1 == p._1 && t._3 < p._3 && t._3 >= p._3 - 3600000000L
    } yield (t._2, p._4) // (touch_type, pid)
    val kByPid = pairs.groupBy(_._2).map { case (pid, ps) => pid -> ps.length.toLong }
    val brute = pairs.groupBy(_._1).map { case (tt, ps) =>
      tt -> (ps.length.toLong, ps.map(_._2).distinct.length.toLong,
        ps.map(p => 1000000L / kByPid(p._2)).sum)
    }
    assert(out.keySet == brute.keySet)
    brute.foreach { case (tt, (n, np, creditFp)) =>
      val (gn, gnp, gc) = out(tt)
      assert(gn == n && gnp == np, tt)
      assert(gc == creditFp.toDouble / 1000000.0)
    }
    // conservation: total credit = purchases with >= 1 touch, up to the
    // documented micro-credit floor loss (< 1e-6 per touch)
    val totalCredit = out.values.map(_._3).sum
    val attributed = kByPid.size
    assert(totalCredit <= attributed.toDouble + 1e-9)
    assert(totalCredit > attributed - pairs.length * 1e-6 - 1e-9)
  }

  test("bootstrap_ci: replica means match a driver Poisson replay; band behaves") {
    val out = AnalyticsQueries.bootstrapCi(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val cdf = AnalyticsQueries.PoissonCdf.map(_.toDouble)
    def mult(id: Long, b: Int): Long = {
      val u = (h32(s"$id:$b") % 1000000L).toDouble / 1000000.0
      cdf.indexWhere(u < _) match { case -1 => 5L; case k => k.toLong }
    }
    // independently recompute ALL replica means for every type; the
    // sorted band indices must reproduce the query's interval exactly
    out.foreach { case (t, r) =>
      val rows = ev.filter(_._1 == t)
      assert(r.getAs[Long]("n_exact") == rows.length.toLong)
      val exact = rows.map(x => BigDecimal(x._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / rows.length
      assert(math.abs(r.getAs[Double]("mean_exact") - exact) < 1e-9)
      val means = (0 until AnalyticsQueries.BootB).map { b =>
        val (n, s) = rows.foldLeft((0L, 0L)) { case ((n0, s0), (_, id, v)) =>
          val m = mult(id, b)
          (n0 + m, s0 + m * math.floor(v * 100.0).toLong)
        }
        s.toDouble / n.toDouble / 100.0
      }.sorted
      assert(r.getAs[Double]("ci_lo") == means(1), t)  // element_at(rm, 2)
      assert(r.getAs[Double]("ci_hi") == means(AnalyticsQueries.BootB - 2))
      assert(r.getAs[Double]("ci_lo") < r.getAs[Double]("ci_hi"))
      assert(r.getAs[Boolean]("within_ci") ==
        (r.getAs[Double]("mean_exact") >= r.getAs[Double]("ci_lo") &&
          r.getAs[Double]("mean_exact") <= r.getAs[Double]("ci_hi")))
    }
    // resampling is seedless-deterministic: most bands cover the truth
    assert(out.values.count(_.getAs[Boolean]("within_ci")) * 2 > out.size)
  }

  test("sample_mean_ci: sample stats match a driver replay; CI covers the truth") {
    val out = AnalyticsQueries.sampleMeanCi(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        substring(md5(col("event_id").cast("string")), 1, 1))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    val byType = ev.groupBy(_._1)
    out.foreach { case (t, r) =>
      val all = byType(t)
      val samp = all.filter(_._3 == "0")
      assert(r.getAs[Long]("n_sample") == samp.length.toLong)
      assert(r.getAs[Long]("n_exact") == all.length.toLong)
      // the 1/16 nibble sample is a real subsample, not degenerate
      assert(samp.length > 0 && samp.length < all.length)
      val meanS = samp.map(v => BigDecimal(v._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / samp.length
      assert(math.abs(r.getAs[Double]("mean_sample") - meanS) < 1e-9)
      assert(r.getAs[Double]("var_sample") > 0)
      assert(r.getAs[Double]("ci_half") > 0)
      // CI consistency: flag equals the comparison of the output columns
      assert(r.getAs[Boolean]("within_ci") ==
        (math.abs(r.getAs[Double]("mean_sample") - r.getAs[Double]("mean_exact"))
          <= r.getAs[Double]("ci_half")))
    }
    // the calibration read: a 95% CI occasionally misses (that is what
    // 95% means, and sf0.001 samples are ~70 rows) — but most types
    // must cover, or the CI math is systematically miscalibrated
    val covered = out.values.count(_.getAs[Boolean]("within_ci"))
    assert(covered * 2 > out.size, s"covered $covered of ${out.size}")
  }

  test("cluster_split: by_cluster never leaks; by_doc leak count matches brute force") {
    val out = graft.queries.CurationQueries.clusterSplit(spark, dir).collect()
    val byKey = out.map(r => (r.getAs[String]("method"), r.getAs[String]("split")) -> r).toMap
    assert(byKey.size == 4) // 2 methods x 2 splits
    val cl = graft.queries.CurationQueries.dedupClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
    val nDocs = cl.length.toLong
    // every doc lands in exactly one split under each method
    Seq("by_doc", "by_cluster").foreach { m =>
      assert(byKey((m, "train")).getAs[Long]("n_docs") +
        byKey((m, "eval")).getAs[Long]("n_docs") == nDocs, m)
    }
    // the guarantee: cluster-level assignment cannot straddle
    assert(byKey(("by_cluster", "train")).getAs[Long]("n_leaky_clusters") == 0L)
    // the measured leak of the naive method: brute-force from the
    // cluster map using the same md5 split the engine applies
    val docSplit = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(pmod(graft.functions.TextFunctions.md5Hash32(col("doc_id").cast("string")),
          lit(100L)) < 80, "train").otherwise("eval").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val leaky = cl.groupBy(_._2).count { case (_, ds) =>
      ds.map(d => docSplit(d._1)).distinct.size > 1
    }.toLong
    assert(byKey(("by_doc", "train")).getAs[Long]("n_leaky_clusters") == leaky)
    // multi-doc clusters exist in the fixture, so the naive method leaks
    assert(leaky > 0)
  }

  test("heaps_law: curve matches a driver prefix replay and is monotone concave-ish") {
    val out = TextQueries.heapsLaw(spark, dir).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(out.length == 10)
    def tok(s: String): Seq[String] =
      "[a-z0-9]+".r.findAllIn(
        s.trim.replaceAll("\\s+", " ").toLowerCase).toSeq
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> tok(r.getString(1)))
    val maxId = docs.map(_._1).max
    out.foreach { r =>
      val cutoff = maxId * r.getAs[Long]("decile") / 10
      assert(r.getAs[Long]("cutoff_id") == cutoff)
      val prefix = docs.filter(_._1 <= cutoff)
      assert(r.getAs[Long]("docs_cum") == prefix.count(_._2.nonEmpty).toLong)
      assert(r.getAs[Long]("tokens_cum") == prefix.map(_._2.length.toLong).sum)
      assert(r.getAs[Long]("vocab_cum") == prefix.flatMap(_._2).distinct.length.toLong)
    }
    // growth curve properties: cumulative counts monotone; vocabulary
    // grows slower than tokens (type-token ratio non-increasing-ish)
    val v = out.map(_.getAs[Long]("vocab_cum"))
    val t = out.map(_.getAs[Long]("tokens_cum"))
    assert(v.zip(v.tail).forall { case (a, b) => b >= a })
    assert(t.zip(t.tail).forall { case (a, b) => b > a })
    assert(out.head.getAs[Double]("type_token_ratio") >=
      out.last.getAs[Double]("type_token_ratio"))
  }

  test("ivf_balance: totals reconcile with the assignment; imbalance bounded") {
    val r = SimilarityQueries.ivfBalance(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val nVecs = Tables.embeddings(spark, dir).count()
    assert(row.getAs[Long]("n_vecs") == nVecs) // every vector in exactly one bucket
    assert(row.getAs[Long]("n_buckets") >= 1 &&
      row.getAs[Long]("n_buckets") <= SimilarityQueries.IvfK)
    assert(row.getAs[Long]("min_bucket") >= 1)
    assert(row.getAs[Long]("max_bucket") >= row.getAs[Long]("min_bucket"))
    assert(row.getAs[Double]("mean_bucket") ==
      nVecs.toDouble / row.getAs[Long]("n_buckets"))
    val imb = row.getAs[Double]("imbalance")
    assert(imb >= 1.0)
    // hash-sampled centroids over a near-isotropic cloud must not leave
    // a pathological hot cell (a 20x cell would break serving latency)
    assert(imb < 20.0, s"imbalance $imb")
  }

  test("dup_modularity: per-label contributions match brute force and sum to a valid Q") {
    val out = SimilarityQueries.dupModularity(spark, dir).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("degree_sum"),
          r.getAs[Long]("internal_edges"), r.getAs[Double]("q_contrib"))).toMap
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = SimilarityQueries.embeddingNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb")))
    val m = edges.length.toLong
    assert(m > 0)
    assert(out.keySet == labels.values.toSet) // one row per label, all labels
    out.foreach { case (c, (nn, dc, wc, q)) =>
      assert(nn == labels.values.count(_ == c).toLong)
      val bruteD = edges.map { case (a, b) =>
        (if (labels(a) == c) 1L else 0L) + (if (labels(b) == c) 1L else 0L) }.sum
      val bruteW = edges.count { case (a, b) => labels(a) == c && labels(b) == c }.toLong
      assert(dc == bruteD && wc == bruteW, s"label $c")
      assert(math.abs(q - (4.0 * m * bruteW - bruteD.toDouble * bruteD) /
        (4.0 * m * m)) < 1e-12)
    }
    // Q = Σq_c lies in [-1/2, 1); totals are consistent
    assert(out.values.map(_._3).sum == edges.count { case (a, b) => labels(a) == labels(b) })
    assert(out.values.map(_._2).sum == 2 * m)
    val qTotal = out.values.map(_._4).sum
    assert(qTotal >= -0.5 && qTotal < 1.0)
  }

  test("conversion_lag: bands match a driver replay of first-view/first-purchase lags") {
    val rows = AnalyticsQueries.conversionLag(spark, dir).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._3).min }
    val lags = ev.filter(_._2 == "purchase").flatMap { case (u, _, t) =>
      firstView.get(u).filter(t > _).map(t0 => u -> (t - t0))
    }.groupBy(_._1).map { case (_, ls) => ls.map(_._2).min }.toSeq
    val edges = Seq(60000000L, 600000000L, 3600000000L, 21600000000L,
      86400000000L, 604800000000L)
    val brute = lags.map(l => edges.indexWhere(l < _) match {
      case -1 => 6; case i => i
    }).groupBy(identity).map { case (b, v) => b.toLong -> v.size.toLong }
    assert(rows.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n_users")).toMap == brute)
    assert(rows.map(_.getAs[Long]("n_users")).sum == lags.size.toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_total") == lags.size.toLong)
      assert(r.getAs[Double]("share") ==
        r.getAs[Long]("n_users").toDouble / lags.size)
      assert(r.getAs[String]("band").nonEmpty)
    }
  }

  test("embedding_isotropy: matches the exact quantized moments; near-isotropic fixture reads ~0") {
    val r = SimilarityQueries.embeddingIsotropy(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val vecs = Tables.embeddings(spark, dir).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(v => math.floor(v.toDouble * 1000).toLong))
    val n = vecs.length
    val dims = vecs.head.length
    assert(row.getAs[Long]("n") == n.toLong && row.getAs[Long]("n_dims") == dims.toLong)
    val s2 = vecs.map(v => v.map(q => q * q).sum).sum
    val ssd2 = (0 until dims).map { d =>
      val sd = BigInt(vecs.map(_(d)).sum); sd * sd
    }.sum
    assert(row.getAs[Double]("mean_sq_norm") == s2.toDouble / n / 1000000.0)
    val aniso = ssd2.toDouble / (n.toDouble * s2.toDouble)
    assert(math.abs(row.getAs[Double]("anisotropy") - aniso) < 1e-15)
    // the synthetic cloud is near-centered: anisotropy well below the
    // pathological regime, but nonzero (finite-sample mean)
    assert(row.getAs[Double]("anisotropy") > 0.0 &&
      row.getAs[Double]("anisotropy") < 0.1)
  }

  test("model_auc: equals the brute-force pairwise P(pos outscores neg) with half-ties") {
    val r = SimilarityQueries.modelAuc(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    // driver-side recompute of the probe scores via the same closed form
    val vecs = Tables.embeddings(spark, dir)
      .select(col("embedding"), col("label")).collect()
      .map(x => (x.getSeq[Float](0).toArray, x.getInt(1)))
    val data = vecs.map { case (e, l) =>
      (math.floor(e(0).toDouble * 1000).toLong,
        math.floor(e(1).toDouble * 1000).toLong, if (l == 0) 1L else 0L)
    }
    val n = BigInt(data.length)
    val (sx1, sx2, sy) = (BigInt(data.map(_._1).sum), BigInt(data.map(_._2).sum), BigInt(data.map(_._3).sum))
    val sx11 = data.map(d => BigInt(d._1) * BigInt(d._1)).sum
    val sx12 = data.map(d => BigInt(d._1) * BigInt(d._2)).sum
    val sx22 = data.map(d => BigInt(d._2) * BigInt(d._2)).sum
    val sx1y = data.map(d => BigInt(d._1) * d._3).sum
    val sx2y = data.map(d => BigInt(d._2) * d._3).sum
    def det3(a: BigInt, b: BigInt, c: BigInt, d0: BigInt, e: BigInt, f: BigInt,
        g: BigInt, h: BigInt, i: BigInt): BigInt =
      a * (e * i - f * h) - b * (d0 * i - f * g) + c * (d0 * h - e * g)
    val det = det3(n, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    assert(det != 0)
    val b0 = det3(sy, sx1, sx2, sx1y, sx11, sx12, sx2y, sx12, sx22).toDouble / det.toDouble
    val b1 = det3(n, sy, sx2, sx1, sx1y, sx12, sx2, sx2y, sx22).toDouble / det.toDouble
    val b2 = det3(n, sx1, sy, sx1, sx11, sx1y, sx2, sx12, sx2y).toDouble / det.toDouble
    val scored = data.map { case (x1, x2, y) =>
      (math.floor((b0 + b1 * x1.toDouble + b2 * x2.toDouble) * 1000000.0).toLong, y) }
    val pos = scored.filter(_._2 == 1L).map(_._1)
    val neg = scored.filter(_._2 == 0L).map(_._1)
    val wins2 = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val auc = wins2.toDouble / (2.0 * pos.length * neg.length)
    assert(row.getAs[Long]("n_pos") == pos.length.toLong)
    assert(row.getAs[Long]("n_neg") == neg.length.toLong)
    assert(math.abs(row.getAs[Double]("auc") - auc) < 1e-12, s"${row.getAs[Double]("auc")} vs $auc")
    assert(math.abs(row.getAs[Double]("gini") - (2.0 * auc - 1.0)) < 1e-12)
    // a no-signal probe must sit near chance — the honest readout
    assert(row.getAs[Double]("auc") > 0.3 && row.getAs[Double]("auc") < 0.7)
  }

  test("calibration_bins: bin census matches brute force; shares are probabilities") {
    val out = SimilarityQueries.calibrationBins(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 10)
    assert(out.map(_.getAs[Long]("bin")).distinct.length == out.length)
    out.foreach { r =>
      val (n, np) = (r.getAs[Long]("n"), r.getAs[Long]("n_pos"))
      assert(n > 0 && np >= 0 && np <= n)
      assert(r.getAs[Double]("frac_pos") == np.toDouble / n)
      assert(r.getAs[Long]("bin") >= 0 && r.getAs[Long]("bin") <= 9)
    }
    // bins cover every scored row exactly once
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total == Tables.embeddings(spark, dir).count())
  }

  test("link_predict: scores match a brute-force wedge recompute; finds a true missed pair") {
    val edges = SimilarityQueries.embeddingNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"))).toSet
    val out = SimilarityQueries.linkPredict(spark, dir).collect()
    assert(out.nonEmpty)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (u, vs) => u -> vs.map(_._2).toSet }
    out.foreach { r =>
      val (a, b) = (r.getAs[Long]("va"), r.getAs[Long]("vb"))
      assert(a < b && !edges.contains((a, b))) // genuinely a non-edge
      val cn = (adj(a) & adj(b)).size.toLong
      assert(cn >= 1 && r.getAs[Long]("cn") == cn)
      assert(r.getAs[Long]("deg_a") == adj(a).size.toLong)
      assert(r.getAs[Long]("deg_b") == adj(b).size.toLong)
      val jac = cn.toDouble / (adj(a).size + adj(b).size - cn).toDouble
      assert(r.getAs[Double]("jaccard") == jac)
      assert(r.getAs[Long]("pref_attach") == adj(a).size.toLong * adj(b).size)
    }
    // every wedge-connected non-edge is predicted, none missed
    val predicted = out.map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"))).toSet
    val allNonEdgeWedges = adj.keySet.toSeq.combinations(2).map(_.sorted).collect {
      case Seq(a, b) if !edges.contains((a, b)) && (adj(a) & adj(b)).nonEmpty => (a, b)
    }.toSet
    assert(predicted == allNonEdgeWedges)
    // recall repair carries real signal: predicted non-edges are FAR
    // more similar than chance (mean true cosine ≫ the ≈0 mean over
    // all non-edges of this near-isotropic corpus) — the ranking a
    // second-pass exact verification would consume
    val vecs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a).map(_.toDouble), vecs(b).map(_.toDouble))
      x.zip(y).map { case (p, q) => p * q }.sum /
        (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val ids = vecs.keys.toSeq.sorted
    val allNonEdge = ids.combinations(2)
      .map { case Seq(a, b) => (a, b) }.filterNot(edges.contains).toSeq
    val meanAll = allNonEdge.map { case (a, b) => cos(a, b) }.sum / allNonEdge.size
    val meanPred = predicted.toSeq.map { case (a, b) => cos(a, b) }.sum / predicted.size
    assert(meanPred > meanAll + 0.05, s"pred=$meanPred all=$meanAll")
  }

  test("incremental_stats: day-partial merge equals a direct driver recompute") {
    val out = AnalyticsQueries.incrementalStats(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"),
        floor(col("value") * lit(100.0)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = ev.groupBy(_._1)
    assert(out.keySet == byType.keySet)
    byType.foreach { case (t, rows) =>
      val r = out(t)
      val qs = rows.map(_._3)
      assert(r.getAs[Long]("n_days") == rows.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("n_events") == rows.length.toLong)
      assert(math.abs(r.getAs[Double]("total") - qs.sum.toDouble / 100.0) < 1e-6)
      assert(r.getAs[Double]("vmin") == qs.min.toDouble / 100.0)
      assert(r.getAs[Double]("vmax") == qs.max.toDouble / 100.0)
      val n = qs.length.toDouble
      val mean = qs.sum.toDouble / n / 100.0
      assert(math.abs(r.getAs[Double]("mean") - mean) < 1e-9)
      // population variance from exact integer moments
      val s = BigInt(qs.sum); val sq = qs.map(q => BigInt(q) * BigInt(q)).sum
      val v = (BigInt(qs.length) * sq - s * s).toDouble / (n * n) / 10000.0
      assert(math.abs(r.getAs[Double]("variance") - v) < 1e-6 * (1.0 + v))
      assert(r.getAs[Double]("variance") >= 0.0)
    }
  }

  test("upsert_merge: base-plus-delta election equals a full changelog replay") {
    val out = AnalyticsQueries.upsertMerge(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("last_us"), r.getAs[Long]("last_event_id"),
          r.getAs[Double]("last_value"), r.getAs[String]("src"))).toMap
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"),
        col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val midUs = (ev.map(_._3).min + ev.map(_._3).max) / 2
    val byKey = ev.groupBy(e => (e._1, e._2))
    assert(out.keySet == byKey.keySet) // merge covers every key, no extras
    byKey.foreach { case (k, rows) =>
      val winner = rows.maxBy(e => (e._3, e._4))
      val (us, eid, v, src) = out(k)
      assert((us, eid) == (winner._3, winner._4), s"$k")
      assert(v == winner._5)
      // src says which side the winner came from
      assert(src == (if (winner._3 >= midUs) "delta" else "base"))
    }
  }

  test("benford_audit: digit counts match a driver recompute; chi terms sum sane") {
    val out = AnalyticsQueries.benfordAudit(spark, dir).collect()
    assert(out.nonEmpty)
    val brute = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100.0).toLong))
      .filter(_._2 > 0)
      .map { case (p, cents) => (p, cents.toString.head.asDigit) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    out.foreach { r =>
      val key = (r.getAs[String]("priority"), r.getAs[Int]("digit"))
      assert(r.getAs[Long]("n_digit") == brute(key), s"$key")
      // observed share and expectation are both proper probabilities
      assert(r.getAs[Double]("obs_p") > 0 && r.getAs[Double]("obs_p") < 1)
      assert(r.getAs[Double]("chi_term") >= 0)
    }
    // per-priority digit shares sum to 1 and cover all 9 digits
    out.groupBy(_.getAs[String]("priority")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("digit")).toSet == (1 to 9).toSet)
      assert(math.abs(rows.map(_.getAs[Double]("obs_p")).sum - 1.0) < 1e-12)
    }
    // the synthetic uniform-ish price generator is NOT Benford: the
    // audit must actually flag it (chi-square >> the 15.5 p=0.05 cut)
    val chiByP = out.groupBy(_.getAs[String]("priority"))
      .map { case (_, rows) => rows.map(_.getAs[Double]("chi_term")).sum }
    assert(chiByP.forall(_ > 15.5))
  }

  test("ks_test: D matches the brute-force empirical-CDF max gap") {
    val out = AnalyticsQueries.ksTest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n0"), r.getAs[Long]("n1"),
          r.getAs[Double]("ks_d"), r.getAs[Double]("at_value"))).toMap
    val rows = Tables.events(spark, dir).select(
      col("event_type"), pmod(col("user_id"), lit(2L)),
      floor(col("value") * lit(100.0)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { case (t, grp) =>
      val v0 = grp.filter(_._2 == 0).map(_._3).sorted
      val v1 = grp.filter(_._2 == 1).map(_._3).sorted
      val qs = (v0 ++ v1).distinct.sorted
      // exact integer numerator at every step value
      val steps = qs.map(q => (q,
        math.abs(v1.count(_ <= q).toLong * v0.length - v0.count(_ <= q).toLong * v1.length)))
      val dnum = steps.map(_._2).max
      val atQ = steps.collect { case (q, d) if d == dnum => q }.min
      assert(out(t)._1 == v0.length.toLong && out(t)._2 == v1.length.toLong)
      assert(out(t)._3 == dnum.toDouble / (v0.length.toDouble * v1.length))
      assert(out(t)._4 == atQ.toDouble / 100.0)
      assert(out(t)._3 >= 0.0 && out(t)._3 <= 1.0)
    }
  }

  test("mann_whitney: U matches brute-force pair counting with tie halves") {
    val out = AnalyticsQueries.mannWhitney(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n0"), r.getAs[Long]("n1"), r.getAs[Double]("u"))).toMap
    val rows = Tables.events(spark, dir).select(
      col("event_type"), pmod(col("user_id"), lit(2L)),
      floor(col("value") * lit(100.0)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(out.keySet == rows.keySet)
    rows.foreach { case (t, grp) =>
      val v0 = grp.filter(_._2 == 0).map(_._3)
      val v1 = grp.filter(_._2 == 1).map(_._3)
      // U = #{(a, b) : x1_a > x0_b} + ties/2, straight over all pairs
      val u2 = (for (a <- v1; b <- v0) yield
        if (a > b) 2L else if (a == b) 1L else 0L).sum
      assert(out(t)._1 == v0.length.toLong && out(t)._2 == v1.length.toLong)
      assert(out(t)._3 == u2.toDouble / 2.0, s"$t: ${out(t)._3} vs ${u2 / 2.0}")
      // U is bounded by the pair count
      assert(out(t)._3 >= 0.0 && out(t)._3 <= v0.length.toDouble * v1.length)
    }
  }

  test("activity_gini: matches brute-force sorted-rank Gini; all-equal degenerates to 0") {
    val out = AnalyticsQueries.activityGini(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("total_events"),
          r.getAs[Double]("gini"))).toMap
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id")).count()
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(out.keySet == counts.keySet)
    counts.foreach { case (t, xs) =>
      val n = xs.length.toLong
      val ranked = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val brute = 2.0 * ranked / (n.toDouble * xs.sum.toDouble) - (n + 1).toDouble / n
      assert(out(t)._1 == n && out(t)._2 == xs.sum)
      assert(math.abs(out(t)._3 - brute) < 1e-12, s"$t: ${out(t)._3} vs $brute")
      assert(out(t)._3 >= 0.0 && out(t)._3 < 1.0)
    }
    // closed-form sanity: a perfectly equal distribution scores exactly 0
    val eq = Seq.fill(7)(5L)
    val eqRanked = eq.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    assert(2.0 * eqRanked / (7.0 * eq.sum) - 8.0 / 7.0 == 0.0)
  }

  test("ab_ztest: z and SRM recompute from the counts; units tile the user-days") {
    val out = AnalyticsQueries.abZtest(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    val (n0, n1) = (r.getAs[Long]("n0"), r.getAs[Long]("n1"))
    val (c0, c1) = (r.getAs[Long]("c0"), r.getAs[Long]("c1"))
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts"))).distinct().count()
    assert(n0 + n1 == userDays)
    assert(c0 <= n0 && c1 <= n1 && c0 >= 0 && c1 >= 0)
    val (p0, p1) = (c0.toDouble / n0, c1.toDouble / n1)
    val pPool = (c0 + c1).toDouble / (n0 + n1)
    val z = (p1 - p0) / math.sqrt(pPool * (1.0 - pPool) * (1.0 / n0 + 1.0 / n1))
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
    val e = (n0 + n1).toDouble / 2.0
    val chi2 = (n0 - e) * (n0 - e) / e + (n1 - e) * (n1 - e) / e
    assert(math.abs(r.getAs[Double]("srm_chi2") - chi2) < 1e-12)
    // a user_id % 2 split of a hash-assigned id space must not trip SRM
    assert(chi2 < 10.83, s"SRM chi2 $chi2 implies a broken split")
  }

  test("cuped_ab: adjustment is mean-preserving and rho2 bounds the variance reduction") {
    val out = AnalyticsQueries.cupedAb(spark, dir).collect()
    assert(out.map(_.getAs[Long]("variant")).sorted.toSeq == Seq(0L, 1L))
    val theta = out.head.getAs[Double]("theta")
    val rho2 = out.head.getAs[Double]("rho2")
    assert(out.forall(_.getAs[Double]("theta") == theta)) // pooled, same on both rows
    assert(rho2 >= 0.0 && rho2 <= 1.0)
    // CUPED is mean-preserving: the user-weighted average of adjusted
    // means equals the user-weighted average of raw post means, because
    // the variant covariate offsets sum (weighted) to zero
    val wAdj = out.map(r => r.getAs[Long]("n_users") * r.getAs[Double]("mean_adj")).sum
    val wRaw = out.map(r => r.getAs[Long]("n_users") * r.getAs[Double]("mean_post")).sum
    assert(math.abs(wAdj - wRaw) < 1e-6, s"not mean-preserving: $wAdj vs $wRaw")
    // adjustment direction: a variant whose pre-period mean sat above the
    // pooled pre mean is corrected DOWN by theta>0 (and vice versa)
    val nTot = out.map(_.getAs[Long]("n_users")).sum.toDouble
    val preAll = out.map(r => r.getAs[Long]("n_users") * r.getAs[Double]("mean_pre")).sum / nTot
    out.foreach { r =>
      val expected = r.getAs[Double]("mean_post") -
        theta * (r.getAs[Double]("mean_pre") - preAll)
      assert(math.abs(r.getAs[Double]("mean_adj") - expected) < 1e-9)
    }
  }

  test("value_runs: runs tile each user's stream, adjacent runs differ, intervals chain") {
    val out = AnalyticsQueries.valueRuns(spark, dir).collect()
      .groupBy(_.getAs[Long]("user_id"))
    val evCounts = Tables.events(spark, dir).groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == evCounts.keySet)
    out.foreach { case (u, rows) =>
      val byRun = rows.sortBy(_.getAs[Long]("run_id"))
      // run ids are 1..k and the runs tile the user's whole stream
      assert(byRun.map(_.getAs[Long]("run_id")).toSeq == (1L to byRun.length).toSeq)
      assert(byRun.map(_.getAs[Long]("n_events")).sum == evCounts(u))
      byRun.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getAs[String]("event_type") != b.getAs[String]("event_type"))
        // half-open chaining: this run ends where the next begins
        assert(a.getAs[java.sql.Timestamp]("valid_until") ==
          b.getAs[java.sql.Timestamp]("valid_from"))
        assert(!a.getAs[java.sql.Timestamp]("valid_to")
          .after(b.getAs[java.sql.Timestamp]("valid_from")))
      }
      assert(byRun.last.getAs[java.sql.Timestamp]("valid_until") == null)
    }
  }

  test("pareto_front: sweep construction equals the quadratic dominance definition") {
    val out = AnalyticsQueries.paretoFront(spark, dir).collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("o_orderkey"))).toSet
    val rows = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"),
        col("o_totalprice"), col("o_orderkey"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val brute = (for {
      r <- rows
      dominated = rows.exists(s => s._1 == r._1 &&
        s._3 <= r._3 && s._2 <= r._2 && (s._3 < r._3 || s._2 < r._2))
      if !dominated
    } yield (r._1, r._4)).toSet
    assert(out == brute)
    assert(out.nonEmpty)
  }

  test("theil_sen: median slope matches brute force over the same quantized hour frame") {
    val out = AnalyticsQueries.theilSen(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("ts_slope_fp"))).toMap
    val frame = Tables.events(spark, dir)
      .withColumn("hb", expr("unix_micros(ts) div 3600000000"))
      .groupBy(col("event_type"), col("hb"))
      .agg((floor((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double") /
        count(lit(1)).cast("double")) * 1000.0)).cast("long").as("fp"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    frame.foreach { case (t, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield ((pts(j)._2 - pts(i)._2) * 1000L) / (pts(j)._1 - pts(i)._1)).sorted
      assert(out(t)._1 == slopes.length.toLong)
      assert(out(t)._2 == slopes(((slopes.length + 1) / 2) - 1))
    }
  }

  test("bpe_train: merge accounting holds and round 1 wins bpe_pairs' census") {
    val out = TextQueries.bpeTrain(spark, dir).collect().sortBy(_.getAs[Long]("round"))
    assert(out.map(_.getAs[Long]("round")).toSeq == Seq(1L, 2L, 3L))
    // round 1 trains on raw characters — its winner IS bpe_pairs' rank-1
    val best = TextQueries.bpePairs(spark, dir).collect()
      .minBy(r => (-r.getAs[Long]("cnt"), r.getAs[String]("pair")))
    assert(out.head.getAs[String]("left") + out.head.getAs[String]("right") ==
      best.getAs[String]("pair"))
    assert(out.head.getAs[Long]("pair_cnt") == best.getAs[Long]("cnt"))
    // each applied merge removes exactly one symbol; the census counts
    // every adjacent position (overlaps included), so the corpus shrinks
    // by at least one and by at most pair_cnt symbols per round
    out.sliding(2).foreach { case Array(a, b) =>
      val d = a.getAs[Long]("total_symbols") - b.getAs[Long]("total_symbols")
      assert(d >= 1 && d <= b.getAs[Long]("pair_cnt"))
    }
    // later rounds never beat the round-1 winner's count (it was maximal)
    assert(out.tail.forall(_.getAs[Long]("pair_cnt") <= out.head.getAs[Long]("pair_cnt")))
  }

  test("linear_probe: coefficients match exact BigInt Cramer on the same quantized rows") {
    val out = SimilarityQueries.linearProbe(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    val rows = Tables.embeddings(spark, dir).select(
      floor(element_at(col("embedding"), 1).cast("double") * 1000).cast("long"),
      floor(element_at(col("embedding"), 2).cast("double") * 1000).cast("long"),
      when(col("label") === 0, 1L).otherwise(0L))
      .collect().map(x => (BigInt(x.getLong(0)), BigInt(x.getLong(1)), BigInt(x.getLong(2))))
    val n = BigInt(rows.length)
    val (sx1, sx2, sy) = (rows.map(_._1).sum, rows.map(_._2).sum, rows.map(_._3).sum)
    val sx11 = rows.map(t => t._1 * t._1).sum
    val sx12 = rows.map(t => t._1 * t._2).sum
    val sx22 = rows.map(t => t._2 * t._2).sum
    val sx1y = rows.map(t => t._1 * t._3).sum
    val sx2y = rows.map(t => t._2 * t._3).sum
    def det3(a: BigInt, b: BigInt, c: BigInt, d: BigInt, e: BigInt, f: BigInt,
        g: BigInt, h: BigInt, i: BigInt): BigInt =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val det = det3(n, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    assert(det != BigInt(0))
    val b0 = det3(sy, sx1, sx2, sx1y, sx11, sx12, sx2y, sx12, sx22).toDouble / det.toDouble
    val b1 = det3(n, sy, sx2, sx1, sx1y, sx12, sx2, sx2y, sx22).toDouble / det.toDouble
    val b2 = det3(n, sx1, sy, sx1, sx11, sx1y, sx2, sx12, sx2y).toDouble / det.toDouble
    assert(r.getAs[Long]("n") == rows.length.toLong)
    assert(math.abs(r.getAs[Double]("b0") - b0) < 1e-12)
    assert(math.abs(r.getAs[Double]("b1") - b1) < 1e-12)
    assert(math.abs(r.getAs[Double]("b2") - b2) < 1e-12)
    // probe scores are well-formed: R² ≤ 1, accuracy within [0, 1] and at
    // least the majority floor here (near-zero coefficients predict the
    // majority class on every row)
    assert(r.getAs[Double]("r2") <= 1.0)
    assert(r.getAs[Double]("accuracy") >= r.getAs[Double]("base_acc") - 1e-12)
  }

  test("rolling_actives: exact parity with a brute-force trailing-24h distinct count") {
    val out = AnalyticsQueries.rollingActives(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("window_hour").getTime / 3600000L) ->
        (r.getAs[Long]("actives_24h"), r.getAs[Long]("actives_1h"))).toMap
    val uh = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("unix_millis(ts) div 3600000").as("hb"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hours = uh.map(_._3).distinct
    val brute = (for {
      t <- uh.map(_._1).distinct; wh <- hours
      a24 = uh.collect { case (`t`, u, hb) if hb > wh - 24 && hb <= wh => u }.distinct.size.toLong
      if a24 > 0
      a1 = uh.collect { case (`t`, u, hb) if hb == wh => u }.distinct.size.toLong
    } yield (t, wh) -> ((a24, a1))).toMap
    assert(out == brute)
    // the ratio is bounded and the window count is per-type plausible
    out.values.foreach { case (a24, a1) => assert(a1 <= a24 && a24 > 0) }
  }

  test("zorder_prune: z-order layout strictly beats insertion order on the box lookup") {
    val rows = CoreQueries.zorderPrune(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet == Set("zorder", "linear"))
    val (zo, li) = (rows("zorder"), rows("linear"))
    // layout changes I/O, never answers: identical true match counts
    assert(zo.getAs[Long]("rows_matched") == li.getAs[Long]("rows_matched"))
    assert(zo.getAs[Long]("rows_total") == li.getAs[Long]("rows_total"))
    // a scanned superset always covers the matches
    Seq(zo, li).foreach { r =>
      assert(r.getAs[Long]("rows_scanned") >= r.getAs[Long]("rows_matched"))
      assert(r.getAs[Long]("files_scanned") <= r.getAs[Long]("n_files"))
      assert(r.getAs[Long]("n_files") <= 256)
    }
    // the point of the layout: min/max stats prune most z-files while the
    // insertion-order layout spreads both keys across every file
    assert(zo.getAs[Double]("scan_frac") < li.getAs[Double]("scan_frac") / 2)
  }

  test("dup_triangles: census reconciles with a driver-side count on the same edge list") {
    val out = SimilarityQueries.dupTriangles(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    val edges = SimilarityQueries.minhashLsh(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(r.getAs[Long]("n_edges") == edges.size.toLong)
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (_, o) => o.size.toLong }
    assert(r.getAs[Long]("n_wedges") == deg.map(d => d * (d - 1) / 2).sum)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val has = (a: Long, b: Long) => edges.contains((a min b, a max b))
    var tri = 0L
    for {
      (a, i) <- nodes.zipWithIndex
      b <- nodes.drop(i + 1) if has(a, b)
      c <- nodes.dropWhile(_ <= b) if has(b, c) && has(a, c)
    } tri += 1
    assert(r.getAs[Long]("n_triangles") == tri)
    val w = r.getAs[Long]("n_wedges")
    val expectCc = if (w > 0) 3.0 * tri.toDouble / w.toDouble else 0.0
    assert(r.getAs[Double]("clustering_coeff") == expectCc)
  }

  test("dup_triangles: a 200-doc clique counts exactly C(200,3) under degree orientation") {
    // the dedup skew shape: 200 byte-identical docs form a complete
    // near-dup graph; the oriented join must count every triangle once
    val tmp = java.nio.file.Files.createTempDirectory("tri_clique").toString
    val docs = (0L until 200L).map(i =>
      (i, "the same template text repeated for every document in the clique", "en", "s", 60L)) ++
      Seq((900L, "an entirely different document about unrelated matters here", "en", "s", 59L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = SimilarityQueries.dupTriangles(spark, tmp).collect().head
    assert(r.getAs[Long]("n_edges") == 200L * 199L / 2)
    assert(r.getAs[Long]("n_triangles") == 200L * 199L * 198L / 6)
    // complete graph: every wedge closes, clustering coefficient is 1
    assert(r.getAs[Double]("clustering_coeff") == 1.0)
  }

  test("dup_matrix: pair counts cover the LSH candidate set, sources ordered") {
    val matrix = SimilarityQueries.dupMatrix(spark, dir).collect()
    val total = SimilarityQueries.minhashLsh(spark, dir).count()
    assert(matrix.map(_.getAs[Long]("n_pairs")).sum == total)
    matrix.foreach { r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"))
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  /** Exact decimal bucket means of the events fixture, driver-side:
    * (event_type, bucket, mean) with DECIMAL(18,2) sums ÷ counts —
    * the shared base frame of the time-series reconciliation tests. */
  private def driverBucketMeans(): Seq[(String, Long, Double)] = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("tus"), col("value")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("tus") / 600000000L,
        BigDecimal(r.getAs[Double]("value")).setScale(2)))
    ev.groupBy { case (t, b, _) => (t, b) }
      .map { case ((t, b), rows) =>
        (t, b, rows.map(_._3).sum.toDouble / rows.length.toDouble)
      }.toSeq
  }

  test("token_lift: lift ranking matches a brute-force PMI-ratio computation") {
    val out = TextQueries.tokenLift(spark, dir).collect().sortBy(_.getAs[Long]("rk"))
    val docToks = docTokens()
    val uni = docToks.values.flatten.groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val bg = docToks.values.toSeq
      .flatMap(ts => ts.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val n = bg.values.sum
    val lifts = bg.toSeq.collect { case ((a, b), cb) if cb >= 5 =>
      (a, b, cb, (cb * n * 1000000L) / (uni(a) * uni(b)))
    }
    val expect = lifts.sortBy { case (a, b, _, fp) => (-fp, a, b) }.take(50)
    assert(out.length == math.min(50, lifts.size))
    out.zip(expect).foreach { case (r, (a, b, cb, fp)) =>
      assert(r.getAs[String]("a") == a && r.getAs[String]("b") == b)
      assert(r.getAs[Long]("cb") == cb)
      assert(r.getAs[Long]("lift_fp") == fp)
      // lift > 1 means the pair beats independence — the top of the
      // ranking must, or the corpus has no collocations at all
      assert(r.getAs[Double]("lift") == fp.toDouble / 1000000.0)
    }
    assert(out.head.getAs[Long]("lift_fp") > 1000000L,
      "the strongest collocation must beat independence")
  }

  test("embedding_outliers: bottom-20 assignment cosines of the trained index") {
    val out = SimilarityQueries.embeddingOutliers(spark, dir).collect()
      .sortBy(_.getAs[Long]("rk"))
    val all = SimilarityQueries.kmeansTrain(spark, dir, rounds = 2)
      .select(col("vec_id"), col("bucket"), col("cos")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("bucket"), r.getAs[Double]("cos")))
    val expect = all.sortBy { case (vid, _, cos) => (cos, vid) }.take(20)
    assert(out.length == 20)
    out.zip(expect).foreach { case (r, (vid, bkt, cos)) =>
      assert(r.getAs[Long]("vec_id") == vid)
      assert(r.getAs[Long]("bucket") == bkt)
      assert(r.getAs[Double]("cos") == cos)
    }
    // outliers sit strictly below the corpus median assignment cosine
    val med = all.map(_._3).sorted.apply(all.length / 2)
    assert(out.forall(_.getAs[Double]("cos") < med))
  }

  test("bpe_pairs: the merge-candidate ranking matches a brute-force BPE count") {
    val out = TextQueries.bpePairs(spark, dir).collect()
    val wordFreq = docTokens().values.flatten.groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val pairCnt = wordFreq.toSeq.flatMap { case (w, c) =>
      if (w.length < 2) Seq.empty
      else (0 until w.length - 1).map(i => w.substring(i, i + 2) -> c)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val expect = pairCnt.toSeq.sortBy { case (p, c) => (-c, p) }.take(50)
    assert(out.length == math.min(50, pairCnt.size))
    out.sortBy(_.getAs[Long]("rk")).zip(expect).foreach { case (r, (p, c)) =>
      assert(r.getAs[String]("pair") == p)
      assert(r.getAs[Long]("cnt") == c)
    }
  }

  test("semantic_clusters matches a driver union-find; semantic_keep picks the farthest member") {
    val edges = SimilarityQueries.semanticNearDup(spark, dir)
      .select("va", "vb").as[(Long, Long)].collect()
    val nodes = Tables.embeddings(spark, dir).select("vec_id").as[Long].collect()
    val wantMin = PipelineQueriesSpec.componentMinRef(nodes.toSeq, edges.toSeq)
    val got = graft.queries.CurationQueries.semanticClusters(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got == wantMin)
    // keeper election: lowest assignment cosine in its component, vec_id
    // tie-break; exactly one keeper per component; sizes cover all vectors
    val cos = SimilarityQueries.kmeansTrain2(spark, dir)
      .select("vec_id", "cos").as[(Long, Double)].collect().toMap
    val keep = graft.queries.CurationQueries.semanticKeep(spark, dir).collect()
    assert(keep.map(_.getLong(0)).toSet == got.values.toSet)
    assert(keep.map(_.getLong(2)).sum == nodes.length.toLong)
    keep.foreach { r =>
      val members = got.collect { case (v, c) if c == r.getLong(0) => v }
      val expect = members.minBy(v => (cos(v), v))
      assert(r.getLong(1) == expect)
      assert(r.getDouble(3) == cos(expect))
    }
  }

  test("ivfpq_ann: dense top-3 per query, candidates only from probed buckets; recall well-formed") {
    val out = SimilarityQueries.ivfPqAnn(spark, dir).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L))
      rs.foreach(r => assert(r.getLong(1) != r.getLong(0), "no self-match"))
    }
    // the composite must search ONLY the query's top-nprobe buckets:
    // every returned candidate's own bucket is among its query's probes
    val asn = SimilarityQueries.ivfAssign(spark, dir)
      .select(col("vec_id"), col("bucket"), col("probe_buckets")).collect()
    val probes = asn.filter(_.getLong(0) < 10)
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    val bucketOf = asn.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(probes(r.getLong(0)).contains(bucketOf(r.getLong(1))),
        s"candidate ${r.getLong(1)} outside query ${r.getLong(0)}'s probed buckets")
    }
    val rec = SimilarityQueries.ivfPqRecall(spark, dir).collect()
    assert(rec.length == 10)
    rec.foreach { r =>
      assert(r.getLong(2) == 3L && r.getLong(1) <= 3L)
      assert(r.getDouble(3) == r.getLong(1).toDouble / 3.0)
    }
  }

  test("dist_drift: identical halves score exactly 0, disjoint halves exactly 2") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift").toString
    def ev(id: Long, sec: Long, typ: String, v: Double) =
      (id, new java.sql.Timestamp(sec * 1000L), 1L, typ, v, "{}")
    // stable: the same value multiset in both time halves; shifted: the
    // two halves occupy disjoint ends of the value range
    val rows =
      (0 until 100).map(i => ev(i.toLong, 1000L + i, "stable", (i % 10).toDouble)) ++
        (0 until 100).map(i => ev(200L + i, 100000L + i, "stable", (i % 10).toDouble)) ++
        (0 until 100).map(i => ev(400L + i, 1000L + i, "shifted", 1.0)) ++
        (0 until 100).map(i => ev(600L + i, 100000L + i, "shifted", 1000.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = AnalyticsQueries.distDrift(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("stable", "shifted"))
    out.values.foreach { r =>
      assert(r.getLong(1) == 100L && r.getLong(2) == 100L)
      val d = r.getDouble(3)
      assert(d >= 0.0 && d <= 2.0)
    }
    // equal per-bin counts cancel exactly in the rational fold — 0.0, not epsilon
    assert(out("stable").getDouble(3) == 0.0)
    // fully disjoint histograms hit the L1 ceiling exactly
    assert(out("shifted").getDouble(3) == 2.0)
  }

  test("join_size_est: every sketch row over-estimates, min is reported, excess within the AMS bound") {
    val r = AnalyticsQueries.joinSizeEst(spark, dir).collect()(0)
    val exact = r.getAs[Long]("exact")
    val ests = Seq(r.getAs[Long]("est0"), r.getAs[Long]("est1"), r.getAs[Long]("est2"))
    // Σc² counts every true pair plus colliding cross terms — never under
    ests.foreach(e => assert(e >= exact))
    assert(r.getAs[Long]("est") == ests.min)
    // exact from first principles
    val brute = Tables.lineitem(spark, dir).groupBy(col("l_partkey")).count()
      .collect().map(x => { val f = x.getAs[Long]("count"); f * f }).sum
    assert(exact == brute)
    // AMS expected excess is N²/w; 4x slack covers hash variance on the
    // pinned fixture (the min of 3 rows concentrates well below this)
    val n = Tables.lineitem(spark, dir).count()
    assert(r.getAs[Long]("est") - exact <= 4L * n * n / 4096L,
      s"excess ${r.getAs[Long]("est") - exact} above the AMS slack bound")
    assert(r.getAs[Double]("rel_err") == (ests.min - exact).toDouble / exact.toDouble)
  }

  test("bloom_prune: no false negatives, pass set = members + false positives, fp rate near theory") {
    val r = AnalyticsQueries.bloomPrune(spark, dir).collect()(0)
    val (nProbe, nPass, nMem, nFp) = (r.getAs[Long]("n_probe_keys"), r.getAs[Long]("n_pass_bloom"),
      r.getAs[Long]("n_members"), r.getAs[Long]("n_false_pos"))
    // a Bloom filter never drops a member: every pass is a member or a
    // counted false positive — equality, not inequality
    assert(nPass == nMem + nFp)
    // membership reconciles with a direct semi-join
    val direct = Tables.lineitem(spark, dir).select(col("l_orderkey")).distinct()
      .join(Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    assert(nMem == direct)
    assert(nProbe == Tables.lineitem(spark, dir).select(col("l_orderkey")).distinct().count())
    // realized fp rate should sit near (1 - e^(-kn/m))^4 — generous 10x cap
    val n = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).distinct().count()
    val theory = math.pow(1.0 - math.exp(-4.0 * n / 65536.0), 4)
    assert(nFp.toDouble / (nProbe - nMem).toDouble <= 10.0 * theory + 0.001)
  }

  test("holt_forecast: level and forecast track a linear trend exactly where plain EWMA lags") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_holt").toString
    // one event per 10-min bucket, value = 10 + 0.5·t — a pure linear trend
    val rows = (0 until 60).map { t =>
      (t.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t * 600L)),
        1L, "lin", 10.0 + 0.5 * t, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = AnalyticsQueries.holtForecast(spark, tmp).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    val steady = (20L to 58L) // past both kernels' 8-lag warmup
    steady.foreach { b =>
      val r = out(b)
      // 2·S1 − S2 cancels the smoothing lag completely on a linear series
      assert(math.abs(r.getAs[Double]("level") - r.getAs[Double]("mv")) < 0.01)
      // the forecast lands on the next actual (quantization noise only)
      assert(math.abs(r.getAs[Double]("forecast_next") - out(b + 1).getAs[Double]("mv")) < 0.02)
      // dividing (S1−S2) by the kernel's exact mean lag D recovers the
      // true slope, not a shrunk one
      assert(math.abs(r.getAs[Double]("trend") - 0.5) < 0.01)
    }
    // plain EWMA on the same series lags by c·(D+1) ≈ 1.5+ per forecast step
    val ew = AnalyticsQueries.seriesEwma(spark, tmp).collect()
      .filter(r => r.getAs[Long]("bucket") >= 20 && !r.isNullAt(r.fieldIndex("forecast_err")))
    assert(ew.nonEmpty && ew.forall(_.getAs[Double]("forecast_err") > 1.0))
  }

  test("ngram_novelty: exact against a driver-side first-owner replay") {
    val out = TextQueries.ngramNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    out.values.foreach { r =>
      val (n, nov) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"))
      assert(nov >= 0L && nov <= n)
      assert(r.getAs[Double]("novelty") == nov.toDouble / n.toDouble)
    }
    // driver-side replay on the raw shingle strings (no hash — a 60-bit
    // collision would be the only divergence, vanishing at fixture size)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase.trim
          .replaceAll("\\s+", " ")).toVector)
    val shingles = docs.map { case (id, ws) =>
      id -> ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val ownerOf = shingles.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    shingles.filter(_._2.nonEmpty).foreach { case (id, ss) =>
      val r = out(id)
      assert(r.getAs[Long]("n_shingles") == ss.size.toLong, s"doc $id shingle count")
      assert(r.getAs[Long]("n_novel") == ss.count(ownerOf(_) == id).toLong, s"doc $id novelty")
    }
    assert(out.keySet == shingles.filter(_._2.nonEmpty).keySet)
  }

  test("path_topk: equals a driver-side trigram replay under the same total order") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("tus"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("tus"), r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    val tri = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4)
      seq.sliding(3).filter(_.length == 3).map(s => (s(0), s(1), s(2)))
    }
    val expect = tri.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((a, b, c), n) => (a, b, c, n) }
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(10)
    val got = AnalyticsQueries.pathTopk(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getAs[Long]("cnt")))
    assert(got.toSeq == expect)
  }

  test("k_anonymity: histogram partitions the corpus; at-risk flag consistent") {
    val out = TextQueries.kAnonymity(spark, dir).collect()
    assert(out.map(r => r.getAs[Long]("n_docs")).sum == 500L)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") == r.getAs[Long]("gsize") * r.getAs[Long]("n_groups"))
      assert(r.getAs[Boolean]("at_risk") == (r.getAs[Long]("gsize") < 5L))
    }
    // group sizes reconcile with a direct QI group-by
    val direct = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"), expr("n_chars div 100"))
      .count().collect().map(_.getAs[Long]("count"))
    val hist = direct.groupBy(identity).view.mapValues(_.length.toLong).toMap
    out.foreach(r => assert(hist(r.getAs[Long]("gsize")) == r.getAs[Long]("n_groups")))
    assert(out.map(_.getAs[Long]("n_groups")).sum == direct.length.toLong)
  }

  test("t_closeness: decile histogram matches an exact BigInt TVD reference") {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), expr("n_chars div 100").as("lb"), col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val n = BigInt(docs.length)
    val globalLang = docs.groupBy(_._3).view.mapValues(v => BigInt(v.length)).toMap
    // exact rational TVD per QI group: S = Σ max(c_gv·N − c_v·g, 0),
    // decile = #{k in 1..10 : 10·S ≥ k·g·N} — all BigInt, no rounding
    val expect = docs.groupBy(d => (d._1, d._2)).values.map { rows =>
      val g = BigInt(rows.length)
      val s = rows.groupBy(_._3).map { case (lang, lr) =>
        (BigInt(lr.length) * n - globalLang(lang) * g).max(BigInt(0))
      }.sum
      val decile = (1 to 10).count(k => BigInt(10) * s >= BigInt(k) * g * n)
      (decile.toLong, g.toLong)
    }.toSeq
    val wantHist = expect.groupBy(_._1).map { case (d, v) =>
      d -> (v.size.toLong, v.map(_._2).sum)
    }
    val out = TextQueries.tCloseness(spark, dir).collect()
    assert(out.map(r => r.getAs[Long]("t_decile") ->
      (r.getAs[Long]("n_groups"), r.getAs[Long]("n_docs"))).toMap == wantHist)
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    out.foreach(r => assert(
      r.getAs[Boolean]("at_risk") == (r.getAs[Long]("t_decile") >= 5L)))
  }

  test("epoch_schedule: pinned IEEE chain reproduced; skewed corpus trips the 4-epoch cap") {
    // fixture: relations between the columns hold exactly (same op order)
    val out = CurationQueries.epochSchedule(spark, dir).collect()
    val total = out.map(_.getAs[Long]("src_tok")).sum
    assert(math.abs(out.map(_.getAs[Double]("temp_share")).sum - 1.0) < 1e-9)
    out.foreach { r =>
      val (src, ts, tt, ep) = (r.getAs[Long]("src_tok"), r.getAs[Double]("temp_share"),
        r.getAs[Double]("target_tok"), r.getAs[Double]("epochs"))
      assert(tt == (2L * total).toDouble * ts)
      assert(ep == tt / src.toDouble)
      assert(r.getAs[Boolean]("over_cap") == (ep > 4.0))
      assert(r.getAs[Double]("epochs_capped") == math.min(ep, 4.0))
      assert(r.getAs[Double]("clipped_tok") ==
        (if (ep > 4.0) tt - 4.0 * src.toDouble else 0.0))
    }
    // the capped schedule never over-spends the 2-epoch corpus budget
    val spend = out.map(r =>
      r.getAs[Double]("epochs_capped") * r.getAs[Long]("src_tok").toDouble).sum
    assert(spend <= 2.0 * total.toDouble + 1e-6)
    // seeded skew: a tiny source under √-share temperature weighting gets
    // an allocation far beyond 4 epochs of itself → flagged, mass clipped
    val tmp = java.nio.file.Files.createTempDirectory("graft_epoch").toString
    val rows =
      (1 to 100).map(i => (i.toLong, Seq.fill(100)("w").mkString(" "), "en", "big", 199L)) :+
        (101L, Seq.fill(10)("w").mkString(" "), "en", "tiny", 19L)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sk = CurationQueries.epochSchedule(spark, tmp).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(sk("tiny").getAs[Boolean]("over_cap"))
    assert(sk("tiny").getAs[Double]("epochs") > 4.0)
    assert(sk("tiny").getAs[Double]("clipped_tok") > 0.0)
    assert(!sk("big").getAs[Boolean]("over_cap"))
    assert(sk("big").getAs[Double]("clipped_tok") == 0.0)
  }

  test("ann_ndcg: matches a driver-side replay; perfect retrieval would score 1; bounded [0,1]") {
    val exact = SimilarityQueries.knnCosine(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues { rs =>
        rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(3)
          .zipWithIndex.map { case (r, i) => r.getLong(1) -> (3L - i) }.toMap
      }.toMap
    val approx = SimilarityQueries.annIvf(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(rs =>
        rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1))).toMap
    val discs = Array(1.0, 0.6309297535714575, 0.5)
    val idcg = 3.0 * 1.0 + 2.0 * 0.6309297535714575 + 1.0 * 0.5
    val out = SimilarityQueries.annNdcg(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSet == approx.keySet)
    out.foreach { r =>
      val qid = r.getLong(0)
      val want = approx(qid).zipWithIndex.map { case (vid, p) =>
        math.floor(exact(qid).getOrElse(vid, 0L).toDouble * discs(p) * 1e12).toLong
      }.sum
      assert(r.getDouble(2) == (want.toDouble / 1e12) / idcg)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(1) == approx(qid).length.toLong)
    }
    // a list identical to the exact top-3 scores 1 (up to the picounit
    // floor-quantization, which can only shave < 1e-9)
    val perfect = exact.head._2.toSeq.sortBy(-_._2).map(_._1)
    val dcg = perfect.zipWithIndex.map { case (vid, p) =>
      math.floor(exact.head._2(vid).toDouble * discs(p) * 1e12).toLong
    }.sum
    val top = (dcg.toDouble / 1e12) / idcg
    assert(top <= 1.0 && top > 1.0 - 1e-9)
  }

  test("cross_shard_dup: totals reconcile; seeded exact dups co-locate, near-dups scatter") {
    val out = CurationQueries.crossShardDup(spark, dir).collect()
    // exact dups share text → share the content hash → same shard: the
    // exact ∧ cross-shard cell is structurally impossible
    assert(!out.exists(r =>
      !r.getAs[Boolean]("same_shard") && r.getAs[Boolean]("exact_dup")))
    assert(out.map(_.getAs[Long]("n_pairs")).sum ==
      SimilarityQueries.minhashLsh(spark, dir).count())
    // seeded corpus: 4 exact copies of one text (6 pairs) plus a near-dup
    // pair (one token swapped) — exacts must co-locate, and the pair
    // classification must match a driver-side recount
    val tmp = java.nio.file.Files.createTempDirectory("graft_xshard").toString
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val rows = (1 to 4).map(i => (i.toLong, body, "en", "s", 200L)) ++ Seq(
      (5L, body.replace("tok7", "zzz"), "en", "s", 200L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sk = CurationQueries.crossShardDup(spark, tmp).collect()
    val exact = sk.filter(_.getAs[Boolean]("exact_dup"))
    assert(exact.map(_.getAs[Long]("n_pairs")).sum == 6L)
    assert(exact.forall(_.getAs[Boolean]("same_shard")))
    assert(sk.map(_.getAs[Long]("n_pairs")).sum ==
      SimilarityQueries.minhashLsh(spark, tmp).count())
  }

  test("quality_vs_dup: bucket means match a driver-side exact recount") {
    val deg = SimilarityQueries.minhashLsh(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val q = TextQueries.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val expect = q.groupBy { case (id, _) =>
      math.min(deg.getOrElse(id, 0L), 3L)
    }.view.mapValues { rs =>
      val s = rs.map { case (_, v) => math.floor(v * 1e6).toLong }.sum
      (rs.length.toLong, s.toDouble / (rs.length.toDouble * 1e6))
    }.toMap
    val out = CurationQueries.qualityVsDup(spark, dir).collect()
    assert(out.map(r => r.getAs[Long]("deg_bucket") ->
      (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_quality"))).toMap == expect)
    assert(out.map(_.getAs[Long]("n_docs")).sum == q.length.toLong)
  }

  test("domain_reweight: BigInt reference reproduced; hard domains upweighted, weights normalize") {
    // reference: fold lm_score's per-doc (n_bigrams, lp_fp) to sources in
    // exact BigInt, then u = Ntot·Ns + max(Ltot·Ns − Ls·Ntot, 0)
    val srcOf = Tables.documents(spark, dir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perSrc = TextQueries.lmScore(spark, dir)
      .select("doc_id", "n_bigrams", "lp_fp").collect()
      .groupBy(r => srcOf(r.getLong(0)))
      .view.mapValues { rs =>
        (BigInt(rs.map(_.getLong(1)).sum), BigInt(rs.map(_.getLong(2)).sum))
      }.toMap
    val ntot = perSrc.values.map(_._1).sum
    val ltot = perSrc.values.map(_._2).sum
    val us = perSrc.view.mapValues { case (ns, ls) =>
      ntot * ns + (ltot * ns - ls * ntot).max(BigInt(0))
    }.toMap
    val uz = us.values.sum
    val out = CurationQueries.domainReweight(spark, dir).collect()
    assert(out.map(_.getAs[String]("source")).toSet == perSrc.keySet)
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val (ns, ls) = perSrc(src)
      assert(r.getAs[Long]("n_bigrams") == ns.toLong)
      assert(r.getAs[Double]("new_weight") == us(src).toDouble / uz.toDouble)
      assert(r.getAs[Boolean]("upweighted") == (ltot * ns > ls * ntot))
    }
    assert(math.abs(out.map(_.getAs[Double]("new_weight")).sum - 1.0) < 1e-9)
    // seeded direction: a source whose head token fans out to many
    // successors (unpredictable bigrams) must gain weight against a
    // perfectly repetitive one
    val tmp = java.nio.file.Files.createTempDirectory("graft_doremi").toString
    val rows =
      (1 to 20).map(i => (i.toLong, "x y x y x y x y", "en", "fluent", 15L)) ++
        (1 to 20).map(i => (20L + i,
          s"x a$i x b$i x c$i x d$i", "en", "hard", 19L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sk = CurationQueries.domainReweight(spark, tmp).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(sk("hard").getAs[Double]("fluency") <
      sk("fluent").getAs[Double]("fluency"))
    assert(sk("hard").getAs[Boolean]("upweighted"))
    assert(!sk("fluent").getAs[Boolean]("upweighted"))
    // the update moves mass toward the hard domain relative to its share
    assert(sk("hard").getAs[Double]("new_weight") >
      sk("hard").getAs[Double]("old_share"))
  }

  test("tokenizer_fertility: totals reconcile with the per-doc token counters") {
    val out = TextQueries.tokenizerFertility(spark, dir).collect()
    val stats = TextQueries.textStats(spark, dir)
    val bpe = TextQueries.tokenCount(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang").as("l2")), Seq("doc_id"))
    out.foreach { r =>
      val lang = r.getAs[String]("lang")
      val words = stats.filter(col("lang") === lang)
        .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      assert(r.getAs[Long]("total_word_tokens") == words)
      val b = bpe.filter(col("l2") === lang)
        .agg(sum(col("n_bpe_tokens"))).collect()(0).getLong(0)
      assert(r.getAs[Long]("total_bpe_tokens") == b)
      assert(r.getAs[Double]("chars_per_bpe") ==
        r.getAs[Long]("total_chars").toDouble / r.getAs[Long]("total_bpe_tokens").toDouble)
      // subword-style splitting never produces fewer tokens than words
      assert(r.getAs[Double]("bpe_per_word") >= 1.0)
    }
    assert(out.nonEmpty)
  }

  test("dominant_period: planted square wave recovered at its period, pure trend maxes at lag 1") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_period").toString
    // 'wave': square wave with period 18 buckets; 'ramp': pure linear trend
    val rows = (0 until 400).flatMap { t =>
      val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t * 600L))
      Seq(
        (t.toLong * 2, ts, 1L, "wave", if (t % 18 < 9) 100.0 else 200.0, "{}"),
        (t.toLong * 2 + 1, ts, 1L, "ramp", 10.0 + 1.0 * t, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = AnalyticsQueries.dominantPeriod(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // the wave's autocorr peaks (r ≈ 1) exactly at multiples of 18
    val wave = out("wave")
    assert(wave.getAs[Long]("best_lag") % 18L == 0L,
      s"expected a multiple of the planted period, got ${wave.getAs[Long]("best_lag")}")
    assert(wave.getAs[Double]("autocorr") > 0.99)
    // a linear ramp correlates perfectly with every shifted self — the
    // (r desc, lag asc) tie-break must elect the smallest lag
    val ramp = out("ramp")
    assert(ramp.getAs[Long]("best_lag") == 1L)
    assert(ramp.getAs[Double]("autocorr") > 0.999)
  }

  test("forecast_eval: matches a driver-side seasonal-naive backtest exactly") {
    val out = AnalyticsQueries.forecastEval(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // brute-force: bucket means, milli-quantize, lag-144 self-pairing
    val fp = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 600000000").as("b"), col("value"))
      .collect()
      .groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("b")))
      .map { case (k, rows) =>
        val sum = rows.map(r => BigDecimal(r.getAs[Double]("value")).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        k -> math.floor(sum.toDouble / rows.length.toDouble * 1000.0).toLong
      }
    val scored = fp.toSeq.flatMap { case ((et, b), a) =>
      fp.get((et, b - 144)).map(p => (et, a, p))
    }
    scored.groupBy(_._1).foreach { case (et, xs) =>
      val r = out(et)
      assert(r.getAs[Long]("n_scored") == xs.length.toLong)
      val sad = xs.map(x => math.abs(x._2 - x._3)).sum
      assert(r.getAs[Double]("mae") == sad.toDouble / xs.length.toDouble / 1000.0)
      val sa = xs.map(x => math.abs(x._2)).sum
      assert(r.getAs[Double]("wape") == sad.toDouble / sa.toDouble)
    }
    assert(out.keySet == scored.map(_._1).toSet)
  }
}

object PipelineQueriesSpec {
  /** Independent connected-components reference: plain union-find over
    * `edges` (no path compression, no ordering tricks), normalized to
    * min-anchor labels — every node in `nodes` maps to the minimal id of
    * its component. */
  def componentMinRef(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = nodes.map(n => n -> find(n)).toMap
    // min-anchor labels: normalize the reference to min-id per component
    val byRoot = want.groupBy(_._2).map { case (_, m) => (m.keys.min, m.keys.toSet) }
    byRoot.flatMap { case (minId, members) => members.map(_ -> minId) }
  }
}
