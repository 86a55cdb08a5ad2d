package graft

import graft.functions.TextFunctions
import graft.queries.{CurationQueries, SimilarityQueries}

import org.apache.spark.sql.functions._

class CurationSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("pii redaction replaces emails and phone runs, leaves prose alone") {
    val df = Seq(
      (1L, "contact john.doe+spam@example.co.uk or +1 (555) 123-4567 now"),
      (2L, "no pii here, just 42 words and the year 2024")
    ).toDF("doc_id", "text")
    val red = df.select(
      col("doc_id"),
      TextFunctions.redactPii(col("text")).as("r"),
      size(regexp_extract_all(col("text"), lit(TextFunctions.EmailRe), lit(0))).as("ne"),
      size(regexp_extract_all(col("text"), lit(TextFunctions.PhoneRe), lit(0))).as("np")
    ).collect().sortBy(_.getLong(0))
    assert(red(0).getAs[String]("r") == "contact <EMAIL> or <PHONE> now")
    assert(red(0).getAs[Int]("ne") == 1 && red(0).getAs[Int]("np") == 1)
    // short numbers and years must NOT be flagged as phones
    assert(red(1).getAs[String]("r") == "no pii here, just 42 words and the year 2024")
    assert(red(1).getAs[Int]("ne") == 0 && red(1).getAs[Int]("np") == 0)
  }

  test("pii counts reconcile with redaction: digit run inside an email is not a phantom phone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pii").toString
    Seq((1L, "reach me: 123456789@example.com", "en", "t", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = CurationQueries.piiRedact(spark, tmp).collect()(0)
    assert(r.getAs[Long]("n_emails") == 1L)
    // the 9-digit run is part of the <EMAIL> replacement — counting it as
    // a phone would contradict the redacted output, which has no <PHONE>
    assert(r.getAs[Long]("n_phones") == 0L)
  }

  test("dedup clusters: LSH pairs co-clustered, labels are component minima") {
    val pairs = SimilarityQueries.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = CurationQueries.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 500) // every document labeled, singletons included
    // both ends of every candidate edge share a cluster (transitivity is
    // what the iterative propagation adds over the raw pair list)
    pairs.foreach { case (a, b) => assert(labels(a) == labels(b), s"($a,$b) split") }
    // the label IS the minimal member of its cluster
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(cl == members.keys.min)
    }
    // docs touching no edge keep their own id
    val inEdges = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot(kv => inEdges(kv._1)).foreach { case (d, c) => assert(d == c) }
  }

  test("dedup skew stress: one pathological mega-cluster converges in rounds ~ diameter, not size") {
    // the shape a collapsed LSH threshold produces: 200 byte-identical
    // docs (a full candidate CLIQUE — every band buckets them together)
    // plus 100 genuine singletons. Label propagation rounds track
    // component DIAMETER (1 for a clique), so the maxRounds backstop
    // must never be approached no matter how large the cluster is.
    val mega = (0L until 200L).map(i =>
      (i, "the exact same boilerplate sentence repeated across mirror sites again and again"))
    // fully token-disjoint texts: no shared shingles, so no candidate
    // pairs among the singletons by construction
    val singles = (1000L until 1100L).map(i =>
      (i, (1 to 8).map(j => s"d${i}w$j").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_skew").toString
    (mega ++ singles).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // cap 0: the clique goes through the distributed loop, whose round
    // bound this pins (under the cap it is solved on the driver, 0 rounds)
    val (labels, rounds) = CurationQueries.withSliverCap(0L) {
      CurationQueries.dedupClustersWithRounds(spark, tmp)
    }
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 300)
    // the whole mega-cluster collapses onto doc 0
    (0L until 200L).foreach(i => assert(got(i) == 0L, s"doc $i not in mega-cluster"))
    // singletons keep their own id
    (1000L until 1100L).foreach(i => assert(got(i) == i, s"doc $i wrongly clustered"))
    // the point: a 200-doc clique is ONE round of propagation plus the
    // convergence-check round — nowhere near the 1000-round backstop
    assert(rounds <= 3, s"mega-cluster took $rounds rounds; propagation must scale with diameter")
  }

  test("LP loop: lazy checkpoint fuses materialization into the convergence count (one job per round)") {
    // round 18: each propagation round used to pay TWO jobs — an eager
    // localCheckpoint materialization, then the convergence count reading
    // the checkpointed blocks. The checkpoint is now LAZY, so the count IS
    // the materializing action and a round is exactly ONE job. Pin the job
    // budget: 2 setup checkpoints (adj, seed labels) + 1 per round. AQE
    // and auto-broadcast are disabled inside the pin because each splits
    // one query into extra jobs (one per shuffle stage / one per
    // broadcast build), which would make the count nondeterministic here.
    // Cap 0 keeps this graph on the distributed loop (under the cap it
    // is solved on the driver — pinned separately below).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val nodes = (0L to 12L).toDF("node_id")
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      sc.setJobGroup("lp_job_pin", "LP loop job-count pin", interruptOnCancel = false)
      val (labels, rounds) = CurationQueries.withSliverCap(0L) {
        CurationQueries.minLabelComponents(edges, nodes)
      }
      sc.clearJobGroup()
      val expected = 2 + rounds
      // the status tracker is fed asynchronously off the listener bus
      var jobs = sc.statusTracker.getJobIdsForGroup("lp_job_pin").length
      var waited = 0
      while (jobs < expected && waited < 5000) {
        Thread.sleep(100); waited += 100
        jobs = sc.statusTracker.getJobIdsForGroup("lp_job_pin").length
      }
      assert(jobs == expected,
        s"expected 2 setup jobs + 1 per round = $expected, got $jobs for $rounds rounds")
      // and the fused loop still converges to the right labels
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got(3L) == 0L && got(11L) == 10L && got(12L) == 12L)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj)
    }
  }

  test("LP driver path: under the cap, union-find on the driver in at most 2 jobs and 0 rounds") {
    // the edge-row count that materializes the edge checkpoint is under
    // the cap, so one more job fetches the edge list and the components
    // are solved on the driver: no seed-label job, no propagation round.
    // AQE and auto-broadcast off as in the loop pin above.
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (3L, 2L), (7L, 7L))
    val edges = pairs.toDF("a", "b")
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      sc.setJobGroup("lp_driver_pin", "LP driver-path job-count pin", interruptOnCancel = false)
      val (sliver, nLab, rounds) = CurationQueries.minLabelSliver(edges)
      sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup("lp_driver_pin").length
      assert(jobs <= 2, s"driver path ran $jobs jobs inside minLabelSliver")
      assert(rounds == 0)
      val endpoints = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      assert(nLab == endpoints.size.toLong)
      val got = sliver.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == PipelineQueriesSpec.componentMinRef(endpoints, pairs))
      // the sliver keeps the loop's schema (names, types, nullability)
      val loopSchema = CurationQueries.withSliverCap(0L) {
        CurationQueries.minLabelSliver(edges)._1.schema
      }
      assert(sliver.schema == loopSchema)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj)
    }
  }

  test("LP property: driver union-find, cap-0 loop and the reference agree on random graphs") {
    // each graph: disjoint chains (up to 64 nodes), stars and cliques on
    // shuffled ids (so a component's minimum sits anywhere in it), plus
    // edges repeated and reversed, and self-loops — on component nodes
    // and on otherwise isolated nodes. Ids are non-nullable or nullable
    // Long in turn; both paths must keep the edge frame's schema.
    def graph(rnd: scala.util.Random, withLongChain: Boolean): Seq[(Long, Long)] = {
      val perm = rnd.shuffle((0L until 1000L).toVector)
      var next = 0
      def fresh(k: Int): Vector[Long] = { val s = perm.slice(next, next + k); next += k; s }
      def chain(k: Int) = fresh(k).sliding(2).map(p => (p(0), p(1))).toSeq
      def star(k: Int) = { val v = fresh(k); v.tail.map(l => if (rnd.nextBoolean()) (v.head, l) else (l, v.head)) }
      def clique(k: Int) = { val v = fresh(k); v.combinations(2).map(p => (p(0), p(1))).toSeq }
      val base = (if (withLongChain) chain(64) else chain(2 + rnd.nextInt(63))) ++
        star(2 + rnd.nextInt(20)) ++ clique(2 + rnd.nextInt(7)) ++
        Seq.fill(rnd.nextInt(3))(rnd.nextInt(3) match {
          case 0 => chain(2 + rnd.nextInt(63))
          case 1 => star(2 + rnd.nextInt(20))
          case _ => clique(2 + rnd.nextInt(7))
        }).flatten
      val extras = base.filter(_ => rnd.nextInt(4) == 0).map(_.swap) ++
        base.filter(_ => rnd.nextInt(5) == 0) ++
        base.filter(_ => rnd.nextInt(6) == 0).map(e => (e._1, e._1)) ++
        fresh(1 + rnd.nextInt(2)).map(v => (v, v))
      rnd.shuffle(base ++ extras)
    }
    (0 until 6).foreach { i =>
      val pairs = graph(new scala.util.Random(4100L + i), withLongChain = i == 0)
      val raw = pairs.toDF("a", "b")
      val edges =
        if (i % 2 == 0) raw
        else raw.select(when(col("a") >= 0, col("a")).as("a"), when(col("b") >= 0, col("b")).as("b"))
      val endpoints = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val want = PipelineQueriesSpec.componentMinRef(endpoints, pairs)
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val (drv, nDrv, rDrv) = CurationQueries.minLabelSliver(edges)
      val (lp, nLp, rLp) = CurationQueries.withSliverCap(0L)(CurationQueries.minLabelSliver(edges))
      assert(rDrv == 0 && rLp > 0, s"graph $i: driver $rDrv rounds, loop $rLp")
      assert(nDrv == endpoints.size.toLong && nLp == endpoints.size.toLong, s"graph $i")
      assert(labels(drv) == want, s"graph $i: driver union-find diverged from the reference")
      assert(labels(lp) == want, s"graph $i: cap-0 loop diverged from the reference")
      assert(drv.schema == lp.schema, s"graph $i: ${drv.schema} vs ${lp.schema}")
    }
    // a null endpoint never joins in the loop and keeps a null label
    // there; the driver path hands such a graph to the loop
    val withNull = Seq((Some(1L), Some(2L)), (Some(2L), None), (Some(5L), Some(4L))).toDF("a", "b")
    def rows(t: (org.apache.spark.sql.DataFrame, Long, Int)) =
      (t._1.collect().map(_.toString).sorted.toSeq, t._2)
    assert(rows(CurationQueries.minLabelSliver(withNull)) ==
      rows(CurationQueries.withSliverCap(0L)(CurationQueries.minLabelSliver(withNull))))
  }

  test("sliver cap 0 == default cap: every LP-consumer query returns identical rows at sf0.01") {
    // cap 0 drives the distributed loop AND every consumer's over-cap
    // fallback (the 100 TB path: full-frame label join, no broadcast);
    // the default cap drives the driver union-find and the sliver
    // splits. Both must give identical rows under the same column names
    // and types (nullability may differ: cluster_split's sliver census
    // sums where the full-frame census counts).
    val d01 = s"${new java.io.File(dir).getParent}/sf0.01"
    val names = Seq("dedup_clusters", "dedup_stats", "dedup_keep_best", "cluster_split",
      "semantic_clusters", "semantic_keep", "curation_manifest")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      (df.schema.map(f => (f.name, f.dataType)), df.collect().map(_.toString).sorted.toSeq)
    def run(cap: Option[Long]): Map[String, Any] = {
      def built[T](f: => T): T = cap.fold(f)(CurationQueries.withSliverCap(_)(f))
      // the full-frame flag cascade also keeps its pass-3 scratch column
      // `best`, which no output of the run reads
      names.map(n => n -> sortedRows(built(SparkEntry.queries(n)(spark, d01)))).toMap +
        ("curateRun flags" ->
          sortedRows(built(CurationQueries.curationFlags(spark, d01)).drop("best")))
    }
    val (dflt, over) = (run(None), run(Some(0L)))
    (names :+ "curateRun flags").foreach(n => assert(dflt(n) == over(n), s"$n differs at cap 0"))
  }

  test("stratified sample is deterministic and near the 10% rate") {
    val d01 = "/root/testdata/sf0.01"
    val s1 = CurationQueries.sampleStratified(spark, d01).collect().map(_.getLong(0)).toSet
    val s2 = CurationQueries.sampleStratified(spark, d01).collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // seedless determinism — same rows on every run/engine
    assert(s1.size > 20 && s1.size < 90, s"10% of 500 expected, got ${s1.size}")
  }

  test("weighted_sample: matches driver-side DLT priority sampling exactly") {
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), math.max(r.getLong(1), 1L)))
    val pri = docs.map { case (id, w) =>
      (id, w, (w * 4294967296L) / (h32(id.toString) + 1L))
    }
    val sorted = pri.sortBy { case (id, _, p) => (-p, id) }
    val k = 100
    val tau = if (sorted.length <= k) 0L else sorted(k)._3
    val expect = sorted.take(k)
      .map { case (id, w, p) => (id, w, p, math.max(w, tau)) }.toSet
    val got = CurationQueries.weightedSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
    assert(got.size == math.min(k, docs.length))
    // DLT invariants: every kept priority clears τ; ŵ ≥ w always
    got.foreach { case (_, w, p, ew) =>
      assert(p >= tau); assert(ew >= w)
    }
  }

  test("embedding quantization: midpoint dequantization error is bounded by scale/2") {
    val q = CurationQueries.embedQuantize(spark, dir)
    val e = graft.sources.Tables.embeddings(spark, dir)
      .withColumn("xd", transform(col("embedding"), x => x.cast("double")))
      .select(col("vec_id"),
        ((array_max(col("xd")) - array_min(col("xd"))) / lit(255.0)).as("scale"))
    val joined = q.join(e, "vec_id")
      .select(col("vec_id"), col("max_err"), col("scale"), col("n_dims"), col("q_sum"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (err, scale) = (r.getAs[Double]("max_err"), r.getAs[Double]("scale"))
      assert(err <= scale * 0.5 * 1.0000001, s"vec ${r.getLong(0)}: err $err > scale/2 ${scale / 2}")
      assert(r.getAs[Long]("q_sum") >= 0 && r.getAs[Long]("q_sum") <= 255L * r.getAs[Long]("n_dims"))
    }
  }

  test("pack_sequences: contiguous offsets per shard, bins cut at the 512-token budget") {
    val rows = CurationQueries.packSequences(spark, dir).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("start_tok"), r.getAs[Long]("bin")))
    assert(rows.length == 500)
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._2)
      // offsets are exactly the running sum of predecessors, no gaps
      var expect = 0L
      sorted.foreach { case (_, id, nTok, start, bin) =>
        assert(start == expect, s"doc $id: start $start != running sum $expect")
        assert(bin == start / 512, s"doc $id: bin $bin != ${start / 512}")
        expect += nTok
      }
    }
    // packing must actually fill multiple bins at this corpus size
    assert(rows.map(_._5).distinct.length > 1)
  }

  test("incremental dedup: fresh batch keeps only fingerprints unseen in the standing corpus") {
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.contentFingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val standing = d.filter(_._1 % 4 != 0).map(_._2).toSet
    val expected = d.filter(_._1 % 4 == 0).filterNot(x => standing(x._2)).map(_._1).toSet
    val got = CurationQueries.incrementalDedup(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // the sf0.001 fixture has no cross-snapshot duplicates, so exercise
    // the drop path on a synthetic corpus: doc 4 duplicates standing doc 1
    // (modulo normalization), doc 8 is genuinely new
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr").toString
    Seq(
      (1L, "the   Quick brown fox", "en", "a", 21L),
      (2L, "something else entirely", "en", "a", 23L),
      (4L, "The quick BROWN fox", "en", "b", 19L),
      (8L, "never seen before text", "en", "b", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val small = CurationQueries.incrementalDedup(spark, tmp)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(small == Set(8L), s"doc 4 must drop (dup of 1), doc 8 must survive; got $small")
  }

  test("source_cap keeps exactly the top-15 per source by (n_chars desc, doc_id)") {
    val got = CurationQueries.sourceCap(spark, dir).collect()
    val bySource = got.groupBy(_.getAs[String]("source"))
    assert(bySource.values.forall(_.length <= 15))
    bySource.foreach { case (s, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to rs.length).toSeq,
        s"$s ranks must be dense from 1")
    }
    // brute-force expectation straight off the raw table
    val want = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars").collect()
      .groupBy(_.getAs[String]("source")).toSeq.flatMap { case (s, rs) =>
        rs.sortBy(r => (-r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
          .take(15).map(r => (r.getAs[Long]("doc_id"), s))
      }.toSet
    assert(got.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).toSet == want)
  }

  test("token_budget_select equals the naive global greedy and never overspends") {
    val got = CurationQueries.tokenBudgetSelect(spark, dir).collect()
    // naive greedy, recomputed independently: walk (quality desc, doc_id)
    // and take docs while the running token total stays within budget
    val nTok = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextFunctions.wordTokens(col("text"))).cast("long").as("n_tok"))
    val joined = graft.queries.TextQueries.qualityScore(spark, dir)
      .join(nTok, "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"), r.getAs[Long]("n_tok")))
    val budget = math.floor(joined.map(_._3).sum.toDouble * 0.4).toLong
    // cum is monotone, so "keep while cum <= budget" IS the greedy prefix
    var cum = 0L
    val want = scala.collection.mutable.Map[Long, Long]()
    joined.sortBy { case (id, q, _) => (-q, id) }.foreach { case (id, _, t) =>
      cum += t
      if (cum <= budget) want(id) = cum
    }
    assert(got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
      == want.toMap)
    assert(got.forall(_.getAs[Long]("cum_tokens") <= budget))
  }

  test("mix_sample: over-represented sources down-sample, small sources pass whole") {
    // skewed synthetic corpus: "big" holds ~9x the token mass of "tiny"
    val tmp = java.nio.file.Files.createTempDirectory("graft_mix").toString
    val docs = (1L to 90L).map(i =>
      (i, s"alpha beta gamma delta epsilon token$i filler words here now", "en", "big", 50L)) ++
      (91L to 100L).map(i => (i, s"short doc $i", "en", "tiny", 12L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kept = CurationQueries.mixSample(spark, tmp).collect()
    val bySource = kept.groupBy(_.getAs[String]("source"))
    // tiny is under-represented: rate clamps at 1, every doc survives
    assert(bySource("tiny").length == 10)
    assert(bySource("tiny").forall(_.getAs[Double]("rate") == 1.0))
    // big is over-represented: rate < 1 and the sample is a strict subset
    val bigKept = bySource.getOrElse("big", Array.empty)
    assert(bigKept.length < 90 && bigKept.nonEmpty)
    val bigRate = bigKept.head.getAs[Double]("rate")
    assert(bigRate > 0.0 && bigRate < 1.0)
    // the rate is exactly the uniform-share formula
    val bigTok = 90L * 10L // 10 tokens per big doc
    val tinyTok = 10L * 3L // "short doc N" = 3 word tokens
    val expected = math.min(1.0, ((bigTok + tinyTok).toDouble / 2.0) / bigTok.toDouble)
    assert(bigRate == expected, s"rate $bigRate != $expected")
    // determinism: the same corpus yields the identical sample
    val again = CurationQueries.mixSample(spark, tmp).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(again == kept.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("sliver split == full-frame formulation: dedup_stats / dedup_keep_best / cluster_split") {
    // round 18: these consumers window/aggregate the edge-touched label
    // sliver only and derive the edge-free singletons arithmetically.
    // Pin the rewrite against the original full-label-frame shapes,
    // computed here from the oracle-pinned dedupClusters frame.
    import org.apache.spark.sql.expressions.Window
    val cl = CurationQueries.dedupClusters(spark, dir)
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))

    val refStats = cl.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1L).as("n_droppable"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gotStats = CurationQueries.dedupStats(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotStats == refStats, "dedup_stats sliver split diverged from the full-frame histogram")

    val byCluster = Window.partitionBy(col("cluster"))
    val pick = byCluster.orderBy(col("n_chars").desc, col("doc_id").asc)
    val refKeep = cl.join(docs, "doc_id")
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_docs", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keeper"), col("n_docs"),
        col("n_chars").as("keeper_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gotKeep = CurationQueries.dedupKeepBest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotKeep == refKeep, "dedup_keep_best sliver split diverged from the full-frame election")

    def splitOf(key: org.apache.spark.sql.Column) =
      when(pmod(TextFunctions.md5Hash32(key.cast("string")), lit(100L)) < 80, "train")
        .otherwise("eval")
    val tagged = cl.select(col("doc_id"), col("cluster"),
        lit("by_doc").as("method"), splitOf(col("doc_id")).as("split"))
      .unionByName(cl.select(col("doc_id"), col("cluster"),
        lit("by_cluster").as("method"), splitOf(col("cluster")).as("split")))
    val refLeaky = tagged.groupBy(col("method"), col("cluster"))
      .agg(countDistinct(col("split")).as("nsp"))
      .groupBy(col("method"))
      .agg(sum(when(col("nsp") > 1, 1L).otherwise(0L)).as("n_leaky_clusters"))
    val refSplit = tagged.groupBy(col("method"), col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cluster")).as("n_clusters"))
      .join(refLeaky, "method")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val gotSplit = CurationQueries.clusterSplit(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(gotSplit == refSplit, "cluster_split sliver census diverged from the full-frame census")
  }

  test("dedup_stats histogram reconciles with the cluster assignment") {
    val hist = CurationQueries.dedupStats(spark, dir).collect()
    val clusters = CurationQueries.dedupClusters(spark, dir).collect()
    assert(hist.map(_.getAs[Long]("n_docs")).sum == clusters.length.toLong)
    val sizes = clusters.groupBy(_.getAs[Long]("cluster")).values.map(_.length.toLong)
    hist.foreach { r =>
      val sz = r.getAs[Long]("cluster_size")
      assert(r.getAs[Long]("n_clusters") == sizes.count(_ == sz).toLong)
      assert(r.getAs[Long]("n_droppable") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_clusters"))
    }
  }

  test("corpus_profile reconciles with its member queries") {
    val prof = CurationQueries.corpusProfile(spark, dir).collect()
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    assert(prof.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // duplicate counts must agree with dedup_exact's verdicts
    val nDups = graft.queries.TextQueries.dedupExact(spark, dir)
      .filter(col("is_dup")).count()
    assert(prof.map(_.getAs[Long]("n_dups")).sum == nDups)
    // fixed-point mean quality within quantization of the true mean
    val qByDoc = graft.queries.TextQueries.qualityScore(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir).select("doc_id", "lang", "source"),
        "doc_id")
      .collect()
      .groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
    prof.foreach { r =>
      val qs = qByDoc((r.getAs[String]("lang"), r.getAs[String]("source")))
        .map(_.getAs[Double]("quality"))
      assert(math.abs(r.getAs[Double]("mean_quality") - qs.sum / qs.length) < 1.1e-6)
      assert(r.getAs[Double]("dup_rate") >= 0.0 && r.getAs[Double]("dup_rate") <= 1.0)
    }
  }

  test("tfidf: at most 3 terms per doc, scores are tf/(df+1)") {
    val rows = CurationQueries.tfidfTop(spark, dir).collect()
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length <= 3))
    rows.foreach { r =>
      assert(r.getAs[Double]("score") ==
        r.getAs[Long]("tf").toDouble / (r.getAs[Long]("df") + 1L).toDouble)
    }
  }

  test("rank_fusion: rrf recomputes from arm ranks; top-20 dense and score-ordered") {
    val rows = CurationQueries.rankFusion(spark, dir).collect()
      .sortBy(_.getAs[Long]("rk"))
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("rk")).toSeq == (1L to 20L))
    rows.foreach { r =>
      val bm = Option(r.getAs[java.lang.Long]("bm_rk")).map(_.toLong)
      val cs = Option(r.getAs[java.lang.Long]("cos_rk")).map(_.toLong)
      assert(bm.nonEmpty || cs.nonEmpty, "a fused row must come from some arm")
      bm.foreach(k => assert(k >= 1L && k <= 50L))
      cs.foreach(k => assert(k >= 1L && k <= 50L))
      // the exact RRF tree: per-arm division, fixed-order addition
      val exp = bm.map(k => 1.0 / (60.0 + k.toDouble)).getOrElse(0.0) +
        cs.map(k => 1.0 / (60.0 + k.toDouble)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == exp)
    }
    rows.sliding(2).foreach {
      case Array(hi, lo) =>
        assert(hi.getAs[Double]("rrf") >= lo.getAs[Double]("rrf"))
      case _ => ()
    }
  }

  test("bm25: top-10 per term, ranks dense and score-ordered, formula exact") {
    val rows = CurationQueries.bm25Top(spark, dir).collect()
    assert(rows.nonEmpty)
    val byTerm = rows.groupBy(_.getAs[String]("tok"))
    byTerm.foreach { case (term, rs) =>
      assert(rs.length <= 10, s"$term returned ${rs.length} docs")
      val ranked = rs.sortBy(_.getAs[Long]("rk"))
      assert(ranked.map(_.getAs[Long]("rk")).toSeq == (1L to rs.length).toSeq,
        s"$term ranks must be dense from 1")
      // rk order is score-descending (doc_id tiebreak never inverts score)
      ranked.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getAs[Double]("score") >= lo.getAs[Double]("score"))
        case _ => ()
      }
    }
    // recompute the exact Okapi expression on every row — same IEEE tree
    val dlDf = graft.sources.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.wordTokens(
          org.apache.spark.sql.functions.col("text"))).cast("long").as("dl"))
    val nDocs = dlDf.count()
    val sumDl = dlDf.agg(org.apache.spark.sql.functions.sum("dl")).collect()(0).getLong(0)
    val avgdl = sumDl.toDouble / nDocs.toDouble
    rows.foreach { r =>
      val tf = r.getAs[Long]("tf").toDouble
      val df = r.getAs[Long]("df").toDouble
      val dl = r.getAs[Long]("dl").toDouble
      val expected = (nDocs.toDouble - df + 0.5) / (df + 0.5) * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
      assert(r.getAs[Double]("score") == expected,
        s"score mismatch for ${r.getAs[String]("tok")}/${r.getAs[Long]("doc_id")}")
    }
  }

  test("dup_pagerank: every doc ranked once, isolated docs at the teleport floor, hubs above it") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.CurationQueries.dupPagerank(spark, dir).collect()
    val n = out.length.toLong
    assert(n == 500L)
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length.toLong == n)
    val floorRank = 150000L / n
    out.foreach { r =>
      val (deg, fp) = (r.getAs[Long]("deg"), r.getAs[Long]("rank_fp"))
      assert(fp >= floorRank, s"rank below the teleport floor at doc ${r.getAs[Long]("doc_id")}")
      // a doc with no near-dup edge receives teleport mass only
      if (deg == 0L) assert(fp == floorRank)
      assert(r.getAs[Double]("rank") == fp.toDouble / 1e6)
    }
    // total mass: bounded by the initial 1.0 (floor truncation and
    // dangling-mass drop only ever shrink it)
    assert(out.map(_.getAs[Long]("rank_fp")).sum <= 1000000L)
    // the graph is non-trivial on the fixture and rank separates hubs:
    // some connected doc must sit strictly above the floor
    val connected = out.filter(_.getAs[Long]("deg") > 0L)
    assert(connected.nonEmpty && connected.exists(_.getAs[Long]("rank_fp") > floorRank))
  }

  test("source_divergence: equals a driver-side chi-square replay term for term") {
    val out = CurationQueries.sourceDivergence(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val toks = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .flatMap(r => "[a-z0-9]+".r.findAllIn(
        r.getAs[String]("text").toLowerCase.trim.replaceAll("\\s+", " "))
        .map(t => (r.getAs[String]("source"), t)))
    val corpus = toks.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
    val head = corpus.sortBy { case (t, c) => (-c, t) }.take(100)
    val nn = head.map(_._2).sum
    val headSet = head.map(_._1).toSet
    val bySrcTok = toks.filter(t => headSet(t._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    toks.map(_._1).distinct.foreach { src =>
      val ns = head.map { case (t, _) => bySrcTok.getOrElse((src, t), 0L) }.sum
      val chi2fp = head.map { case (t, ct) =>
        val e = ns.toDouble * ct.toDouble / nn.toDouble
        val d = bySrcTok.getOrElse((src, t), 0L).toDouble - e
        math.floor(d * d / e * 1000000.0).toLong
      }.sum
      val r = out(src)
      assert(r.getAs[Long]("n_head_tokens") == ns, s"$src head total")
      assert(r.getAs[Long]("chi2_fp") == chi2fp, s"$src chi2")
      assert(r.getAs[Long]("df") == head.length.toLong - 1L)
    }
    assert(out.nonEmpty)
  }

  test("pca_project: histogram partitions the vectors, bins bracket their projections") {
    val d01 = "/root/testdata/sf0.001"
    val out = SimilarityQueries.pcaProject(spark, d01).collect()
    val nVec = graft.sources.Tables.embeddings(spark, d01).count()
    assert(out.map(_.getAs[Long]("cnt")).sum == nVec)
    out.foreach { r =>
      val (bin, lo, hi) = (r.getAs[Long]("bin"), r.getAs[Double]("min_s"), r.getAs[Double]("max_s"))
      assert(lo <= hi)
      // floor(s·10) = bin ⇔ s ∈ [bin/10, (bin+1)/10)
      assert(lo * 10.0 >= bin.toDouble && hi * 10.0 < bin.toDouble + 1.0)
    }
    // label marginals reconcile
    val byLabel = out.groupBy(_.getAs[Long]("label")).view.mapValues(_.map(_.getAs[Long]("cnt")).sum)
    graft.sources.Tables.embeddings(spark, d01)
      .groupBy(col("label")).count().collect().foreach { r =>
        assert(byLabel(r.getAs[Int]("label").toLong) == r.getAs[Long]("count"))
      }
    // the top PC has real spread: more than one bin occupied
    assert(out.map(_.getAs[Long]("bin")).distinct.length > 1)
  }

  test("persisted IVF index: serving equals in-session annIvf exactly and partition-prunes the postings") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    SimilarityQueries.buildIvfIndex(spark, dir, tmp)
    val served = SimilarityQueries.annIvfServe(spark, dir, tmp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = rows(served)
    val want = rows(SimilarityQueries.annIvf(spark, dir))
    assert(got == want, s"served ${got.size} rows vs in-session ${want.size}")
    assert(want.nonEmpty)
    // the scale point of the layout: the postings scan is gated by a
    // RUNTIME partition filter seeded from the broadcast query side —
    // serving reads the probed buckets' directories, not the corpus
    val p = served.queryExecution.executedPlan.treeString
    assert(p.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the postings scan:\n${p.take(4000)}")
  }

  test("persisted IVF+PQ index: serving equals in-session ivfPqAnn exactly; plan is training-free and partition-pruned; stamp reuses the build") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqidx").toString
    SimilarityQueries.buildIvfPqIndex(spark, dir, tmp)
    val served = SimilarityQueries.ivfPqAnnServe(spark, dir, tmp)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val got = rows(served)
    val want = rows(SimilarityQueries.ivfPqAnn(spark, dir))
    assert(got == want, s"served ${got.size} rows vs in-session ${want.size}")
    assert(want.nonEmpty)
    val p = served.queryExecution.executedPlan.treeString
    // postings scan gated by a RUNTIME partition filter (probed buckets
    // only), and NO training anywhere in the serving plan: the corpus
    // embeddings appear only as the pushed-down query-vector scan
    assert(p.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the postings scan:\n${p.take(4000)}")
    assert(!p.contains("collect_list(struct(cm"),
      "serving plan must not train codebooks")
    // the self-managing queries entry point: first call builds, second
    // call reuses (the postings' files untouched by the re-run)
    val dirIdx = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_ivfpq_" + dir.replaceAll("[^A-Za-z0-9._-]", "_"))
    val first = SimilarityQueries.ivfPqAnnServed(spark, dir)
    assert(rows(first) == want)
    val stamps = new java.io.File(dirIdx, "postings").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val second = SimilarityQueries.ivfPqAnnServed(spark, dir)
    assert(rows(second) == want)
    val after = new java.io.File(dirIdx, "postings").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == stamps, "a same-fixture re-run must not rebuild the index")
  }

  test("IVF index append: base files untouched byte-for-byte; append equals one-pass frozen-centroid indexing") {
    import java.nio.file.{Files, Paths}
    def md5s(root: java.io.File): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet")).map { f =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f.toPath))
        f.getPath.stripPrefix(root.getPath) -> d.map("%02x".format(_)).mkString
      }.toMap
    }
    val tmp = Files.createTempDirectory("graft_ivfapp").toString
    SimilarityQueries.buildIvfIndexBase(spark, dir, tmp)
    val before = md5s(new java.io.File(tmp, "postings"))
    SimilarityQueries.appendIvfIndex(spark, dir, tmp)
    val after = md5s(new java.io.File(tmp, "postings"))
    // every pre-append posting file survives byte-identical — the insert
    // batch writes NEW files into touched buckets, never rewrites
    before.foreach { case (p, h) =>
      assert(after.get(p).contains(h), s"base posting file rewritten: $p") }
    assert(after.size > before.size, "append added no posting files")
    // (append ≡ one-pass frozen-centroid assignment is pinned EXACTLY by
    // the ann_ivf_appended oracle, whose SQL assigns base+delta in one
    // chain against base-slice centroids)
    val servedDf = SimilarityQueries.annIvfServe(spark, dir, tmp)
    val served = servedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served.nonEmpty)
    // serving stays training-free and partition-pruned after the append
    val p = servedDf.queryExecution.executedPlan.treeString
    assert(p.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the postings scan:\n${p.take(4000)}")
    // the appended delta is actually searchable: some served neighbor
    // must come from the delta slice (vec_id % 4 == 0, and qids < 10 —
    // ids 0,4,8 are themselves delta members, so their neighbors span both)
    assert(served.exists(_._2 % 4 == 0), "no delta vector ever served")
  }

  test("IVFPQ index append: base files untouched; appended serving is training-free and partition-pruned") {
    import java.nio.file.Files
    def md5s(root: java.io.File): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet")).map { f =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f.toPath))
        f.getPath.stripPrefix(root.getPath) -> d.map("%02x".format(_)).mkString
      }.toMap
    }
    val tmp = Files.createTempDirectory("graft_ivfpqapp").toString
    SimilarityQueries.buildIvfPqIndexBase(spark, dir, tmp)
    val before = md5s(new java.io.File(tmp, "postings"))
    SimilarityQueries.appendIvfPqIndex(spark, dir, tmp)
    val after = md5s(new java.io.File(tmp, "postings"))
    before.foreach { case (p, h) =>
      assert(after.get(p).contains(h), s"base posting file rewritten: $p") }
    assert(after.size > before.size, "append added no posting files")
    // codebooks/centroids untouched by the append (frozen artifacts)
    val servedDf = SimilarityQueries.ivfPqAnnServe(spark, dir, tmp)
    val served = servedDf.collect()
    assert(served.nonEmpty)
    val delta = served.map(_.getLong(1)).filter(_ % 4 == 0)
    assert(delta.nonEmpty, "no appended (delta) vector ever served")
    val p = servedDf.queryExecution.executedPlan.treeString
    assert(p.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the postings scan:\n${p.take(4000)}")
    assert(!p.contains("collect_list(struct(cm"),
      "serving plan must not train codebooks")
  }

  test("kcore_peel: equals a driver-side peel replay; members are mutually 2-supported; fixpoint inside the cap") {
    val d01 = "/root/testdata/sf0.01" // sf0.001's dup graph has no cycles
    val pairs = SimilarityQueries.minhashLsh(spark, d01)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference replay: iterative 2-core peel to fixpoint
    var edges = (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    var rounds = 0
    var done = false
    while (!done) {
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 2).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      done = next == edges
      if (!done) { edges = next; rounds += 1 }
    }
    assert(rounds <= 8, s"fixture peel took $rounds rounds — the bounded-round contract would clip")
    val expect = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = CurationQueries.kcorePeel(spark, d01).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_deg")).toMap
    assert(got == expect, s"engine ${got.size} members vs replay ${expect.size}")
    assert(got.nonEmpty && got.values.forall(_ >= 2L))
    // chains/stars must have peeled away: survivors sit on cycles, so the
    // survivor count is strictly below the edge-touched node count
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length
    assert(got.size < touched)
  }

  test("pack_efficiency: reconciles exactly with the pack_sequences frame") {
    val pack = CurationQueries.packSequences(spark, dir).collect()
    val eff = CurationQueries.packEfficiency(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") -> r).toMap
    pack.groupBy(_.getAs[Long]("shard")).foreach { case (sh, docs) =>
      val r = eff(sh)
      assert(r.getAs[Long]("n_docs") == docs.length.toLong)
      val tot = docs.map(_.getAs[Long]("n_tok")).sum
      assert(r.getAs[Long]("total_tokens") == tot)
      val bins = docs.map(_.getAs[Long]("bin")).max + 1
      assert(r.getAs[Long]("n_bins") == bins)
      val perBin = docs.groupBy(_.getAs[Long]("bin")).values.map(_.length.toLong).max
      assert(r.getAs[Long]("max_docs_per_bin") == perBin)
      assert(r.getAs[Double]("fill_rate") == tot.toDouble / (bins * 512L).toDouble)
      // contiguous packing: every bin index up to the last is occupied
      // by at least one START or covered by a straddling predecessor —
      // fill rate can exceed 1 only via the final straddler
      assert(r.getAs[Double]("avg_docs_per_bin") > 0.0)
    }
    assert(eff.size == pack.map(_.getAs[Long]("shard")).distinct.length)
  }

  test("filter_cascade: grid partitions the corpus and marginals reconcile with the member filters") {
    val grid = CurationQueries.filterCascade(spark, dir).collect()
    // the 2^4 grid is a partition of the corpus: doc counts sum to |docs|
    assert(grid.map(_.getAs[Long]("n_docs")).sum == 500L)
    // no flag combination appears twice
    val keys = grid.map(r => (r.getAs[Boolean]("pass_len"), r.getAs[Boolean]("pass_lang"),
      r.getAs[Boolean]("pass_quality"), r.getAs[Boolean]("pass_dedup")))
    assert(keys.distinct.length == keys.length)
    // marginal reconciliation against the standalone filters
    val dedupKeepers = graft.queries.TextQueries.dedupExact(spark, dir)
      .filter(!col("is_dup")).count()
    assert(grid.filter(_.getAs[Boolean]("pass_dedup")).map(_.getAs[Long]("n_docs")).sum == dedupKeepers)
    val langAgree = graft.queries.TextQueries.langConfusion(spark, dir)
      .filter(col("lang") === col("lang_pred"))
      .agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(grid.filter(_.getAs[Boolean]("pass_lang")).map(_.getAs[Long]("n_docs")).sum == langAgree)
    val qualityPass = graft.queries.TextQueries.qualityScore(spark, dir)
      .filter(col("quality") >= 0.6).count()
    assert(grid.filter(_.getAs[Boolean]("pass_quality")).map(_.getAs[Long]("n_docs")).sum == qualityPass)
    // tokens are conserved too
    val totalTok = graft.queries.TextQueries.textStats(spark, dir)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(grid.map(_.getAs[Long]("n_tokens")).sum == totalTok)
  }

  test("curation manifest: composed stages reconcile with a driver-side recompute from the oracled primitives") {
    import graft.functions.TextFunctions._
    import graft.queries.{CurationQueries, TextQueries}
    val q = CurationQueries
    // one per-doc frame of the oracled primitive columns; all composition
    // logic below is plain Scala over the collected rows — independent of
    // the engine's stage chaining
    case class D(id: Long, source: String, lang: String, nChars: Long,
        nTok: Long, fp: String, langPred: String, quality: Double,
        textLen: Long, h: Long, shard: Long)
    val per = graft.sources.Tables.documents(spark, dir).select(
      col("doc_id").cast("long"), col("source"), col("lang"),
      col("n_chars").cast("long"),
      size(wordTokens(col("text"))).cast("long"),
      contentFingerprint(col("text")),
      langId(wordTokens(col("text"))),
      TextQueries.qualityCol(col("text"), wordTokens(col("text"))),
      length(col("text")).cast("long"),
      md5Hash32(concat(col("source"), lit(":"), col("text"))),
      pmod(md5Hash32(col("text")), lit(8L)))
      .collect().map(r => D(r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6),
        r.getDouble(7), r.getLong(8), r.getLong(9), r.getLong(10)))
    val cluster = q.dedupClusters(spark, dir).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    // composed stages, recomputed
    val s1 = per.filter(d => d.nTok >= 30 && d.textLen <= 20000 &&
      d.langPred == d.lang && d.quality >= 0.6)
    val s2 = s1.groupBy(_.fp).values.map(_.minBy(_.id)).toSeq
    val s3 = s2.groupBy(d => cluster(d.id)).values
      .map(_.minBy(d => (-d.nChars, d.id))).toSeq
    val srcTok = s3.groupBy(_.source).map { case (s, ds) => s -> ds.map(_.nTok).sum }
    val total = srcTok.values.sum.toDouble
    val nSrc = srcTok.size.toDouble
    def rate(src: String) = math.min(1.0, (total / nSrc) / srcTok(src).toDouble)
    val s4 = s3.filter(d => d.h.toDouble / 4294967296.0 < rate(d.source))
    val bins = s4.groupBy(_.shard).values.flatMap { ds =>
      val sorted = ds.toSeq.sortBy(_.id)
      sorted.zip(sorted.scanLeft(0L)(_ + _.nTok)).map {
        case (d, start) => (d.shard, start / 512)
      }
    }.toSet
    // reconcile every manifest row
    val m = q.curationManifest(spark, dir).collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    def row(s: String) = (m(s).getAs[Long]("n_in"), m(s).getAs[Long]("n_out"),
      m(s).getAs[Long]("tokens_in"), m(s).getAs[Long]("tokens_out"))
    def tok(ds: Seq[D]) = ds.map(_.nTok).sum
    assert(row("quality") == (per.length.toLong, s1.length.toLong,
      tok(per.toSeq), tok(s1.toSeq)))
    assert(row("exact_dedup") == (s1.length.toLong, s2.length.toLong,
      tok(s1.toSeq), tok(s2)))
    assert(row("neardup_keep") == (s2.length.toLong, s3.length.toLong,
      tok(s2), tok(s3)))
    assert(row("mix_sample") == (s3.length.toLong, s4.length.toLong,
      tok(s3), tok(s4)))
    assert(row("pack") == (s4.length.toLong, bins.size.toLong,
      tok(s4), tok(s4)))
    // the chain is a genuine cascade (monotone non-increasing survivors,
    // quality and mixture both bite on this fixture, nothing collapses
    // to empty)
    assert(per.length > s1.length && s3.length > s4.length)
    assert(s1.length >= s2.length && s2.length >= s3.length && s4.nonEmpty)
    // the curated output table agrees with the recomputed survivor set
    val curated = q.curatedCorpus(spark, dir).collect()
    assert(curated.map(_.getAs[Number]("doc_id").longValue).toSet ==
      s4.map(_.id).toSet)
    assert(curated.map(r => (r.getAs[Number]("shard").longValue,
      r.getAs[Number]("bin").longValue)).toSet == bins)
  }
}
