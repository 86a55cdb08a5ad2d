package graft.queries

import graft.functions.TextFunctions._
import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.queries.Ckpt._

/** Data-curation operators a training-data pipeline runs after the
  * similarity/dedup passes: near-dup CLUSTERING (the step that turns LSH
  * candidate pairs into keep/drop decisions), TF-IDF term weighting,
  * deterministic stratified sampling, PII redaction, repetition scoring,
  * and int8 embedding quantization.
  *
  * Scale notes (100 TB): everything here is scans + narrow maps + compact
  * key shuffles, except the connected components behind [[dedupClusters]]
  * ([[minLabelSliver]]), which pick their strategy from the exact
  * edge-row count: while the edge list fits under [[SliverBroadcastCap]]
  * it is fetched to the driver as primitive longs and solved there by
  * union-find (0 propagation rounds); above the cap the standard
  * iterative min-label propagation (Pregel-style) runs distributed — one
  * equijoin shuffle per round, rounds at most ~ component diameter,
  * shortened by a pointer jump. No other operator here collects rows to
  * the driver.
  */
object CurationQueries {

  /** Near-duplicate CLUSTERS from MinHash-LSH candidate pairs: connected
    * components by iterative min-label propagation. Every doc starts as
    * its own cluster id; each round every node adopts the min id among
    * itself and its neighbors; converged when no label changes. The
    * result assigns every document (singletons included) the minimal
    * doc_id of its component — the "keeper" a dedup pass would retain.
    *
    * Under [[SliverBroadcastCap]] edge rows the components are solved
    * on the driver by union-find (0 rounds, same labels); above it each
    * round is one distributed equijoin + keyed min — the shape that
    * scales to 10⁹ edges (GraphX/Pregel does exactly this), rounds
    * tracking component diameter, shortened by a pointer jump. See
    * [[minLabelSliver]]. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersWithRounds(spark, dir)._1

  /** [[dedupClusters]] generic over the document frame — the LSH
    * band-candidate → min-label-components chain over whatever scope
    * the caller passes (the streaming curation twin labels each
    * micro-batch through here, so batch and stream share the clustering
    * verbatim). */
  private[graft] def dedupClustersOf(docs: DataFrame): DataFrame = {
    val edges = SimilarityQueries.lshCandidates(
        SimilarityQueries.minhashSigsOf(docs.select(col("doc_id"), col("text"))))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = docs.select(col("doc_id").as("node_id"))
    minLabelComponents(edges, nodes)._1.withColumnRenamed("node_id", "doc_id")
  }

  /** [[dedupClusters]] plus the propagation round count it took — the
    * observable a skew stress test bounds: rounds track component
    * DIAMETER, not size, so a pathological mega-cluster (the shape a
    * collapsed LSH threshold produces) must still converge in a handful
    * of rounds, nowhere near the `maxRounds` backstop. The count is 0
    * when the edge list fits under [[SliverBroadcastCap]] and the
    * components are solved on the driver. */
  private[graft] def dedupClustersWithRounds(
      spark: SparkSession, dir: String): (DataFrame, Int) = {
    val edges = SimilarityQueries.minhashLsh(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("node_id"))
    val (labels, rounds) = minLabelComponents(edges, nodes)
    (labels.withColumnRenamed("node_id", "doc_id"), rounds)
  }

  /** Connected components over an arbitrary undirected edge list
    * `(a, b)` — the shared core behind [[dedupClusters]] (MinHash
    * near-dup graph) and [[semanticClusters]] (embedding near-dup
    * graph). Every node in `nodes(node_id)` comes back labeled with its
    * component's minimal node id (edge-free singletons label
    * themselves). The Int is the propagation round count: 0 when the
    * edge list fits under [[SliverBroadcastCap]] (driver union-find),
    * otherwise it tracks component DIAMETER (shortened by the pointer
    * jump), never size. */
  private[graft] def minLabelComponents(
      edges: DataFrame, nodes: DataFrame): (DataFrame, Int) = {
    val (labels, nLabels, rounds) = minLabelSliver(edges)
    (labelNodes(labels, nLabels, nodes), rounds)
  }

  /** Size gate for the label sliver and the edge list behind it: 10M
    * rows × ~16 B/row ≈ 160 MB — inside the guide's "a few hundred MB is
    * usually fine", far under the 8 GB cap. Under it, [[minLabelSliver]]
    * solves the components on the driver from the fetched edge list, and
    * consumers may broadcast the sliver (and split cluster-keyed work
    * into sliver + singletons); over it, the distributed loop and the
    * planner's shuffle shapes stand — a mega-sliver must never be forced
    * into driver/executor memory. */
  private[graft] def SliverBroadcastCap: Long = sliverCap.value

  private val sliverCap = new scala.util.DynamicVariable[Long](10000000L)

  /** Test seam: run `body` with [[SliverBroadcastCap]] at `cap` on this
    * thread (and threads it starts). Every size gate here reads the cap —
    * the driver union-find gate in [[minLabelSliver]], [[labelNodes]] and
    * the sliver consumers — so `withSliverCap(0)` drives the over-cap
    * (100 TB) paths on fixtures whose graphs are tiny. The gates are
    * evaluated while a query is BUILT: construct the frame inside. */
  private[graft] def withSliverCap[T](cap: Long)(body: => T): T =
    sliverCap.withValue(cap)(body)

  /** Rejoin the propagated label sliver onto the full node list:
    * edge-free singletons label themselves. The sliver is a LogicalRDD
    * after the loop — no stats — so the planner would default this
    * full-node join to sort-merge, shuffling and sorting the whole
    * corpus-side node list to meet a frame that is usually a sliver;
    * gate an explicit broadcast on the exact count [[minLabelSliver]] took. */
  private def labelNodes(
      sliver: DataFrame, nLabels: Long, nodes: DataFrame): DataFrame = {
    val labelSide = sliver.withColumnRenamed("cluster", "prop_cluster")
    val joinSide =
      if (nLabels <= SliverBroadcastCap) broadcast(labelSide) else labelSide
    nodes
      .join(joinSide, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("prop_cluster"), col("node_id")).as("cluster"))
  }

  /** Connected components restricted to EDGE-TOUCHED nodes — the shared
    * core [[minLabelComponents]] wraps. Returns the sliver
    * `(node_id, cluster)` (one row per distinct edge endpoint, labeled
    * with its component's minimal id), its row count, and the
    * propagation round count.
    *
    * Strategy (the hybrid of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014 — finish in memory once the graph
    * fits on one machine), picked from the exact edge-row count the
    * materializing action of the edge checkpoint returns:
    *  - at most [[SliverBroadcastCap]] rows: one more job fetches the edge
    *    list to the driver as primitive longs (16 B per row), union-find
    *    solves it there ([[unionFindMin]]), and the sliver comes back as
    *    an RDD-backed frame with the loop's schema — 0 rounds, labels
    *    bit-identical to the loop's fixpoint;
    *  - above it: the distributed min-label propagation loop below,
    *    rounds track component diameter (the pointer jump shortens it:
    *    ~log on chains whose ids follow the chain, 21 rounds on a 64-node
    *    chain with shuffled ids) — the only path for graphs too big for
    *    driver memory.
    *
    * Consumers whose output does not need the full label frame
    * (histograms, per-cluster elections, leak censuses) work directly on
    * the sliver and derive the edge-free singletons arithmetically —
    * every cluster containing an edge-touched node consists ONLY of
    * edge-touched nodes (labels are ids of same-component nodes), so
    * sliver clusters and singleton clusters partition the label space. */
  private[graft] def minLabelSliver(edges: DataFrame): (DataFrame, Long, Int) = {
    // localCheckpoint, not cache: each round's plan references `labels`
    // TWICE (nbrMin and the keep side), so a cache-only loop DOUBLES the
    // logical plan per round — the cached data is reused but the
    // analyzer/optimizer walk the whole 2^rounds tree, which took the
    // driver heap down on the semantic graph (deep kmeans lineage under
    // every leaf) before any executor did real work. The checkpoint
    // truncates lineage, so every round's plan is constant-sized:
    // checkpointed-adj ⋈ checkpointed-labels. The edge-frame checkpoint
    // also cuts the (possibly expensive) edge lineage once instead of
    // re-optimizing it into every round.
    // LAZY, materialized by the RDD-level count below — the very action
    // the eager form runs internally (one job), now keeping the number.
    // A Dataset count() would plan an aggregate exchange on top: one
    // more job under AQE.
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(false)
    val nAdj = adj.queryExecution.toRdd.count()
    if (nAdj <= SliverBroadcastCap) {
      driverSliver(adj, nAdj) match {
        case Some(solved) => return solved
        case None => // non-Long ids or a null endpoint: the loop labels them
      }
    }
    // Iterate ONLY over nodes that touch an edge: a node with no
    // candidate can never change labels, and on a real corpus the
    // near-dup subgraph is a sliver of the whole (the full label table
    // would pay |corpus| shuffle rows per round for nothing). Singletons
    // rejoin at the end with cluster = own id.
    // LAZY seed checkpoint: the row count below is the materializing
    // action (one job, as before — the eager form counted internally and
    // threw the number away). The count is the loop's INVARIANT label
    // cardinality (one row per edge-touched node, rows never appear or
    // vanish), captured here to size-gate the final join's strategy.
    var labels = adj.select(col("src").as("node_id")).distinct()
      .select(col("node_id"), col("node_id").as("cluster"))
      .localCheckpoint(false)
    val nLabels = labels.count()
    var changed = 1L
    var rounds = 0
    // cap >> any real near-dup component diameter — purely a runaway
    // backstop. Exceeding it must be LOUD (an unconverged exit would
    // silently split one component into several "clusters", corrupting
    // keep/drop decisions downstream), hence the throw below.
    val maxRounds = 1000
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = adj.join(labels, col("src") === col("node_id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nbr_min"))
      // ONE job per round: the checkpoint below is LAZY, so the
      // convergence count IS the materializing action — computing the
      // round's frame, caching its partitions (RDD.localCheckpoint marks
      // them MEMORY_AND_DISK) and truncating lineage at job end
      // (SparkContext.runJob → rdd.doCheckpoint), where the eager form
      // paid a separate materialization job before the count every
      // round (both `cluster` references below bind to the INPUT
      // column, pre-alias)
      val stepped = labels.join(nbrMin, col("node_id") === col("dst"), "left")
        .select(
          col("node_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("c1"),
          col("cluster").as("c0"))
      // POINTER JUMP (the pointer-doubling half of small-star/large-star):
      // after the neighbor-min hop, also take the label OF my label —
      // c2(v) = min(c1(v), c1(c1(v))). Every label is the id of a node in
      // the same component (induction: seeds label themselves; both hops
      // only adopt labels of same-component nodes), so the jump is sound,
      // labels stay monotone decreasing, and the remaining diameter
      // roughly HALVES per round: convergence in O(log diameter) rounds
      // instead of O(diameter). Measured at sf0.1: semantic graph
      // 10 → 6 rounds, MinHash graph 3 → 2; wall-clock is FLAT there
      // (each round pays one extra compact self-join, cancelling the
      // saved rounds on these shallow fixtures) — the point is the
      // round complexity at scale, where a long-chain mega-component
      // would cost its diameter in whole-graph join rounds and now
      // costs its log (when ids follow the chain: a 64-node chain on
      // shuffled ids still takes 21 rounds).
      val ptr = stepped.select(col("node_id").as("p_id"), col("c1").as("p_c"))
      val c2 = least(col("c1"), coalesce(col("p_c"), col("c1")))
      // The checkpoint leaf would carry this round's estimated size,
      // itself the product of the previous round's estimates over the
      // joins: the estimate's digit count doubled every round (~16k
      // digits at 11 rounds) until planning a shuffled 64-node chain
      // (21 rounds) ran the driver out of heap in BigInt products.
      // Dropping it leaves every round's plan, and its planning cost,
      // constant-sized.
      val next = CheckpointBridge.withoutOriginStats(
        stepped.join(ptr, col("c1") === col("p_id"), "left")
          .select(
            col("node_id"),
            c2.as("cluster"),
            (c2 < col("c0")).as("chg")
          )
          .localCheckpoint(false))
      changed = next.filter(col("chg")).count()
      labels = next.select(col("node_id"), col("cluster"))
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"minLabelComponents did not converge in $maxRounds rounds ($changed labels still moving)")
    // superseded rounds' checkpoint blocks are ContextCleaner-managed:
    // they free as their frames go unreferenced, nothing leaks per call
    (labels, nLabels, rounds)
  }

  /** Rows per slice of the driver-built sliver: 16 B/row keeps every
    * task under Spark's 1 MB large-task warning. */
  private val SliverSliceRows = 32768

  /** [[minLabelSliver]]'s under-cap path over the materialized `adj`
    * (`nAdj` rows): one job fetches the edge list — each undirected edge
    * once (`src <= dst`), as primitive longs — and union-find labels
    * every endpoint on the driver. None when the ids are not Long or an
    * endpoint is null (a null never joins in the loop, so it keeps a
    * null label there; the edge producers emit `a < b` pairs, which
    * exclude nulls). */
  private def driverSliver(adj: DataFrame, nAdj: Long): Option[(DataFrame, Long, Int)] = {
    val idField = adj.schema("src")
    if (idField.dataType != LongType) return None
    val parts =
      if (nAdj == 0) Array.empty[Option[Array[Long]]]
      else adj.queryExecution.toRdd.mapPartitions { it =>
        val buf = Array.newBuilder[Long]
        var clean = true
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) clean = false
          else if (r.getLong(0) <= r.getLong(1)) { buf += r.getLong(0); buf += r.getLong(1) }
        }
        Iterator(Option.when(clean)(buf.result()))
      }.collect()
    if (!parts.forall(_.isDefined)) return None
    val (ids, labels) = unionFindMin(Array.concat(parts.flatten.toSeq: _*))
    val chunks = (0 until ids.length by SliverSliceRows).map(from =>
      (ids.slice(from, from + SliverSliceRows), labels.slice(from, from + SliverSliceRows)))
    val rows = adj.sparkSession.sparkContext
      .parallelize(chunks, math.max(1, chunks.size))
      .flatMap { case (is, ls) => is.indices.iterator.map(i => Row(is(i), ls(i))) }
    val schema = StructType(Seq(idField.copy(name = "node_id"), idField.copy(name = "cluster")))
    Some((adj.sparkSession.createDataFrame(rows, schema), ids.length.toLong, 0))
  }

  /** Connected components of the edge list `pairs` = (a0, b0, a1, b1, …):
    * the sorted distinct endpoints and, for each, its component's minimal
    * id. Union-find over the endpoints' sorted positions, always rooting
    * at the smaller position (so every root is its component's minimum)
    * with path halving — the exact fixpoint of the min-label loop. */
  private def unionFindMin(pairs: Array[Long]): (Array[Long], Array[Long]) = {
    val sorted = pairs.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    i = 0
    while (i < pairs.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, pairs(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, pairs(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    (ids, Array.tabulate(n)(j => ids(find(j))))
  }

  /** SemDeDup's clustering step: connected components over the
    * [[SimilarityQueries.semanticNearDup]] edge set (cosine ≥ 0.3 inside
    * a trained k-means bucket) — the embedding-side twin of
    * [[dedupClusters]], sharing [[minLabelComponents]] verbatim. Every
    * vector (singletons included) maps to its component's minimal
    * vec_id.
    *
    * Scale (100 TB): edges are bucket-bounded (never vector×vector);
    * each propagation round is one equijoin + keyed min restricted to
    * the edge-touched subgraph; rounds ≈ component diameter. */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = SimilarityQueries.semanticNearDup(spark, dir)
      .select(col("va").as("a"), col("vb").as("b"))
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("node_id"))
    minLabelComponents(edges, nodes)._1
      .withColumnRenamed("node_id", "vec_id")
  }

  /** SemDeDup's keeper election: one representative per semantic
    * component — the vector FARTHEST from its trained centroid (lowest
    * assignment cosine, vec_id tie-break), which is SemDeDup's own
    * heuristic (Abbas et al. 2023: keeping the outlier of a duplicate
    * cluster preserves the most information; keeping the medoid keeps
    * the most redundant point). Emits the keep-list with component size
    * and the keeper's centroid cosine.
    *
    * Exactness: the assignment cosine is the round-2 trained `ccos`
    * already proven bit-exact by `kmeans_train2`; the pick is a
    * deterministic (cos asc, vec_id) window.
    *
    * Scale: one vec_id equijoin of labels onto the assignment frame,
    * then a component-keyed window over LSH-bounded components — the
    * [[dedupKeepBest]] shape on the embedding side. */
  def semanticKeep(spark: SparkSession, dir: String): DataFrame = {
    // ONE trained assignment feeds both the edge set (via
    // semanticNearDupFrom) and the keeper scores: the standalone form
    // ran the whole seed→Lloyd→assign chain twice (once inside
    // semanticClusters' edges, once for `scored`) — the shared frame is
    // the same deterministic chain, so every value is bit-identical.
    val assigned = SimilarityQueries.kmeansTrain(spark, dir, rounds = 2)
      .ckpt()
    val edges = SimilarityQueries.semanticNearDupFrom(assigned)
      .select(col("va").as("a"), col("vb").as("b"))
    val (sliver, nLab, _) = minLabelSliver(edges)
    val scored = assigned.select(col("vec_id"), col("cos"))
    val byCluster = Window.partitionBy(col("cluster"))
    val pick = byCluster.orderBy(col("cos").asc, col("vec_id").asc)
    def electFrom(labeled: DataFrame): DataFrame = labeled
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_vecs", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("vec_id").as("keeper"),
        col("n_vecs"), col("cos").as("keeper_cos"))
    if (nLab <= SliverBroadcastCap) {
      // Same sliver split as [[dedupKeepBest]]: the election window runs
      // over edge-touched vectors only; an edge-free vector is its own
      // component's keeper (rn = 1, n_vecs = 1, keeper_cos = own cos).
      // The label attach becomes a broadcast probe of the checkpointed
      // assignment instead of a vec_id shuffle join against a second
      // embeddings scan (every edge endpoint comes FROM `assigned`, so
      // scored ⋈ sliver and scored ∖ sliver partition the output).
      val sl = broadcast(
        sliver.select(col("node_id").as("vec_id"), col("cluster")))
      electFrom(scored.join(sl, Seq("vec_id")))
        .unionByName(scored.join(sl, Seq("vec_id"), "left_anti")
          .select(col("vec_id").as("cluster"), col("vec_id").as("keeper"),
            lit(1L).as("n_vecs"), col("cos").as("keeper_cos")))
    } else {
      val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("node_id"))
      val clusters = labelNodes(sliver, nLab, nodes)
        .withColumnRenamed("node_id", "vec_id")
      electFrom(clusters.join(scored, "vec_id"))
    }
  }

  /** Keeper election per near-dup cluster: the curation decision that
    * follows [[dedupClusters]] — keep exactly one document per connected
    * component, chosen by a deterministic quality rule (longest text,
    * doc_id tie-break), and record the cluster size the decision covered.
    *
    * Scale (100 TB): one doc_id equijoin onto the cluster labels, then a
    * cluster-keyed window. Cluster sizes are bounded by LSH component
    * sizes (shallow, small), so no window partition is skewed; the output
    * is one row per cluster — the keep-list a downstream filter
    * broadcast-joins against. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val edges = SimilarityQueries.minhashLsh(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val (sliver, nLab, _) = minLabelSliver(edges)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val byCluster = Window.partitionBy(col("cluster"))
    val pick = byCluster.orderBy(col("n_chars").desc, col("doc_id").asc)
    def electFrom(labeled: DataFrame): DataFrame = labeled
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_docs", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keeper"),
        col("n_docs"), col("n_chars").as("keeper_chars"))
    if (nLab <= SliverBroadcastCap) {
      // The election window runs over the edge-touched sliver ONLY: an
      // edge-free singleton IS its cluster's sole member, so its keeper
      // row is itself (rn = 1, n_docs = 1) — the corpus mass never
      // crosses a cluster-keyed exchange, and the label attach is a
      // broadcast probe instead of the former full doc_id sort-merge
      // self-join of documents (§2.4: remove shuffles outright).
      val sl = broadcast(sliver
        .select(col("node_id").as("doc_id"), col("cluster").as("prop_cluster")))
      electFrom(docs.join(sl, Seq("doc_id"))
          .withColumnRenamed("prop_cluster", "cluster"))
        .unionByName(docs.join(sl, Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("cluster"), col("doc_id").as("keeper"),
            lit(1L).as("n_docs"), col("n_chars").as("keeper_chars")))
    } else {
      // mega-sliver: never broadcast — the planner's shuffle shapes stand
      val clusters = labelNodes(sliver, nLab,
          Tables.documents(spark, dir).select(col("doc_id").as("node_id")))
        .withColumnRenamed("node_id", "doc_id")
      electFrom(clusters.join(docs, "doc_id"))
    }
  }

  /** Dedup run report: the cluster-SIZE histogram over the connected
    * components — how many singletons, pairs, triples … the near-dup
    * pass found, plus the documents covered and droppable at each size.
    * The one-page summary a curation run logs before anyone trusts its
    * keep/drop decisions (a sudden mass at high sizes means the LSH
    * threshold collapsed; all-singletons means it found nothing).
    *
    * Scale: two keyed aggregations after [[dedupClusters]] — cluster →
    * size (compact ids), then size → counts (≤ max-component-size
    * groups). */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val edges = SimilarityQueries.minhashLsh(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val (sliver, nLab, _) = minLabelSliver(edges)
    def histFrom(cl: DataFrame): DataFrame = cl
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1L).as("n_droppable"))
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("node_id"))
    if (nLab <= SliverBroadcastCap) {
      // Histogram the edge-touched sliver only; the edge-free singletons
      // are ALL the size-1 mass and their count is |corpus| − nLab — one
      // map-side count() of the node scan, no cluster-keyed shuffle of
      // the corpus. The two sides are provably disjoint histograms, so a
      // plain union suffices: every edge producer feeding this loop
      // ([[SimilarityQueries.lshCandidates]], `semanticNearDupFrom`)
      // emits strictly a < b pairs — no self-loops — so every sliver
      // cluster has ≥ 2 members and never lands in the size-1 bucket.
      val singles = nodes.agg((count(lit(1)) - lit(nLab)).as("n1"))
        .filter(col("n1") > 0)
        .select(lit(1L).as("cluster_size"), col("n1").as("n_clusters"),
          col("n1").as("n_docs"), lit(0L).as("n_droppable"))
      histFrom(sliver).unionByName(singles)
    } else histFrom(
      labelNodes(sliver, nLab, nodes).withColumnRenamed("node_id", "doc_id"))
  }

  /** TF-IDF-style term weighting, top 3 terms per document. The score is
    * tf/(df+1) — a document-frequency-damped term frequency. Rational
    * arithmetic by construction (integer ÷ integer through double), so
    * the oracle reproduces it bit-for-bit; a log-based idf would hang the
    * comparison on libm ULP differences between engines. The df side is
    * vocabulary-sized (≪ corpus) — broadcast-able at any scale. */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordTokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok").asc)
    tf.join(dfreq, "tok")
      .withColumn("score", col("tf").cast("double") / (col("df") + 1L).cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("score"), col("rk").cast("long").as("rk"))
  }

  /** BM25 retrieval scoring for a fixed query-term set, top 10 docs per
    * term — the relevance ranking a curation pipeline uses to mine
    * topic-targeted training data from a corpus. Standard Okapi shape
    * (k1 = 1.2, b = 0.75) with one deliberate change: the idf factor is
    * the RAW odds ratio (N − df + 0.5)/(df + 0.5), not its log. The log
    * is monotonic, so per-term rankings are identical, and dropping it
    * keeps every operation rational-or-IEEE-exact (+, −, ×, ÷ only) —
    * the oracle reproduces scores bit-for-bit where ln() would hang the
    * comparison on libm ULP differences (same rule as [[tfidfTop]]).
    *
    * Scale: tf is one (doc, term)-keyed aggregate over the exploded
    * token stream pre-filtered to the query terms (the filter prunes
    * the explode's output to |terms| × docs rows before any shuffle).
    * The doc length rides the tf grouping key (constant per doc —
    * cardinality unchanged), so no per-doc length join is needed;
    * `explode_outer` keeps Catalyst from inferring a `size(ws) > 0`
    * filter that would push the whole tokenizer into the scan as a
    * second evaluation (the term filter drops the empty-array NULL row
    * anyway). df and the corpus stats are term-count-sized and one-row
    * — both broadcast. Top-k per term prunes via WindowGroupLimit. */
  def bm25Top(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("tok")).orderBy(col("score").desc, col("doc_id").asc)
    bm25Scored(spark, dir, Seq("join", "vector", "stream", "window", "spark"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("tok"), col("doc_id"), col("tf"), col("df"), col("dl"),
        col("score"), col("rk").cast("long").as("rk"))
  }

  /** [[bm25Top]]'s scoring pass without the top-k: every (term, doc)
    * pair with a non-zero tf, BM25-scored. The per-term df and corpus
    * stats are computed over exactly the supplied `terms` — scores for
    * a term are identical whatever other terms ride along, so
    * [[rankFusion]]'s single-term arm reuses this unchanged. */
  private def bm25Scored(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), wordTokens(col("text")).as("ws"))
    val stats = toks.select(size(col("ws")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode_outer(col("ws")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // the operation tree below must match the oracle SQL shape exactly:
    // every intermediate is a single IEEE op on deterministic inputs
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("score",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
  }

  /** Reciprocal-rank fusion — the hybrid-retrieval ranking that merges a
    * lexical arm (BM25 for the term "vector", [[bm25Scored]]) with a
    * semantic arm (cosine to query vector 0,
    * [[SimilarityQueries.cosineToQuery]]): each arm contributes
    * 1/(60 + rank) for its top 50, a doc absent from an arm contributes
    * 0, and the fused top 20 is the answer set a RAG pipeline would
    * retrieve. RRF (k = 60) needs no score normalization across arms —
    * exactly why production hybrid search uses it. Every fused score is
    * one-or-two divisions plus ONE fixed-order addition of two doubles —
    * oracle-exact; ranks tie-break on id.
    *
    * Scale (100 TB): each arm prunes to its top 50 BEFORE the fuse via
    * TakeOrderedAndProject (distributed top-k, no global sort, no
    * corpus-sized window); the full-outer fuse joins two ≤50-row frames
    * and the final rank runs on ≤100 rows — nothing corpus-sized crosses
    * the fusion boundary. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame = {
    val byScore = Seq(col("score").desc, col("doc_id").asc)
    val lex = bm25Scored(spark, dir, Seq("vector"))
      .orderBy(byScore: _*).limit(50)
      .withColumn("bm_rk", row_number().over(Window.orderBy(byScore: _*)).cast("long"))
      .select(col("doc_id"), col("bm_rk"))
    val byCos = Seq(col("cos").desc, col("vec_id").asc)
    val sem = SimilarityQueries.cosineToQuery(spark, dir, qid = 0L)
      .orderBy(byCos: _*).limit(50)
      .withColumn("cos_rk", row_number().over(Window.orderBy(byCos: _*)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("cos_rk"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("bm_rk").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("cos_rk").cast("double")), lit(0.0)))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("doc_id"), col("bm_rk"), col("cos_rk"), col("rrf"), col("rk"))
  }

  /** The distributed top-(k+1) priority frame — split out so PlanSpec can
    * assert the TakeOrderedAndProject shape (the checkpoint in
    * [[weightedSample]] hides it behind an RDD scan). */
  private[graft] def weightedSampleTop(
      spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("weight"))
      .withColumn("u", md5Hash32(col("doc_id").cast("string")) + lit(1L))
      .withColumn("priority", expr("(weight * 4294967296) div u"))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(k + 1)

  /** Deterministic weighted sampling WITHOUT replacement — priority
    * sampling (Duffield–Lund–Thorup, JACM 2007): item i gets priority
    * qᵢ = wᵢ/uᵢ with uᵢ uniform on (0,1]; the k highest-priority items
    * form the sample, and τ = the (k+1)-th priority makes
    * ŵᵢ = max(wᵢ, τ) an unbiased subset-sum estimator. The curation
    * use: draw a fixed-size training subset where long documents are
    * proportionally more likely, with weights recoverable for unbiased
    * corpus statistics.
    *
    * Exactness: uᵢ is the md5-derived 32-bit uniform (uᵢ = (h+1)/2³²),
    * so qᵢ restates as the pure-BIGINT `floor(w·2³²/(h+1))` — integer
    * arithmetic both engines reproduce bit-for-bit; no pow/ln, no float
    * anywhere. τ handling: with ≤ k population rows there is no (k+1)-th
    * priority and τ = 0 (every item kept, ŵ = w).
    *
    * Scale (100 TB): priorities are a narrow map over the scan;
    * `orderBy.limit(k+1)` plans as TakeOrderedAndProject — per-partition
    * top-(k+1) heaps merged on the driver, NO global sort (PlanSpec
    * asserts it); the only window runs on the ≤ k+1 row frame. The
    * k+1-row frame is tiny — localCheckpoint stops the corpus scan
    * from re-running for the τ aggregate. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val top = weightedSampleTop(spark, dir, k).ckpt()
    val stats = top.agg(count(lit(1)).as("cnt"), min(col("priority")).as("minp"))
    // bounded frame: ≤ k+1 rows — the unpartitioned window is safe here
    top
      .withColumn("rn", row_number().over(
        Window.orderBy(col("priority").desc, col("doc_id").asc)))
      .filter(col("rn") <= k)
      .crossJoin(broadcast(stats)) // 1-row build side: free
      .withColumn("tau", when(col("cnt") <= k, lit(0L)).otherwise(col("minp")))
      .select(col("doc_id"), col("weight"), col("priority"),
        greatest(col("weight"), col("tau")).as("est_weight"))
  }

  /** Deterministic stratified Bernoulli sample: keep a doc iff its md5
    * bucket (over lang ⊕ text) falls under the per-stratum rate — the
    * portable, seedless sampling every reproducible pipeline needs (same
    * rows selected on any engine, any partitioning, any day). 10% here. */
  /** Leakage-free train/eval splitting — assign whole DEDUP CLUSTERS,
    * not documents, to splits: near-duplicates of a training document
    * must never land in eval, or the eval score measures memorization
    * of paraphrases ([[graft.queries.AnalyticsQueries.timeSplit]]
    * measures the temporal variant of the same leak). Both methods run
    * side by side on the same 80/20 md5 split so the report QUANTIFIES
    * the leak the naive method ships: per (method, split) the doc and
    * cluster census, per method the count of straddling (leaky)
    * clusters — by construction 0 for `by_cluster`, positive for
    * `by_doc` whenever any multi-doc cluster exists.
    *
    * Scale: the cluster frame is compact (doc_id, cluster) — the
    * label-propagation output — checkpointed once; every aggregate
    * after is a compact-key fold. */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(key: Column): Column =
      when(pmod(md5Hash32(key.cast("string")), lit(100L)) < 80, "train")
        .otherwise("eval")
    def taggedFrom(cl: DataFrame): DataFrame =
      cl.select(col("doc_id"), col("cluster"),
          lit("by_doc").as("method"), splitOf(col("doc_id")).as("split"))
        .unionByName(cl.select(col("doc_id"), col("cluster"),
          lit("by_cluster").as("method"), splitOf(col("cluster")).as("split")))
    val edges = SimilarityQueries.minhashLsh(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val (sliver, nLab, _) = minLabelSliver(edges)
    if (nLab <= SliverBroadcastCap) {
      // Census over the edge-touched sliver only; the edge-free
      // singletons are derived arithmetically, with NO cluster-keyed
      // shuffle (let alone countDistinct expand) of the corpus:
      //  - a singleton's cluster is itself, so it contributes one doc
      //    AND one distinct cluster to the same split under BOTH methods
      //    (splitOf(cluster) == splitOf(doc_id) when cluster == doc_id),
      //    and its nsp is always 1 — never leaky;
      //  - sliver labels are ids of edge-touched nodes, so they never
      //    collide with singleton ids: per-(method, split) distinct
      //    clusters = sliver countDistinct + singleton count.
      val sl = sliver.select(col("node_id").as("doc_id"), col("cluster"))
      // One pass over the tagged sliver computes EVERYTHING: per
      // (method, cluster) the split occupancy (nt, ne) — a plain
      // conditional sum, no countDistinct Expand (splits are exactly
      // {train, eval}, so "straddles both" ≡ nt>0 && ne>0 and
      // "distinct clusters in split s" ≡ Σ (count_s > 0)) — then per
      // method the census and the leak count together, exploded to the
      // long (method, split) format without another shuffle.
      val g1 = taggedFrom(sl).groupBy(col("method"), col("cluster"))
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
          sum(when(col("split") === "eval", 1L).otherwise(0L)).as("ne"))
      val census = g1.groupBy(col("method")).agg(
          sum(col("nt")).as("dt"),
          sum(when(col("nt") > 0, 1L).otherwise(0L)).as("ct"),
          sum(col("ne")).as("de"),
          sum(when(col("ne") > 0, 1L).otherwise(0L)).as("ce"),
          sum(when(col("nt") > 0 && col("ne") > 0, 1L).otherwise(0L)).as("lk"))
        .select(col("method"),
          explode(array(
            struct(lit("train").as("split"), col("dt").as("nd"), col("ct").as("nc")),
            struct(lit("eval").as("split"), col("de").as("nd"), col("ce").as("nc")))).as("x"),
          col("lk"))
        .select(col("method"), col("x.split").as("split"),
          col("x.nd").as("n_docs"), col("x.nc").as("n_clusters"), col("lk"))
      // one narrow corpus pass: per-split singleton counts, then one row
      // per method via explode (no join — splitOf(cluster) == splitOf(
      // doc_id) for a singleton, so both methods share the same counts;
      // a singleton contributes one doc AND one distinct cluster, never
      // a leak)
      val singleRows = Tables.documents(spark, dir).select(col("doc_id"))
        .join(broadcast(sl.select(col("doc_id"))), Seq("doc_id"), "left_anti")
        .groupBy(splitOf(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n1"))
        .select(explode(array(lit("by_doc"), lit("by_cluster"))).as("method"),
          col("split"), col("n1").as("n_docs"), col("n1").as("n_clusters"),
          lit(0L).as("lk"))
      // census emits exactly one row per (method, split) — lk sums
      // through unchanged; a singles-only group can only arise when the
      // method has no sliver rows at all, where the full-frame census
      // would also report 0 leaks. Empty (n_docs = 0) groups exist only
      // as explode filler — the full-frame census never emits them.
      census.unionByName(singleRows)
        .groupBy(col("method"), col("split"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_clusters")).as("n_clusters"),
          sum(col("lk")).as("n_leaky_clusters"))
        .filter(col("n_docs") > 0)
        .select(col("method"), col("split"), col("n_docs"), col("n_clusters"),
          col("n_leaky_clusters"))
    } else {
      // mega-sliver: the original full-frame census
      val cl = labelNodes(sliver, nLab,
          Tables.documents(spark, dir).select(col("doc_id").as("node_id")))
        .withColumnRenamed("node_id", "doc_id").ckpt()
      val tagged = taggedFrom(cl)
      val leaky = tagged.groupBy(col("method"), col("cluster"))
        .agg(countDistinct(col("split")).as("nsp"))
        .groupBy(col("method"))
        .agg(sum(when(col("nsp") > 1, 1L).otherwise(0L)).as("n_leaky_clusters"))
      tagged.groupBy(col("method"), col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("cluster")).as("n_clusters"))
        .join(broadcast(leaky), "method")
    }
  }

  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", pmod(md5Hash32(concat(col("lang"), lit(":"), col("text"))), lit(100L)))
      .filter(col("bucket") < 10)
      .select(col("doc_id"), col("lang"), col("bucket"))

  /** PII redaction profile: emails and phone-shaped digit runs replaced
    * by placeholder tags; per-doc counts plus the redacted length. The
    * patterns live in [[graft.functions.TextFunctions]] and are written
    * in the regex subset Java and RE2 share, so the oracle applies the
    * identical automaton. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    // n_phones counts on the EMAIL-REDACTED text — the same order
    // redactPii applies — so the counts reconcile with the output (a
    // digit run inside an email address is part of the <EMAIL>
    // replacement, not a phantom phone)
    val emailRedacted = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(emailRedacted, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        length(redactPii(col("text"))).cast("long").as("redacted_len")
      )
  }

  /** Repetition score: share of the document's word 3-grams taken by its
    * single most repeated 3-gram — the boilerplate/spam signal (near-1 ⇒
    * the doc is one phrase repeated). Docs under 3 tokens have no
    * shingles and drop out. */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .withColumn("ws", wordTokens(col("text")))
      .select(col("doc_id"), explode(SimilarityQueries.shingleColPublic(col("ws"))).as("sh"))
    sh.groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_shingles"), max(col("cnt")).as("max_rep"))
      .select(
        col("doc_id"), col("n_shingles"), col("max_rep"),
        (col("max_rep").cast("double") / col("n_shingles").cast("double")).as("rep_ratio")
      )
  }

  /** Sequence packing: lay documents end-to-end inside each training
    * shard and cut fixed token-budget bins (512 tokens here) — the step
    * that turns a deduped corpus into dense fixed-length training
    * sequences. Each doc's start offset is the running token count of its
    * predecessors in (shard, doc_id) order; its bin is `start DIV budget`
    * (a doc crossing the boundary belongs to the bin where it starts).
    *
    * Deterministic by construction — same shard hash, same order, same
    * bins on any engine/partitioning. Scale: one window-sort per shard;
    * shard count is the parallelism knob (real runs use O(cluster)
    * shards, so no shard's token stream outgrows one task). Integer
    * division throughout — a double cumsum would silently lose precision
    * past 2^53 total tokens. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .withColumn("shard", pmod(md5Hash32(col("text")), lit(8L)))
      .withColumn("n_tok", size(wordTokens(col("text"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("n_tok"))
      .withColumn("start_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr("start_tok DIV 512"))
  }

  /** Per-source χ² divergence from the corpus unigram distribution over
    * the top-100 vocabulary head: Σ (o − e)²/e with e the source's
    * expected count under the corpus mix — the "is this source
    * linguistically unlike the rest" read behind mixture weighting (the
    * χ² alternative to KL chosen deliberately: no cross-engine `ln`,
    * per the [[TextQueries.lmScore]] libm-ULP rule). Zero-count cells
    * contribute their full expectation, so a source missing common
    * words scores high, as it should.
    *
    * Exactness: counts are BIGINTs; each cell's IEEE term is computed
    * in one fixed operation order and quantized floor(term·10⁶) BEFORE
    * the per-source sum, so group fold order cannot perturb the
    * statistic.
    *
    * Scale (100 TB): the head is a 100-row broadcast; per-(source,
    * token) counts fold map-side; the zero-filled grid is
    * |sources|×100. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(wordTokens(col("text"))).as("tok"))
    val head = toks.groupBy(col("tok")).agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("tok").asc).limit(100)
    val st = toks.join(broadcast(head.select(col("tok"))), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("o"))
    val srcTotals = st.groupBy(col("source")).agg(sum(col("o")).as("ns"))
    val tot = head.agg(sum(col("ct")).as("nn"))
    val e = (col("ns").cast("double") * col("ct").cast("double")) /
      col("nn").cast("double")
    val d = coalesce(col("o"), lit(0L)).cast("double") - e
    srcTotals
      .crossJoin(broadcast(head)) // |sources| × 100 grid
      .crossJoin(broadcast(tot)) // one-row total
      .join(st, Seq("source", "tok"), "left")
      .withColumn("term_fp", floor(d * d / e * lit(1000000.0)).cast("long"))
      .groupBy(col("source"))
      .agg(
        max(col("ns")).as("n_head_tokens"),
        count(lit(1)).as("n_cells"),
        sum(col("term_fp")).as("chi2_fp"))
      .select(col("source"), col("n_head_tokens"),
        (col("n_cells") - 1L).as("df"),
        col("chi2_fp"),
        (col("chi2_fp").cast("double") / lit(1000000.0)).as("chi2"))
  }

  /** 2-core of the near-dup graph by iterative peeling (Matula–Beck):
    * repeatedly delete nodes with fewer than 2 surviving neighbors; what
    * remains is the graph's CYCLIC backbone — the dup families whose
    * members corroborate each other (every survivor sits on a cycle),
    * as opposed to the chains and stars LSH banding also proposes, which
    * peel away entirely. PageRank finds hubs, triangles count local
    * density; coreness is the classic third read, and the peel is the
    * standard O(rounds·m) distributed form.
    *
    * Bounded-round contract: peeling runs to fixpoint OR 8 rounds,
    * whichever first — and the DuckDB oracle unconditionally applies 8
    * peel rounds, which is the SAME function (post-fixpoint rounds are
    * no-ops; a capped run equals the oracle's round-8 state by
    * construction), so the result is oracle-exact at any scale. The
    * spec additionally proves the fixture reaches its true fixpoint
    * inside the cap.
    *
    * Scale (100 TB): each round is one map-combinable degree count on
    * compact doc ids + two semi-joins restricting the edge list — the
    * [[dedupClusters]] shuffle shape; the edge list only ever SHRINKS,
    * and `localCheckpoint` pins each round's frame so the plan stays
    * flat instead of re-deriving r rounds of lineage. */
  def kcorePeel(spark: SparkSession, dir: String): DataFrame = {
    val K = 2
    val R = 8
    val pairs = SimilarityQueries.minhashLsh(spark, dir)
    var edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var eCount = edges.count()
    var round = 0
    var changed = true
    while (round < R && changed) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= K).select(col("src"))
      val next = edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        // LAZY checkpoint: the fixpoint count below materializes, caches
        // and lineage-truncates the round's frame in ONE job (the eager
        // form paid a separate materialization job per round)
        .localCheckpoint(false)
      val c = next.count()
      changed = c != eCount // only deletions happen: equal count = fixpoint
      edges = next
      eCount = c
      round += 1
    }
    edges.groupBy(col("src"))
      .agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("doc_id"), col("core_deg"))
  }

  /** Packing-efficiency audit over the [[packSequences]] layout: per
    * shard, how full the 512-token bins actually are — total tokens,
    * bins opened (by start offset), docs per bin (mean and max), and the
    * fill rate total/(bins·512). A fill rate far below 1 means the bin
    * size fights the document length distribution (wasted context
    * window); a max docs-per-bin ≫ mean flags shards whose tiny docs
    * would be better concatenated upstream. Values can exceed 1 only
    * because a document STARTING in the last bin may run past it —
    * contiguous greedy packing never truncates a document.
    *
    * Scale: two hash aggregations over the compact (doc_id, shard,
    * n_tok, bin) pack frame — (shard, bin) partials then the shard
    * rollup; the only window is packSequences' own per-shard cumsum. */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    packSequences(spark, dir)
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("db"), sum(col("n_tok")).as("bt"))
      .groupBy(col("shard"))
      .agg(
        sum(col("db")).as("n_docs"),
        sum(col("bt")).as("total_tokens"),
        (max(col("bin")) + lit(1L)).as("n_bins"),
        max(col("db")).as("max_docs_per_bin"))
      .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_bins"),
        (col("n_docs").cast("double") / col("n_bins").cast("double")).as("avg_docs_per_bin"),
        col("max_docs_per_bin"),
        (col("total_tokens").cast("double") /
          (col("n_bins") * lit(512L)).cast("double")).as("fill_rate"))

  /** Incremental (cross-snapshot) dedup: of a fresh ingest batch, keep
    * only documents whose content fingerprint does NOT already exist in
    * the standing corpus — the anti-join every rolling crawl pipeline
    * runs before appending. The snapshot split here is deterministic
    * (doc_id % 4 == 0 plays the fresh batch). Scale: both sides reduce
    * to 32-hex fingerprints before the shuffle (32 bytes/doc, never text
    * bodies), and the anti-join is a plain equijoin Spark can also
    * runtime-bloom-filter; the standing-corpus side is `distinct`-ed
    * fingerprints only. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), contentFingerprint(col("text")).as("fp"))
    val standing = d.filter(col("doc_id") % 4 =!= 0).select(col("fp")).distinct()
    d.filter(col("doc_id") % 4 === 0)
      .join(standing, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** Snapshot diff: classify every doc across two corpus versions as
    * added / removed / changed / same by full-outer-joining content
    * fingerprints on doc_id — the audit every rolling-crawl pipeline
    * runs between ingests (and the engine's full-outer-join surface).
    * The two versions are derived deterministically here: v1 lacks the
    * doc_id%5==0 docs (they read as "added"), v2 drops doc_id%7==0
    * ("removed") and rewrites the fingerprint of doc_id%3==0 ("changed").
    *
    * Scale (100 TB): both sides reduce to (doc_id, 32-hex fp) before the
    * join — the shuffle carries 40-byte rows, never text; the full-outer
    * join is a plain co-partitioned equijoin on doc_id. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), contentFingerprint(col("text")).as("fp"))
    val v1 = d.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val v2 = d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("fp",
        when(col("doc_id") % 3 === 0, md5(concat(col("fp"), lit("x")))).otherwise(col("fp")))
      .select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    v1.join(v2, col("id_a") === col("id_b"), "full_outer")
      .select(
        coalesce(col("id_a"), col("id_b")).as("doc_id"),
        when(col("id_a").isNull, "added")
          .when(col("id_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("same").as("status")
      )
  }

  /** Int8 embedding quantization: per-vector min/max affine scale to
    * [0, 255] (floor, clamped), plus the max reconstruction error at
    * midpoint dequantization — the storage-shrinking step before an ANN
    * index is built (4 bytes → 1 byte per dim). All arithmetic is
    * fixed-order IEEE double (widening float casts, min/max, one
    * division, floor), so the oracle matches exactly; constant vectors
    * (scale 0) quantize to all-zeros with zero error. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val xd: Column = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(spark, dir)
      .withColumn("xd", xd)
      .withColumn("mn", array_min(col("xd")))
      .withColumn("scale", (array_max(col("xd")) - col("mn")) / lit(255.0))
      .withColumn(
        "qv",
        when(col("scale") === 0.0, transform(col("xd"), _ => lit(0L)))
          .otherwise(transform(col("xd"),
            x => least(lit(255L), floor((x - col("mn")) / col("scale")).cast("long"))))
      )
      .select(
        col("vec_id"),
        size(col("qv")).cast("long").as("n_dims"),
        aggregate(col("qv"), lit(0L), (acc, q) => acc + q).as("q_sum"),
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(array_max(zip_with(col("xd"), col("qv"),
            (x, q) => abs(x - (col("mn") + (q.cast("double") + lit(0.5)) * col("scale"))))))
          .as("max_err")
      )
  }

  /** Corpus health profile per (lang, source) — the dashboard query a
    * curation run gates on before training: document and token volumes,
    * mean document quality, and the exact-duplicate rate, in one pass.
    *
    * Exactness: mean quality is a fixed-point mean (floor(q·10⁶) long
    * sums — order-independent, same trick as `kmeans_step`; q ∈ [0,1]
    * leaves 2³³ docs of headroom per group), duplicate counts are
    * integers off the same fingerprint window as `dedup_exact`, and each
    * mean is ONE IEEE division — so the DuckDB oracle matches exactly
    * where a naive double sum would flake on aggregation order.
    *
    * Scale (100 TB): two shuffles, both on compact keys — the
    * fingerprint window moves (fp, ids, two longs), the rollup moves
    * (lang, source)-keyed partial aggregates. Text never leaves the
    * scan projection. */
  def corpusProfile(spark: SparkSession, dir: String): DataFrame = {
    val byFp = Window.partitionBy(col("fp"))
    Tables.documents(spark, dir)
      .withColumn("tokens", wordTokens(col("text")))
      .select(
        col("doc_id"), col("lang"), col("source"),
        size(col("tokens")).cast("long").as("n_tok"),
        floor(TextQueries.qualityCol(col("text"), col("tokens")) * lit(1000000.0)).as("qq"),
        md5(normText(col("text"))).as("fp"))
      .withColumn("is_dup",
        when(col("doc_id") =!= min(col("doc_id")).over(byFp), 1L).otherwise(0L))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_tok")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_tokens"),
        (sum(col("qq")).cast("double") / (count(lit(1)).cast("double") * lit(1000000.0)))
          .as("mean_quality"),
        sum(col("is_dup")).as("n_dups"),
        (sum(col("is_dup")).cast("double") / count(lit(1)).cast("double"))
          .as("dup_rate"))
  }

  /** Deterministic mixture sampling — the data-mixing pass: down-sample
    * every over-represented source toward a UNIFORM per-source token
    * share. Each source's keep rate is
    * min(1, (total_tokens / n_sources) / source_tokens); a document
    * survives when its seedless md5-derived uniform in [0,1) falls
    * below its source's rate — the same portable hash rule as
    * [[sampleStratified]], so reruns and engines agree exactly (h/2³²
    * is an exact power-of-two division; the rate arithmetic is the
    * same three IEEE operations both sides).
    *
    * Scale (100 TB): per-source token sums are one compact-key
    * aggregation; rates are a |sources|-row frame broadcast back; the
    * keep decision is a narrow map. Under-represented sources pass
    * through whole (rate clamps at 1) — true up-weighting is the
    * trainer's epoch arithmetic, not a data-duplication job. */
  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("source"),
        size(wordTokens(col("text"))).cast("long").as("n_tok"),
        (md5Hash32(concat(col("source"), lit(":"), col("text"))).cast("double") /
          lit(4294967296.0)).as("u"))
    val bySource = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
    val totals = bySource.agg(
      sum(col("src_tok")).as("total_tok"),
      count(lit(1)).as("n_src"))
    val rates = bySource.crossJoin(broadcast(totals)) // 1-row build side: free
      .select(
        col("source").as("rsource"),
        least(lit(1.0),
          (col("total_tok").cast("double") / col("n_src").cast("double")) /
            col("src_tok").cast("double")).as("rate"))
    docs.join(broadcast(rates), col("source") === col("rsource"))
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("rate"))
  }

  /** Temperature-scaled mixture sampling — [[mixSample]]'s softer
    * sibling (the multilingual up/down-sampling rule of XLM-R-style
    * training: sample source i ∝ share^α, α = 1/2): instead of forcing
    * a uniform token share per source, the target share is
    * √share / Σ√share — over-represented sources still shrink and tiny
    * sources grow, but proportionality is preserved. The normalizer
    * Σ√share is summed in fixed point (floor(√p · 10¹²) as BIGINT) so
    * the total is order-independent; every other step is a single IEEE
    * op (sqrt is correctly rounded by spec) — cross-engine exact.
    *
    * Scale (100 TB): identical shape to [[mixSample]] — one compact
    * source-keyed aggregation, two 1-row broadcasts, rates broadcast
    * back, narrow keep decision; the independent md5 draw is salted
    * `t:` so composing both samplers never correlates. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("source"),
        size(wordTokens(col("text"))).cast("long").as("n_tok"),
        (md5Hash32(concat(lit("t:"), col("source"), lit(":"), col("text"))).cast("double") /
          lit(4294967296.0)).as("u"))
    val bySource = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
    val tot = bySource.agg(sum(col("src_tok")).as("total_tok"))
    val weights = bySource.crossJoin(broadcast(tot)) // 1-row build side: free
      .select(
        col("source"), col("src_tok"),
        (col("src_tok").cast("double") / col("total_tok").cast("double")).as("raw_share"),
        floor(sqrt(col("src_tok").cast("double") / col("total_tok").cast("double")) *
          lit(1000000000000.0)).cast("long").as("wfp"))
    val z = weights.agg(sum(col("wfp")).as("zfp"))
    val rates = weights.crossJoin(broadcast(z)) // 1-row build side: free
      .select(
        col("source").as("rsource"), col("raw_share"),
        (col("wfp").cast("double") / col("zfp").cast("double")).as("temp_share"))
      .withColumn("rate", least(lit(1.0), col("temp_share") / col("raw_share")))
    docs.join(broadcast(rates), col("source") === col("rsource"))
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("raw_share"), col("temp_share"), col("rate"))
  }

  /** Shard-locality audit of the near-dup graph — the planning read
    * behind "can dedup run shard-local, or does it need a global
    * pass?": every MinHash-LSH candidate pair classified by whether its
    * two docs land in the same content-hash training shard
    * ([[TextQueries.shardAssign]]'s md5-mod-8 scheme) and whether they
    * are EXACT duplicates (same normalized-text fingerprint). Exact
    * dups co-locate BY CONSTRUCTION under content sharding (identical
    * text → identical hash → same shard, so the exact ∧ cross-shard
    * cell is structurally zero — the query proves it); NEAR-dups
    * scatter uniformly, so ~(N−1)/N of them cross shards. The
    * cross-shard near-dup count is exactly the mass a shard-local
    * dedup pass can never see — the reason this engine's dedup is
    * band-keyed (globally bucketed) rather than shard-local.
    *
    * Scale: LSH-bounded pairs + two compact (doc_id → shard, fp)
    * equijoins; output is ≤4 rows. */
  def crossShardDup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SimilarityQueries.minhashLsh(spark, dir)
    val shards = Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(md5Hash32(col("text")), lit(8L)).as("shard"),
        md5(normText(col("text"))).as("fp"))
    pairs
      .join(shards.select(col("doc_id").as("doc_a"),
        col("shard").as("sa"), col("fp").as("fa")), "doc_a")
      .join(shards.select(col("doc_id").as("doc_b"),
        col("shard").as("sb"), col("fp").as("fb")), "doc_b")
      .groupBy(
        (col("sa") === col("sb")).as("same_shard"),
        (col("fa") === col("fb")).as("exact_dup"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Duplication–quality interaction: mean quality score per near-dup
    * DEGREE bucket (0 = untouched by the LSH graph, 3 = degree ≥ 3) —
    * the curation read behind "are my duplicates junk or are they the
    * good content everyone copies?". The answer decides keep-policy:
    * if heavy-dup docs score LOW, plain keeper election suffices; if
    * they score HIGH, dedup must keep-best ([[dedupKeepBest]]) or the
    * pass deletes the corpus's most-replicated quality mass.
    *
    * Exactness: quality is floor-quantized to micro-units and summed
    * as BIGINT (order-independent), one pinned division at the end —
    * a raw double mean would be summation-order-dependent and flake
    * the oracle hash.
    *
    * Scale: LSH-bounded degree fold + one corpus scan for quality;
    * the join keys on doc_id; ≤4 output rows. */
  def qualityVsDup(spark: SparkSession, dir: String): DataFrame = {
    val deg = SimilarityQueries.minhashLsh(spark, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    Tables.documents(spark, dir)
      .withColumn("tokens", wordTokens(col("text")))
      .select(col("doc_id"), TextQueries.qualityCol(col("text"), col("tokens")).as("quality"))
      .join(deg, Seq("doc_id"), "left")
      .select(
        least(coalesce(col("deg"), lit(0L)), lit(3L)).as("deg_bucket"),
        floor(col("quality") * lit(1000000.0)).cast("long").as("q_fp"))
      .groupBy(col("deg_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_fp")).as("q_sum"))
      .select(col("deg_bucket"), col("n_docs"),
        (col("q_sum").cast("double") /
          (col("n_docs").cast("double") * lit(1000000.0))).as("mean_quality"))
  }

  /** One DoReMi-style domain-reweighting step (Xie et al. 2023,
    * linearized): per-source proxy-LM loss vs the corpus reference →
    * sources that score WORSE than the corpus mean (excess loss) get
    * their mixture weight multiplied up, then weights renormalize.
    * The proxy is the in-engine bigram-MLE fluency of [[TextQueries
    * .lmScore]] (shared [[TextQueries.bigramScoresFp]] stream, so the
    * two cannot diverge); the multiplicative update is the linearized
    * w ∝ share·(1 + excess) rather than exp(η·excess) — exp is not
    * correctly-rounded IEEE, so the exponential form could not be
    * oracle-matched bit-exactly, and to first order they agree.
    *
    * Exactness: excess = F̄ − F_s cleared of denominators is
    * E_s = max(Ltot·Ns − Ls·Ntot, 0), and share·(1+excess) shares the
    * common denominator Ntot² which CANCELS in normalization — so the
    * unnormalized weight u_s = Ntot·Ns + E_s is a pure integer,
    * carried in DECIMAL(38,0) (HUGEINT in the oracle). Bounds: with
    * Ntot ≤ 10¹³ bigrams (a 100 TB corpus) and Ls ≤ 10⁹·Ns,
    * Ltot·Ns ≤ 10³⁵ and Σu ≤ Ntot² + Ltot·Ntot ≤ 10³⁶ — inside both
    * DECIMAL(38) and int128, and an overflow beyond that throws
    * loudly under ANSI mode rather than wrapping.
    *
    * Scale: the model chain is [[lmScore]]'s (compact bigram-keyed
    * shuffles); per-source fold is |sources| rows (checkpointed —
    * corpus lineage, two consumers); everything after is arithmetic
    * under two 1-row broadcasts. Sources whose docs are all < 2 words
    * have no bigrams and drop out (no proxy signal, no weight). */
  def domainReweight(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val perDoc = TextQueries.bigramScoresFp(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("p_fp")).as("lp"))
    val perSrc = perDoc
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("nb")).cast(dec).as("ns"), sum(col("lp")).cast(dec).as("ls"))
      .ckpt()
    val tot = perSrc.agg(sum(col("ns")).cast(dec).as("ntot"),
      sum(col("ls")).cast(dec).as("ltot"))
    val u = perSrc.crossJoin(broadcast(tot)) // 1-row build side: free
      .select(col("source"), col("ns"), col("ls"), col("ntot"), col("ltot"),
        (col("ntot") * col("ns") +
          greatest(col("ltot") * col("ns") - col("ls") * col("ntot"),
            lit(0).cast(dec))).cast(dec).as("u"))
    val z = u.agg(sum(col("u")).cast(dec).as("uz"))
    u.crossJoin(broadcast(z)) // 1-row build side: free
      .select(
        col("source"),
        col("ns").cast("long").as("n_bigrams"),
        (col("ls").cast("double") /
          (col("ns").cast("double") * lit(1000000000.0))).as("fluency"),
        (col("ns").cast("double") / col("ntot").cast("double")).as("old_share"),
        (col("u").cast("double") / col("uz").cast("double")).as("new_weight"),
        (col("ltot") * col("ns") > col("ls") * col("ntot")).as("upweighted"))
  }

  /** Multi-epoch mixture plan — the PLANNING table the samplers
    * ([[mixSample]], [[mixTemperature]]) execute one epoch of: given a
    * compute budget of B = 2× the corpus's tokens and the same
    * temperature-½ target shares (√share / Σ√share, XLM-R rule), how
    * many EPOCHS of each source does the schedule call for? Small
    * sources up-sample by REPETITION (epochs > 1) rather than rate-1
    * truncation, and any source pushed past 4 epochs is flagged with
    * its clipped token mass: repeating data beyond ~4 epochs stops
    * buying loss (Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models"), so a flagged row means "find more of this
    * source, don't repeat it harder".
    *
    * Cross-engine exactness: the normalizer reuses [[mixTemperature]]'s
    * fixed-point trick (Σ floor(√share·10¹²) as BIGINT is
    * order-independent); every double after it is a pinned chain of
    * single IEEE ops mirrored verbatim in the oracle.
    *
    * Scale (100 TB): one scan → |sources|-row aggregate; everything
    * after is arithmetic on that compact frame (two 1-row broadcasts,
    * no second scan, no shuffle wider than |sources|). */
  def epochSchedule(spark: SparkSession, dir: String): DataFrame = {
    // |sources|-row frame, corpus-sized (full tokenization) lineage,
    // branching consumers (tot + weights) — checkpoint so the corpus is
    // tokenized once, not once per branch
    val bySource = Tables.documents(spark, dir)
      .select(col("source"), size(wordTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
      .ckpt()
    val tot = bySource.agg(sum(col("src_tok")).as("total_tok"))
    val weights = bySource.crossJoin(broadcast(tot)) // 1-row build side: free
      .select(
        col("source"), col("src_tok"), col("total_tok"),
        floor(sqrt(col("src_tok").cast("double") / col("total_tok").cast("double")) *
          lit(1000000000000.0)).cast("long").as("wfp"))
    val z = weights.agg(sum(col("wfp")).as("zfp"))
    weights.crossJoin(broadcast(z)) // 1-row build side: free
      .select(
        col("source"), col("src_tok"),
        (col("wfp").cast("double") / col("zfp").cast("double")).as("temp_share"),
        // budget = 2 epochs of the whole corpus, allocated by temp share
        ((lit(2L) * col("total_tok")).cast("double") *
          (col("wfp").cast("double") / col("zfp").cast("double"))).as("target_tok"))
      .select(
        col("source"), col("src_tok"), col("temp_share"), col("target_tok"),
        (col("target_tok") / col("src_tok").cast("double")).as("epochs"))
      .select(
        col("source"), col("src_tok"), col("temp_share"), col("target_tok"),
        col("epochs"),
        least(col("epochs"), lit(4.0)).as("epochs_capped"),
        (col("epochs") > 4.0).as("over_cap"),
        // token mass the 4-epoch cap clips off this source's allocation
        when(col("epochs") > 4.0,
          col("target_tok") - lit(4.0) * col("src_tok").cast("double"))
          .otherwise(lit(0.0)).as("clipped_tok"))
  }

  /** Per-source document cap: keep at most `cap` documents per source,
    * ranked by a deterministic quality proxy (longest text first, doc_id
    * tie-break) — the standard domain-cap pass that stops one crawl
    * domain from dominating a training mix.
    *
    * Scale (100 TB): one shuffle keyed on `source`; Spark 3.5+'s
    * WindowGroupLimit rewrites the rank-filter into a per-partition
    * top-`cap` BEFORE the exchange, so each map task forwards at most
    * `cap` rows per source it sees — the shuffle carries ~(sources ×
    * cap × parallelism) rows, not the corpus (PlanSpec pins the
    * WindowGroupLimit node). A skewed mega-source therefore bounds its
    * own shuffle contribution. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val cap = 15
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= cap)
  }

  /** Greedy token-budget selection: walk the corpus in quality order
    * (quality desc, doc_id tie-break) and keep documents until a global
    * token budget — 40% of corpus tokens — is spent. The canonical
    * "best N tokens" curation pass before training.
    *
    * The naive formulation is a running sum over ONE global sort — the
    * same single-task scale-killer [[AnalyticsQueries.quantileBins]]
    * documents. This is the distributed form: quality cutpoints from one
    * `percentile` aggregate split the corpus into ~32 quality bands
    * (broadcast, narrow-map assignment — no sort); per-band token totals
    * (a 32-row frame) turn into exclusive prefix offsets with a 32-row
    * window; each document's global cumulative count is then its
    * WITHIN-band running sum plus its band's offset, so every sort is a
    * band-local window partition, never a global order. The selected set
    * is identical to the naive greedy by construction: band index is
    * monotone in quality (equal qualities share a band), so
    * (band, quality desc, doc_id) IS the global order. Swap `percentile`
    * for `approx_percentile` and widen to ~10k bands at real corpus
    * scale; the output is invariant to where the cutpoints fall. */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val nBands = 32
    val docs = Tables.documents(spark, dir)
      .withColumn("tokens", wordTokens(col("text")))
      .select(
        col("doc_id"),
        size(col("tokens")).cast("long").as("n_tok"),
        TextQueries.qualityCol(col("text"), col("tokens")).as("quality"))
    // one distributed pass: the (nBands-1)-double cutpoint row AND the
    // token budget (corpus token sum fits a double exactly — < 2^53)
    val probs = (1 until nBands).map(i => i.toDouble / nBands)
      .mkString("array(", ",", ")")
    val cutsBudget = docs.agg(
      expr(s"percentile(quality, $probs)").as("cuts"),
      floor(sum(col("n_tok")).cast("double") * lit(0.4)).as("budget"))
    // band = #cutpoints strictly above my quality: 0 = best band; a
    // narrow map over the scan (1-row broadcast build side — free)
    val banded = docs.crossJoin(broadcast(cutsBudget))
      .withColumn("band", size(filter(col("cuts"), c => c > col("quality"))))
      .drop("cuts")
    // exclusive prefix offsets over the ≤ nBands band totals — the only
    // unpartitioned window runs on a nBands-row frame, never the corpus
    val prefixW = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("band")).agg(sum(col("n_tok")).as("band_tok"))
      .withColumn("offset", coalesce(sum(col("band_tok")).over(prefixW), lit(0L)))
      .select(col("band").as("oband"), col("offset"))
    val runW = Window.partitionBy(col("band"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(offsets), col("band") === col("oband"))
      .withColumn("cum_tokens", sum(col("n_tok")).over(runW) + col("offset"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("quality"), col("n_tok"), col("cum_tokens"))
  }

  /** PageRank over the near-dup candidate graph: three power-iteration
    * rounds (damping 0.85) ranking each document's centrality among its
    * LSH neighbours — high-rank nodes are template/boilerplate HUBS (the
    * doc many others near-duplicate), the ones to inspect before a bulk
    * keep/drop. Complements [[dedupClusters]]: components say WHICH docs
    * group; rank says which doc anchors the group.
    *
    * All arithmetic is integer fixed point (rank mass in 1e-6 units,
    * integer floor division for both the per-edge donation `r div deg`
    * and the damped update) — bit-exact across engines and partitionings,
    * no float summation order anywhere. Dangling mass (docs with no
    * near-dup edge donate to nobody) is dropped, not redistributed: at a
    * fixed round count that only uniformly shrinks totals, and isolated
    * docs sit at exactly the teleport floor `150000 div N`.
    *
    * Scale (100 TB): the classic iterative sparse mat-vec — per round ONE
    * equijoin of the adjacency with the rank vector plus one
    * map-side-combinable keyed sum, everything keyed on doc ids, rounds
    * fixed at 3. The adjacency (LSH-bounded, NOT corpus²) materializes
    * once via localCheckpoint so the MinHash chain doesn't re-run per
    * round; a production run would persist it as a table instead. */
  def dupPagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SimilarityQueries.minhashLsh(spark, dir)
    val adj = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .ckpt()
    // localCheckpoint degrees and the degree-annotated adjacency: every
    // power-iteration round joins `adjDeg` (re-running the degree fold
    // per round otherwise), and `deg` is read again by the final select.
    // Both frames are LSH-bounded edge/node rows.
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .ckpt()
    val adjDeg = adj.join(deg, "src").ckpt()
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val tot = docs.agg(count(lit(1)).as("n"))
    val r0 = docs.crossJoin(broadcast(tot)) // 1-row build side: free
      .select(col("doc_id"), expr("1000000 div n").as("r"))
    val ranks = (1 to 3).foldLeft(r0) { (prev, _) =>
      val contrib = adjDeg
        .join(prev.withColumnRenamed("doc_id", "src_id"), col("src") === col("src_id"))
        .groupBy(col("dst")).agg(sum(expr("r div deg")).as("s"))
      docs.crossJoin(broadcast(tot))
        .join(contrib, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          expr("(150000 div n) + ((85 * coalesce(s, 0)) div 100)").as("r"))
    }
    ranks.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        col("r").as("rank_fp"),
        (col("r").cast("double") / lit(1000000.0)).as("rank"))
  }

  /** Filter-cascade yield audit: the 2⁴ grid of (length, language,
    * quality, exact-dedup) pass/fail flags with document and token counts
    * per cell — everything a curation run needs to understand its funnel
    * in ONE corpus pass (each stage's survivor count, every pairwise
    * filter overlap, and the final yield are all marginals of this grid;
    * running four trial filters to learn the same numbers scans the
    * corpus four times).
    *
    * Flags (each independently computed so the grid exposes overlap, not
    * just the cascade order):
    *  - `pass_len`:     ≥ 30 word tokens and ≤ 20 000 chars;
    *  - `pass_lang`:    the stopword-argmax classifier agrees with the
    *                    labeled `lang` (docs the classifier cannot
    *                    confirm — e.g. zh, outside its repertoire — fail,
    *                    exactly as they would under a filter trusting the
    *                    classifier);
    *  - `pass_quality`: composite [[TextQueries.qualityCol]] ≥ 0.6 (the
    *                    IEEE-identical formula both engines share; the
    *                    fixture invariant ≥1 char/token keeps NaN out);
    *  - `pass_dedup`:   the doc is its exact-fingerprint group's keeper
    *                    (min doc_id over the md5(norm text) partition).
    *
    * Scale (100 TB): one scan; per-doc map work; the only shuffle is the
    * compact-key fp exchange the dedup flag needs plus a 16-group hash
    * aggregate. Text never shuffles (the window key is the 32-hex md5). */
  // ── The composed curation pipeline (`graft.Main --mode curate`) ──
  //
  // Every stage below is individually oracle-gated elsewhere
  // (filter_cascade's quality/lang/length predicates, dedup_exact's
  // fingerprint keeper, dedup_keep_best's election, mix_sample's rates,
  // pack_sequences' bins); this composes them SEQUENTIALLY into the one
  // corpus-in → training-shards-out run the north star describes, with a
  // per-stage manifest as the audit artifact. Stage semantics under
  // composition: each stage sees only the previous stage's survivors
  // (dedup keeps the best SURVIVING member of each near-dup cluster;
  // mixture rates are computed over the deduped corpus — the order a
  // real curation run uses, filters before expensive pairwise work,
  // mixture planning over what will actually train).

  /** The curated corpus: stage-5 survivors with their packing
    * coordinates (shard, bin, start_tok) — what `--mode curate` writes
    * as the output table. */
  def curatedCorpus(spark: SparkSession, dir: String): DataFrame =
    curatedFrom(curationFlags(spark, dir))

  private[graft] def curatedFrom(flags: DataFrame): DataFrame =
    flags.filter(col("pass4"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("shard"), col("start_tok"), col("bin"))

  /** One curate RUN (`Main --mode curate`): compute the flag cascade
    * ONCE, write the curated corpus from it, and return the manifest
    * derived from the SAME persisted frame — the standalone
    * [[curatedCorpus]]/[[curationManifest]] query entries each derive
    * their own cascade (bench queries are independent), but a real run
    * must not pay the tokenize→cluster chain twice. The flag frame
    * persists spill-safely for the run's duration and is released before
    * returning (the manifest's 1-row aggregate is checkpointed by
    * [[curationManifest]]'s pivot, so the returned frame outlives the
    * unpersist). */
  def curateRun(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val flags = curationFlags(spark, dir).persist()
    try {
      curatedFrom(flags)
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$outDir/curated")
      val m = manifestFrom(flags)
      m.write.mode("overwrite").parquet(s"$outDir/manifest")
      m
    } finally flags.unpersist()
  }

  /** The per-stage audit manifest: one row per stage with documents and
    * tokens in/out. For the pack stage, `n_out` counts the PACKED
    * SEQUENCES (distinct (shard, bin)) — documents become training
    * sequences there, and tokens are conserved.
    *
    * Shape: ONE conditional aggregate over the per-doc flag frame (every
    * stage's in/out folds map-side in the same pass — the same grid
    * trick as [[filterCascade]]), pivoted to 5 rows by a union of
    * selects over the 1-row result. The earlier per-stage-branch form
    * re-derived the tokenize→cluster chain once per manifest cell
    * (measured 5.5 s vs ~2.5 s at sf0.1). */
  def curationManifest(spark: SparkSession, dir: String): DataFrame =
    manifestFrom(curationFlags(spark, dir))

  private[graft] def manifestFrom(flags: DataFrame): DataFrame = {
    def cntTok(p: Column): Seq[Column] = Seq(
      sum(when(p, 1L).otherwise(0L)),
      coalesce(sum(when(p, col("n_tok"))), lit(0L)))
    val aggs =
      cntTok(lit(true)) ++ cntTok(col("pass1")) ++ cntTok(col("pass2")) ++
        cntTok(col("pass3")) ++ cntTok(col("pass4")) :+
        countDistinct(when(col("pass4"), struct(col("shard"), col("bin"))))
    // localCheckpoint the ONE-ROW aggregate before pivoting: the 5-row
    // union's branches would otherwise each re-derive the whole
    // tokenize→cluster→window chain (union branches share no
    // subexpressions — measured 5× the single-pass cost)
    val g = flags
      .agg(aggs.head, aggs.tail: _*)
      .toDF("n0", "t0", "n1", "t1", "n2", "t2", "n3", "t3", "n4", "t4", "bins")
      .ckpt()
    val names = Seq("quality", "exact_dedup", "neardup_keep", "mix_sample", "pack")
    names.zipWithIndex.map { case (name, i) =>
      val (nIn, tIn) = (col(s"n$i"), col(s"t$i"))
      val (nOut, tOut) =
        if (name == "pack") (col("bins"), col("t4"))
        else (col(s"n${i + 1}"), col(s"t${i + 1}"))
      g.select(
        lit(i + 1L).as("stage_ord"), lit(name).as("stage"),
        nIn.as("n_in"), nOut.as("n_out"),
        tIn.as("tokens_in"), tOut.as("tokens_out"))
    }.reduce(_ unionAll _)
  }

  /** The per-document stage-survival frame behind the composed curate
    * run: ONE corpus scan computes every stage's pass flag in place —
    * stage predicates fold as windowed conditionals over the previous
    * flag instead of materializing per-stage frames, so the whole
    * cascade costs one tokenize pass + the (checkpointed, compact)
    * cluster-label join + one ≤|sources|-row rate aggregate.
    *
    *   pass1  quality gate (filter_cascade's three predicates)
    *   pass2  exact-fp keeper among pass1 survivors (min doc_id per fp,
    *          conditional window)
    *   pass3  best surviving member per near-dup cluster
    *          (dedup_keep_best's (n_chars DESC, doc_id) order as a
    *          conditional min-struct window)
    *   pass4  mix_sample's uniform-token-share keep rule, rates over
    *          the pass3 survivors
    *   shard/start_tok/bin  pack_sequences' packing for pass4 rows
    *          (conditional prefix sum — non-survivors contribute 0)
    *
    * Scale (100 TB): the flag windows key on fp / cluster / shard —
    * never an unpartitioned sort; rates are a broadcast; cluster labels
    * come checkpointed from [[dedupClusters]]. */
  private[graft] def curationFlags(spark: SparkSession, dir: String): DataFrame = {
    // ONE regex tokenize for the WHOLE cascade: the flag scan projection
    // keeps the token array and persists (corpus-sized frame — the
    // ckptBig class), and the MinHash near-dup chain folds from the SAME
    // frame instead of re-tokenizing the corpus inside dedupClusters —
    // the cascade previously paid two independent full-text
    // wordTokens passes (guide §1.2 step 1: remove whole passes first).
    // Every expression from `tokens`/text-scalars on is unchanged, so
    // edges, clusters and flags are bit-identical.
    val d0t = flagScanProjection(Tables.documents(spark, dir)).ckptBig()
    val edges = SimilarityQueries.lshCandidates(
        SimilarityQueries.minhashSigsFromTokens(
          d0t.select(col("doc_id"), col("tokens").as("ws"))))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val (sliver, nLab, _) = minLabelSliver(edges)
    val d0 = d0t.drop("tokens")
    if (nLab <= SliverBroadcastCap)
      cascadeFromD2(d2 = stage2(d0, standingFps = None),
        attachPass3 = sliverPass3(sliver))
    else {
      val clusters = labelNodes(sliver, nLab,
          d0t.select(col("doc_id").as("node_id")))
        .withColumnRenamed("node_id", "doc_id")
      curationFlagsFromD0(d0, clusters, standingFps = None)
    }
  }

  /** [[curationFlags]] generic over the document source — the seam the
    * STREAMING curation twin ([[graft.streaming.CurateStream]]) shares
    * with the batch pipeline, so per-batch stage semantics can never
    * drift from the oracle-gated batch stages: same quality predicate,
    * same fp-keeper window, same keep-best cluster election, same
    * mixture formula, same packing prefix sum, evaluated over whatever
    * frame the caller scopes (the whole corpus, or one micro-batch).
    *
    * `clusters` carries the (doc_id, cluster) labels for `docs` (the
    * batch entry passes [[dedupClusters]]; the stream labels each
    * micro-batch with the same LSH→components chain over the batch).
    * `standingFps` (streaming only) marks exact fingerprints already
    * curated by EARLIER batches: a doc whose fp is standing fails the
    * exact-dedup stage even if it is its batch's keeper — the
    * cross-batch half of stage 2. */
  private[graft] def curationFlagsOf(docs: DataFrame, clusters: DataFrame,
      standingFps: Option[DataFrame]): DataFrame =
    curationFlagsFromD0(flagScanProjection(docs).drop("tokens"),
      clusters, standingFps)

  /** The stage-0 scan projection: every text-derived scalar computes
    * HERE and text drops immediately after — stage 4's mix hash `u` and
    * stage 5's pack `shard` used to be computed in place, which dragged
    * the full text column through the fp window exchange, the
    * cluster-label broadcast AND the pack window sort (r17 before-plan:
    * text in Exchange(6), Window(8), BroadcastExchange(11)). The token
    * ARRAY is kept (dropped by callers that don't need it) so the batch
    * path can feed the MinHash chain from the same tokenize pass. */
  private[graft] def flagScanProjection(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", wordTokens(col("text")))
      .withColumn("n_tok", size(col("tokens")).cast("long"))
      .withColumn("fp", contentFingerprint(col("text")))
      .withColumn("pass1",
        col("n_tok") >= 30 && length(col("text")) <= 20000 &&
          langId(col("tokens")) === col("lang") &&
          TextQueries.qualityCol(col("text"), col("tokens")) >= 0.6)
      .withColumn("u",
        md5Hash32(concat(col("source"), lit(":"), col("text"))).cast("double") /
          lit(4294967296.0))
      .withColumn("shard", pmod(md5Hash32(col("text")), lit(8L)))
      .drop("text", "lang")

  /** Stages 2–5 of the cascade over an already-projected stage-0 frame
    * (same expressions as ever — only the tokenize/projection moved into
    * [[flagScanProjection]] so batch and stream can scope it). This form
    * attaches labels by a full (doc_id) join + whole-frame cluster
    * window — the streaming seam (per-batch `clusters` frames, no sliver
    * available) and the mega-sliver fallback; the batch path uses
    * [[sliverPass3]] instead. */
  private def curationFlagsFromD0(d0: DataFrame, clusters: DataFrame,
      standingFps: Option[DataFrame]): DataFrame =
    cascadeFromD2(stage2(d0, standingFps), d2 => {
      // 3. best surviving member per near-dup cluster ((n_chars DESC,
      //    doc_id) == lexicographic min of (-n_chars, doc_id))
      val wCl = Window.partitionBy(col("cluster"))
      // localCheckpoint the pass-3 frame: `bySource`'s rate fold AND the
      // d4/pack consumer both derive it, so the whole tokenize→fp-window→
      // cluster-join→cluster-window chain ran TWICE per manifest (the two
      // derivations share no exchange — bySource folds under an eager
      // checkpoint of its own). The frame is compact per-doc scalars —
      // text and tokens already dropped in d0's scan projection.
      d2.join(clusters, "doc_id")
        .withColumn("best",
          min(when(col("pass2"),
            struct((-col("n_chars")).as("neg"), col("doc_id").as("did")))).over(wCl))
        .withColumn("pass3", col("pass2") && col("doc_id") === col("best")("did"))
        .ckpt()
    })

  /** Stage 2 of the cascade: exact-fp keeper among pass1 survivors
    * (plus, in streaming, the standing-fp serve-around: an fp curated by
    * an earlier batch disqualifies the whole group). */
  private def stage2(d0: DataFrame, standingFps: Option[DataFrame]): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    val d2base = standingFps match {
      case Some(sf) => d0.join(
          broadcast(sf.select(col("fp"), lit(true).as("_standing"))),
          Seq("fp"), "left")
        .withColumn("pass1s", col("pass1") && col("_standing").isNull)
        .drop("_standing")
      case None => d0.withColumn("pass1s", col("pass1"))
    }
    d2base.withColumn("keeper",
        min(when(col("pass1s"), col("doc_id"))).over(wFp))
      .withColumn("pass2", col("pass1s") && col("doc_id") === col("keeper"))
      .drop("pass1s")
  }

  /** Stage-3 attach for the batch path when the label sliver broadcasts:
    * labels arrive as a broadcast probe of the stage-2 frame (no doc_id
    * shuffle join), and the keep-best election window runs over the
    * edge-touched rows ONLY — an edge-free singleton is its own
    * cluster's sole surviving candidate, so pass3 ≡ pass2 there (the
    * window's min-struct over a one-row partition picks the row itself
    * when pass2, else leaves null — both cases reduce to pass2). The
    * corpus mass never crosses a cluster-keyed exchange. The labeled
    * frame is checkpointed (the ckptBig class — compact per-doc scalars)
    * so the two union branches and the stage-4/5 consumers all read one
    * materialization of the fp-window chain. */
  private def sliverPass3(sliver: DataFrame)(d2: DataFrame): DataFrame = {
    val sl = broadcast(sliver
      .select(col("node_id").as("doc_id"), col("cluster").as("prop_cluster")))
    val labeled = d2.join(sl, Seq("doc_id"), "left").ckptBig()
    val wCl = Window.partitionBy(col("cluster"))
    val elected = labeled.filter(col("prop_cluster").isNotNull)
      .withColumn("cluster", col("prop_cluster")).drop("prop_cluster")
      .withColumn("best",
        min(when(col("pass2"),
          struct((-col("n_chars")).as("neg"), col("doc_id").as("did")))).over(wCl))
      .withColumn("pass3", col("pass2") && col("doc_id") === col("best")("did"))
      .drop("best")
    val singles = labeled.filter(col("prop_cluster").isNull)
      .withColumn("cluster", col("doc_id")).drop("prop_cluster")
      .withColumn("pass3", col("pass2"))
    elected.unionByName(singles)
  }

  /** Stages 4–5 of the cascade over the stage-2 frame, generic over the
    * stage-3 label attach (full-join window vs sliver split). */
  private def cascadeFromD2(d2: DataFrame,
      attachPass3: DataFrame => DataFrame): DataFrame = {
    val d3 = attachPass3(d2)
    // 4. mixture rates over the pass3 survivors (mix_sample's formula,
    //    same IEEE op order). The ≤|sources|-row fold is checkpointed:
    //    `totals` and `rates` both read it, and without the checkpoint
    //    each reference re-derives the whole tokenize→window chain
    //    (union/crossJoin branches share no subexpressions)
    val bySource = d3.filter(col("pass3"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
      .ckpt()
    val totals = bySource.agg(
      sum(col("src_tok")).as("total_tok"), count(lit(1)).as("n_src"))
    val rates = bySource.crossJoin(broadcast(totals))
      .select(col("source").as("rsource"),
        least(lit(1.0),
          (col("total_tok").cast("double") / col("n_src").cast("double")) /
            col("src_tok").cast("double")).as("rate"))
    val d4 = d3
      .join(broadcast(rates), col("source") === col("rsource"), "left")
      // `u` and `shard` were computed in d0's scan projection (so text
      // never crossed an exchange); the formulas are unchanged
      .withColumn("pass4",
        col("pass3") && col("rate").isNotNull && col("u") < col("rate"))
    // 5. packing for pass4 rows: conditional prefix sum per shard
    val wPack = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d4
      .withColumn("start_tok", coalesce(
        sum(when(col("pass4"), col("n_tok")).otherwise(0L)).over(wPack), lit(0L)))
      .withColumn("bin", expr("start_tok DIV 512"))
  }

  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("tokens", wordTokens(col("text")))
      .withColumn("fp", contentFingerprint(col("text")))
    val w = Window.partitionBy(col("fp"))
    docs
      .withColumn("keeper", min(col("doc_id")).over(w))
      .select(
        size(col("tokens")).cast("long").as("n_tok"),
        (size(col("tokens")) >= 30 && length(col("text")) <= 20000).as("pass_len"),
        (langId(col("tokens")) === col("lang")).as("pass_lang"),
        (TextQueries.qualityCol(col("text"), col("tokens")) >= 0.6).as("pass_quality"),
        (col("doc_id") === col("keeper")).as("pass_dedup"))
      .groupBy(col("pass_len"), col("pass_lang"), col("pass_quality"), col("pass_dedup"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }
}
