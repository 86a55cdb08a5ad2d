package graft.queries

import org.apache.spark.sql.DataFrame

/** Central seam for the straight-line materializations inside query
  * builders (the round-17 re-derivation fixes).
  *
  * `df.ckpt()` is an EAGER local checkpoint, the round-17 form, at
  * every site. The lazy variant (`localCheckpoint(false)` — the query's
  * own first action materializes, one less job) was A/B'd full-width in
  * round 18 and lost; it is kept ONLY in the sequential-consumer loops:
  * with PARALLEL first consumers (both sides of a self-join, a fold and
  * a join side scheduled together) the not-yet-cached marked RDD is
  * computed by BOTH stages (block-cache race), duplicating the shared
  * chain — measured minhash_estimate 1.24×, ngram_novelty 1.18× under
  * lazy, net flat elsewhere. Eager guarantees materialize-once.
  *
  * Why not `persist`: a persisted plan registers in the session
  * CacheManager keyed by its canonicalized plan, so a LATER construction
  * of the same query (the bench's min-of-N re-runs — or any query
  * sharing the plan as a fragment) silently reuses the cached data.
  * That is cross-run result caching — it poisons the bench (measured:
  * minhash_lsh "0.10 s" because dup_triangles' persisted edge frame
  * matched its whole plan) and is exactly what the round rules forbid.
  * `localCheckpoint` lives and dies with the constructed RDD: every
  * bench run recomputes from parquet. On a long-running CLUSTER job the
  * right swap for the corpus-proportional frames is a persisted TABLE
  * (or `persist(DISK_ONLY)` scoped by the job runner, which can
  * unpersist) — documented per site in SCALING.md's size budget; the
  * in-process form must stay run-isolated.
  *
  * With `SPARK_GRAFT_NO_CKPT=1` (set only by [[graft.PlanDump]]
  * diagnostics) both forms no-op so `explain` shows the full
  * PRE-materialization tree instead of `Scan ExistingRDD` stubs.
  *
  * Deliberately NOT routed through here: the iterative loops
  * ([[CurationQueries.minLabelComponents]], [[CurationQueries.kcorePeel]],
  * [[SimilarityQueries]]' Lloyd rounds) whose checkpoints bound plan
  * growth per round, and the streaming sinks whose lineage cut is a
  * CORRECTNESS requirement (overwriting a path that is also the read
  * source). */
private[graft] object Ckpt {
  // read once per JVM: the flag is a per-process diagnostic mode, and a
  // mid-run flip would make bench timings unintelligible
  val disabled: Boolean = sys.env.get("SPARK_GRAFT_NO_CKPT").contains("1")

  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(): DataFrame =
      if (disabled) df
      else df.localCheckpoint(true)

    /** Marker for the CORPUS-PROPORTIONAL frames (SCALING.md size
      * budget): same checkpoint in-process, but the site is
      * explicitly classified — at cluster scale these are the frames a
      * job runner should swap for a persisted table or a scoped
      * `persist(DISK_ONLY)` (lineage kept, recomputable after executor
      * loss) rather than executor-pinned checkpoint blocks. */
    def ckptBig(): DataFrame = ckpt()
  }
}
