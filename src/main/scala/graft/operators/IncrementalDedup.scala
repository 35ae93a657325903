package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Pins

/** Preserved dedup-cluster state: the SimHash band table (the
  * bucket-membership relation every near-dup pair is born from) plus the
  * converged component labels.
  *
  *  - `bands(doc_id, h1, h2, band, bv)` — the kvs-analog: per source
  *    doc, its contribution to each of the 4 LSH buckets it occupies
  *    (reference provenance: the preserve store keyed by source,
  *    `incr-hadoop-0.1/src/mapred/org/apache/hadoop/mapred/IFile.java:478-800`).
  *  - `comps(id, comp)` — the out-analog: each paired doc's component
  *    label (= component minimum id), the final outputs of the base run
  *    (`ReduceTask.java:3155-3207` writes the same out-state shape).
  *
  * The pairing parameters (`maxHamming`, `maxBucket`) are PART OF the
  * state: the preserved labels are only valid under the pair semantics
  * they were computed with, so every continuation runs under the
  * preserve-time parameters (they survive `write`/`read`) — a caller
  * cannot silently splice labels computed under one cap into pairs
  * regenerated under another.
  *
  * `release()` frees both caches once every continuation using this
  * state has finished — the library cache-release contract
  * ([[graft.core.PreservedState]] sets the pattern).
  */
final case class DedupClusterState(bands: DataFrame, comps: DataFrame,
    maxHamming: Int, maxBucket: Int, release: () => Unit = () => ()) {
  /** Materialize the state as Parquet tables (F27), parameters included. */
  def write(path: String): Unit = {
    bands.write.mode("overwrite").parquet(s"$path/bands")
    comps.write.mode("overwrite").parquet(s"$path/comps")
    bands.sparkSession.createDataFrame(Seq((maxHamming, maxBucket)))
      .toDF("maxHamming", "maxBucket")
      .write.mode("overwrite").parquet(s"$path/params")
  }
}

object DedupClusterState {
  def read(spark: org.apache.spark.sql.SparkSession, path: String): DedupClusterState = {
    val p = spark.read.parquet(s"$path/params").collect()(0)
    DedupClusterState(
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/comps"),
      p.getInt(0), p.getInt(1))
  }
}

/** Incremental maintenance of dedup clusters over a document delta — the
  * reference's incremental-recomputation thesis (F28-F31, the
  * algorithm-generic incremental drivers at
  * `incr-hadoop-0.1/src/mapred/org/apache/hadoop/mapred/ReduceTask.java:3504-3691`)
  * instantiated on the engine's newest surface: instead of re-running
  * shingle→digest→band→pair→components over the whole corpus after
  * adding/removing documents, recompute ONLY the components reachable
  * from the buckets the delta touched.
  *
  * Why this is component-granular where PageRank/KMeans/matvec run
  * key-granular through [[graft.core.IncrementalJob]]: those algorithms'
  * reduces recompute each affected key EXACTLY from its merged
  * contribution bag, so continuing the fixpoint iteration from preserved
  * outputs is sound for insertions and deletions alike. Connected
  * components' fixpoint (min-label propagation) is monotone DOWNWARD
  * only — a removed edge can require labels to RISE (a component
  * splitting back apart), which no amount of min-propagation from the
  * preserved labels can produce. The correct incremental unit is
  * therefore the component: reset the affected components' labels to
  * self-ids and re-converge just that subgraph, splicing the result into
  * the untouched labels. The change-propagation filter (F30) becomes
  * set-valued — delta docs → touched buckets → candidate docs → affected
  * components — instead of a per-key distance threshold.
  *
  * Soundness of the affected set (what makes "only reachable components"
  * exact, not approximate): pairs are a pure function of bucket
  * membership ([[Dedup.pairsFromBands]]), and a bucket's membership
  * changes only if the delta added or removed one of its rows. So
  *  (1) every pair gained or lost involves a doc sharing a bucket with a
  *      delta doc — a "candidate"; components not containing a candidate
  *      keep exactly their old pair set and labels;
  *  (2) recomputing candidates' components needs their old pairs too, so
  *      the subgraph spans every member of every affected component;
  *  (3) pair regeneration runs over the affected buckets' FULL post-delta
  *      membership (never membership restricted to affected docs), so
  *      big-bucket cap decisions and star representatives come out
  *      exactly as a full recompute would — a delta pushing a bucket
  *      across `maxBucket` flips that bucket's pair shape for ALL its
  *      members, and all its members are candidates by (1);
  *  (4) a regenerated pair between two NON-affected docs (possible when
  *      an unchanged bucket holds both affected and unaffected docs) is
  *      discarded — it existed before, inside some untouched component —
  *      by keeping only pairs with both endpoints in the affected set.
  *
  * Scale shape: the delta's bucket/candidate/component frontier is a few
  * semi-joins on (band, bv) and id — each O(|delta| + |affected|), never
  * a corpus scan except the one semi-join selecting affected-bucket rows
  * out of the (columnar, persisted) band table; the label loop then runs
  * on the affected subgraph only. Driver-side data: nothing (all
  * set-oriented joins; the component loop's O(1) label-sum convergence
  * scalar is inside [[Dedup.connectedComponents]]).
  */
object IncrementalDedup {

  /** Run the base job and preserve its state: band table + component
    * labels, both persisted (catalog-visible caches; `release` frees
    * them). Same pair/cluster semantics as
    * `connectedComponents(simhashNearDups(df))` — gate-enforced. */
  def preserveClusters(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): DedupClusterState = {
    val bands = Dedup.explodeBands(
      Dedup.simhashDigests64(df, idCol, textCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bands.count()
    val comps = Dedup.connectedComponents(
      Dedup.pairsFromBands(bands, maxHamming, maxBucket))
    DedupClusterState(bands, comps, maxHamming, maxBucket, () => {
      bands.unpersist(blocking = false)
      comps.unpersist(blocking = false)
    })
  }

  /** Continue preserved cluster state over a document delta, under the
    * state's own pairing parameters (see [[DedupClusterState]]).
    *
    * @param state      preserved base state ([[preserveClusters]] or
    *                   [[DedupClusterState.read]])
    * @param addedDocs  new documents (idCol, textCol, …) — ids must be
    *                   fresh (not present in the base corpus)
    * @param removedIds single-column frame of base doc ids to remove
    * @return (id, comp) for every id in the POST-delta pair graph —
    *         identical to a full recompute over the updated corpus
    *         (spec- and gate-enforced)
    */
  def incrementalClusters(state: DedupClusterState, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String, textCol: String): DataFrame =
    incrImpl(state, addedDocs, removedIds, idCol, textCol,
      keepBands = false)._1

  /** [[incrementalClusters]] that ALSO rolls the state forward: returns
    * the post-delta [[DedupClusterState]] (band table and components
    * both updated and materialized), so a long-lived pipeline can chain
    * delta after delta without ever re-preserving — the reference's
    * repeated-continuation mode (`ReduceTask.java:3504-3691` re-enters
    * with the previous pass's preserve files). `comps` of the returned
    * state IS the continuation's output. Costs one extra corpus-width
    * pass over the (cached) band table vs [[incrementalClusters]]; for
    * durable chaining write()/read() the returned state. */
  def continueClusters(state: DedupClusterState, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String, textCol: String): DedupClusterState = {
    val (out, bandsNext) = incrImpl(state, addedDocs, removedIds, idCol,
      textCol, keepBands = true)
    val b = bandsNext.get
    DedupClusterState(b, out, state.maxHamming, state.maxBucket, () => {
      b.unpersist(blocking = false)
      out.unpersist(blocking = false)
    })
  }

  /** The residence-independent core of the continuation — stages 2-5
    * of the affected-set algorithm (soundness notes (1)-(4) above),
    * SHARED verbatim by the in-memory path ([[incrImpl]]) and the
    * segmented store ([[DedupClusterStore.continueAt]]) so the two
    * cannot drift. Inputs are views whose residence the caller chose
    * (cached frames here, journal-resolved pruned parquet there):
    *
    * @param postBands      post-delta band table (doc_id, h1, h2, band, bv)
    * @param changedBuckets (band, bv) whose membership the delta changed
    * @param comps          pre-delta component labels (id, comp)
    * @param rem            removed ∪ replaced ids (single column _rid)
    * @param mat            caller's leaf-materializer (lifetime owner)
    * @return (affected ids as _aid — materialized via mat,
    *          affected comp labels as _acomp — materialized via mat,
    *          newComps — the re-converged affected subgraph, persisted
    *          by [[Dedup.connectedComponents]]; caller unpersists)
    */
  private[operators] def affectedAndReconverge(postBands: DataFrame,
      changedBuckets: DataFrame, comps: DataFrame, rem: DataFrame,
      maxHamming: Int, maxBucket: Int, mat: DataFrame => DataFrame,
      pruneBandsFor: (DataFrame, DataFrame) => DataFrame = (pb, _) => pb,
      // store callers override the AFFECTED set's materializer to fuse
      // their bucket-set gathering into the same job (guide §1.2)
      matAffected: DataFrame => DataFrame = null)
      : (DataFrame, DataFrame, DataFrame) = {
    val candidates = mat(postBands
      .join(changedBuckets, Seq("band", "bv"), "left_semi")
      .select(col("doc_id").as("_cand")).distinct())
    val touchers = candidates
      .unionByName(rem.select(col("_rid").as("_cand")))
    val affectedComps = mat(comps
      .join(touchers, col("id") === col("_cand"), "left_semi")
      .select(col("comp").as("_acomp")).distinct())
    val members = comps
      .join(affectedComps, col("comp") === col("_acomp"), "left_semi")
      .join(rem, col("id") === col("_rid"), "left_anti")
      .select(col("id").as("_aid"))
    val affected = (if (matAffected == null) mat else matAffected)(members
      .unionByName(candidates.select(col("_cand").as("_aid")))
      .distinct())
    // pair regeneration over the affected buckets' FULL post-delta
    // membership (note (3)), then restricted to A (note (4)).
    // pruneBandsFor lets a doc-bucketed store turn the affected-docs
    // probe into partition pruning (it receives the materialized
    // affected set); the (band, bv)-keyed scans below are inherently
    // corpus-width (bucket-mates live anywhere).
    val bucketsOfA = pruneBandsFor(postBands, affected)
      .join(affected, col("doc_id") === col("_aid"), "left_semi")
      .select("band", "bv").distinct()
    val subBands = mat(postBands.join(bucketsOfA, Seq("band", "bv"), "left_semi"))
    val pairs = mat(Dedup.pairsFromBands(subBands, maxHamming, maxBucket)
      .join(affected, col("a") === col("_aid"), "left_semi")
      .join(affected, col("b") === col("_aid"), "left_semi"))
    (affected, affectedComps, Dedup.connectedComponents(pairs))
  }

  private def incrImpl(state: DedupClusterState, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String, textCol: String,
      keepBands: Boolean): (DataFrame, Option[DataFrame]) = Pins.scope { pins =>
    val maxHamming = state.maxHamming
    val maxBucket = state.maxBucket
    // Every frontier frame below is MATERIALIZED as a lineage-free leaf
    // before fan-out, for two reasons measured at sf0.1: (1)
    // pairsFromBands scans its input from five plan branches and
    // connectedComponents two more — a lazy semi-join chain would
    // re-execute against the full band table once per branch (3× the
    // whole query's budget); (2) plain persists keep the full caller
    // lineage in every downstream plan, and re-analyzing/canonicalizing
    // that deep tree per reference costs DRIVER seconds even with every
    // byte cached (the round-5 stats-compounding lesson, same cure:
    // GraftSqlShim leaves). The leaves are delta/affected-sized — never
    // the corpus — and the scope releases them before returning.
    def timed[T](label: => String)(f: => T): T =
      graft.core.IncrementalJob.timed("[incr-dedup]")(label)(f)
    val removed = removedIds.select(col(removedIds.columns.head).as("_rid"))
    // F28-analog: re-map ONLY the delta — fresh band rows for added docs.
    val newBands = timed("new bands")(pins(Dedup.explodeBands(
      Dedup.simhashDigests64(addedDocs, idCol, textCol))))

    // Post-delta band table (the merged kvs, F29): old rows minus the
    // removed docs' rows, plus the added docs' rows — a lazy view over
    // the two caches (scanned by the stages below, cheap per scan).
    // With keepBands (state continuation) it is instead materialized as
    // the NEXT state's catalog-visible band table, and the stages scan
    // that cache.
    val postBandsView = state.bands
      .join(removed, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(newBands)
    val postBands =
      if (!keepBands) postBandsView
      else timed("next bands") {
        val p = postBandsView.persist(StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }

    // F30 set-valued change propagation, stage 1: buckets whose
    // membership changed = buckets of added docs + buckets of removed
    // docs (their OLD band rows — that is what the preserved band table
    // is for).
    val changedBuckets = newBands.select("band", "bv")
      .unionByName(state.bands
        .join(removed, col("doc_id") === col("_rid"), "left_semi")
        .select("band", "bv"))
      .distinct()

    // Stages 2-5 (candidates → affected components/docs → pair
    // regeneration → re-converge) run in the SHARED residence-
    // independent core ([[affectedAndReconverge]]) — one definition
    // for this path and the segmented store, no drift.
    val (_, affectedComps, newComps) = timed("affected+reconverge")(
      affectedAndReconverge(postBands, changedBuckets, state.comps,
        removed, maxHamming, maxBucket, pins(_)))
    // The result is a catalog-visible cache (session clearCache /
    // caller unpersist both reclaim it); every internal leaf is freed
    // here, after the splice materializes from them.
    val out = state.comps
      .join(affectedComps, col("comp") === col("_acomp"), "left_anti")
      .unionByName(newComps)
      .persist(StorageLevel.MEMORY_AND_DISK)
    timed("splice")(out.count())
    newComps.unpersist(blocking = false)
    (out, if (keepBands) Some(postBands) else None)
  }
}
