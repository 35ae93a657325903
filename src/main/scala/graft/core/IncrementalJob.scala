package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.StructField
import org.apache.spark.storage.StorageLevel

import graft.operators.SegStore

/** Preserved state of a converged iterative run (the paper's "MRBGraph";
  * reference `IFile.PreserveFile`, `IFile.java:478-800`, written by
  * `runPreserveReducer`, `ReduceTask.java:3155-3207`).
  *
  * Two Parquet-friendly tables instead of a hash-indexed random-access
  * file (SURVEY §4: set-oriented joins replace point lookups; columnar
  * immutable snapshots replace in-place updates — the design that holds
  * at 100 TB where the preserve store must be bucketed, compacted
  * columnar data, not a single random-access file):
  *
  *  - `kvs(k2, sk, …payload)` — per output key `k2`, the bag of
  *    contributions with their *source* static key `sk` (the reference's
  *    4-tuple shuffle provenance, F17).
  *  - `out(k2, …out)` — the run's final per-key outputs.
  *
  * Consistency contract: `kvs` is derived from the final dynamic state,
  * so for every source `s` its stored contribution equals what `s`
  * would emit given its current output value. (The reference instead
  * stores the literal last reduce inputs, which matches this only at
  * convergence — deriving from the final state makes incremental runs
  * exact even when the base run stopped early.) [[IncrementalJob]]
  * RE-ESTABLISHES this invariant at loop exit (the final frontier's
  * rows are re-derived from the final out — see the exit-invariant
  * block there), so chained continuations hand each other the same
  * contract preserve() provides.
  *
  * `release` frees whatever caches back the two frames (set by the
  * `preserve()` builders — the library cache-release contract). Call it
  * once every incremental continuation that uses this state has
  * finished; the default is a no-op (e.g. parquet-backed state has
  * nothing to free).
  */
final case class PreservedState(kvs: DataFrame, out: DataFrame,
    release: () => Unit = () => ()) {
  /** Materialize both tables as Parquet "state tables" (F27). */
  def write(path: String): Unit = {
    kvs.write.mode("overwrite").parquet(s"$path/kvs")
    out.write.mode("overwrite").parquet(s"$path/out")
  }
}

object PreservedState {
  def read(spark: org.apache.spark.sql.SparkSession, path: String): PreservedState =
    PreservedState(
      spark.read.parquet(s"$path/kvs"),
      spark.read.parquet(s"$path/out"))
}

/** Result of an incremental run: the final per-key outputs, the merged
  * contribution store, the number of loop iterations executed,
  * `frontierSizes` — the frontier size in SOURCE-key space recorded
  * after EACH executed iteration's F30 filter + projection (the
  * reference's per-round non-converged-items counter,
  * `ReduceTask.java:3493-3494`: under One2One, where sk-space ==
  * k2-space, this IS the count of keys whose output moved ≥ θ — the
  * keys the filter let propagate; 0 marks the round that absorbed the
  * change; One2All/One2Mul record the projected source count) — and a
  * `release` thunk freeing the loop's remaining segment leaves. The
  * `out`/`kvs` frames are lazy views over those leaves — consume (or
  * copy) them BEFORE calling `release`; [[IncrementalJob.finish]] does
  * the standard copy-then-release dance for callers that only need
  * `out`. In durable mode release keeps the final segment Parquet dirs
  * on disk (they ARE the preserved artifact) and frees only block-cache
  * leaves.
  *
  * `advice` (store mode only): the continuation's continue-vs-rebuild
  * economics ([[graft.operators.StorePolicy.ContinueAdvice]]) —
  * `advice.exists(_.rebuildRecommended)` means this delta's footprint
  * crossed the measured crossover and a re-init would likely be
  * cheaper than continuations of this class. Programmatic twin of the
  * stderr advisory (round-10 verdict #3).
  *
  * `inTask`: the continuation ran every round inside one Spark task
  * (the in-task path of [[IncrementalJob]]) rather than the
  * distributed loop. */
final case class IncrResult(out: DataFrame, kvs: DataFrame, iterations: Int,
    release: () => Unit,
    advice: Option[graft.operators.StorePolicy.ContinueAdvice] = None,
    frontierSizes: Seq[Long] = Nil,
    inTask: Boolean = false)

/** Incremental (delta) recomputation over a preserved run — the
  * reference's F28-F31 (`runIncrementalMapper` `MapTask.java:1157-1287`,
  * MRBGraph merge loop `ReduceTask.java:1021-1217`, incremental
  * iterative drivers `ReduceTask.java:3504-3691`) as a driver loop over
  * set-oriented DataFrame ops:
  *
  * per iteration, with `frontier` = the source keys whose static rows or
  * dynamic values changed:
  *   1. re-map only the frontier's static rows against current dynamic
  *      values → fresh contributions (F28);
  *   2. merge into `kvs`: drop every stored contribution of a frontier
  *      source, insert the fresh ones (replace-on-equal + delete —
  *      the MRBGraph merge, F29);
  *   3. affected keys = outputs that lost or gained a contribution;
  *      re-reduce ONLY those groups from the merged bag;
  *   4. change-propagation filter (F30): affected keys whose output
  *      moved ≥ `filterThreshold` become the next frontier
  *      (`setFilterThreshold`, `JobConf.java:423-428`); θ=0 propagates
  *      every affected key (exact mode).
  *
  * Under One2One a frontier source with static rows but no out row (a
  * key new to the graph) maps to nothing, since the mapper joins the
  * two; it becomes affected itself instead, so the reduce gives it a
  * value and the next round maps it. Under θ>0 that next round does
  * not come: the key has no old value, so the old⋈new filter keeps it
  * out of the frontier. The exit refresh therefore maps every round's
  * new sources along with the final frontier, so kvs holds their
  * contributions, computed from their final out values. Both paths
  * below do this.
  *
  * IN-TASK PATH (the reference's long-lived iteration tasks,
  * `MapTask.java:575-607`). A store-mode One2One continuation whose
  * instantiation supplies a [[RowKernel]] runs every round and the
  * exit-invariant refresh inside ONE Spark task ([[InTaskLoop]]) when
  * the state it would read — the store's kvs and out plus the static
  * relation — fits under [[IncrementalJob.InTaskMaxStateBytes]]. The
  * state is sized by the optimizer's `sizeInBytes` of the lazy frames
  * (file sizes for the store scans, so the check runs no job). The task
  * holds that state as boxed rows in hash maps, 17-23× its parquet
  * bytes on the heap, which is what the bound limits. One job gathers
  * the state into one partition, runs the loop and materializes the
  * full rows of the touched buckets as one leaf whose touched-bucket
  * sets ride the same job; the leaf goes to the same
  * [[SegmentedStateStore.commit]] (lease, journal and `appliedBatch`
  * fence unchanged). The continuation then costs a few jobs (the
  * gather+loop, a meta read and the commit's staging writes) instead
  * of ~4 per round. The gathered state is the whole store, which is
  * never more I/O than the distributed loop's per-round kvs scan.
  * `spark.sql.autoBroadcastJoinThreshold` caps what Spark may gather
  * into one place, so it caps the bound too: a lower threshold lowers
  * it, −1 (no broadcasts) turns the path off, and a higher one does
  * not raise it. Above the bound or without a kernel the distributed
  * loop below runs unchanged; [[IncrResult.inTask]] records which path
  * ran.
  *
  * @param updatedStatic static relation AFTER applying the delta,
  *                      carrying source-key column `sk`
  * @param mapContribs   (frontierStatic, frontierDynamic) → fresh
  *                      contribution rows (k2, sk, …payload)
  * @param reduce        (affectedKeys(k2), kvsOfAffected) → (k2, …out);
  *                      must emit a row for EVERY affected key (an
  *                      affected key may have an empty bag)
  * @param outToDyn      project an out row to the dynamic-value row the
  *                      mapper consumes (often identity/rename)
  * @param distance      per-key distance between old and new out rows,
  *                      given columns (old, new) — used by the F30 filter
  * @param projectKind   how changed outputs project back to source keys
  *                      (the reference's map-side projector, F11/F13,
  *                      `MapTask.java:783-815`): One2One — sk-space ==
  *                      k2-space, the mapper sees the frontier keys' own
  *                      dynamic values and affected keys ARE the next
  *                      frontier (PageRank, matvec). One2All — every
  *                      source depends on ALL dynamic values (KMeans
  *                      centers): the mapper receives the full out
  *                      state, and any output moving ≥ θ re-dirties
  *                      every source key. One2Mul — each dynamic key
  *                      feeds MANY static keys through an explicit
  *                      dependency relation (blocked GIM-V: an output
  *                      row-block is read by every tile in that block
  *                      column): supply [[backProject]].
  * @param backProject   One2Mul only: maps a frame of moved output keys
  *                      (single column `k2`) to the source keys that
  *                      consume them (single column `sk`) — the inverse
  *                      of the reference's projector
  *                      (`MatrixVector.java:315-340` ONE2MUL). The
  *                      mapper's dynamic scope under One2Mul is the full
  *                      out state (the mapContribs join selects what a
  *                      frontier source actually reads).
  * @param includeOldOut when true, the affected frame passed to `reduce`
  *                      also carries the PRE-update out columns renamed
  *                      `_old_<name>` (null for brand-new keys) — for
  *                      reduces whose empty-bag rule is "keep the old
  *                      value" (KMeans' empty-cluster rule) rather than
  *                      an identity element
  * @param segStore      SEGMENTED durable state mode ([[SegmentedStateStore]]):
  *                      the loop's initial kvs/out segments are LAZY
  *                      reads over the store's live bucket dirs (no
  *                      init materialization — untouched buckets are
  *                      never read, partition pruning serves the
  *                      touched-bucket filters), per-iteration dirty
  *                      segments stay in-memory leaves (a crash mid-
  *                      loop re-runs the continuation from the intact
  *                      store), and ONE journaled [[SegmentedStateStore.commit]]
  *                      at loop end rewrites exactly the buckets the
  *                      loop touched — delta-proportional durable
  *                      writes, the round-8 DupSpansStore discipline on
  *                      the engine's own F27-F31 state. When set,
  *                      `preserved` and `durableStatePath` are ignored
  *                      (pass `segStore.get.preserved` for clarity) and
  *                      `stateBuckets` is the store's bucket count.
  * @param staticSource  DURABLE BUCKETED STATIC mode ([[StaticSource]]):
  *                      the static relation lives in a key-bucketed
  *                      store prepared ONCE (reference F34/F35 — static
  *                      distributed once, locally cached across jobs),
  *                      and the loop reads it PRUNED to the frontier's
  *                      buckets each iteration instead of
  *                      repartition+persisting the whole relation per
  *                      continuation. When set, `updatedStatic` is used
  *                      only for its SparkSession (pass
  *                      `staticSource.get.all` for clarity); the
  *                      One2All/One2Mul all-sources projection still
  *                      scans `all` (inherent to those cardinalities).
  * @param kernel        row-level twin of `mapContribs`/`reduce`/
  *                      `distance`; enables the in-task path (store
  *                      mode, One2One only)
  */
final class IncrementalJob(
    updatedStatic: DataFrame,
    skCol: String,
    k2Col: String,
    preserved: PreservedState,
    initialFrontier: DataFrame, // single column: sk
    mapContribs: (DataFrame, DataFrame) => DataFrame,
    reduce: (DataFrame, DataFrame) => DataFrame,
    outToDyn: DataFrame => DataFrame,
    distance: (Column, Column) => Column,
    projectKind: ProjectKind = ProjectKind.One2One,
    backProject: Option[DataFrame => DataFrame] = None,
    includeOldOut: Boolean = false,
    filterThreshold: Double = 0.0,
    maxIterations: Int = 10,
    numPartitions: Int = 32,
    stateBuckets: Int = 32,
    broadcastMaxRows: Long = 4L * 1000 * 1000,
    compactionInterval: Int = 4,
    durableStatePath: Option[String] = None,
    segStore: Option[SegmentedStateStore] = None,
    segStoreBatchId: Option[Long] = None,
    staticSource: Option[StaticSource] = None,
    kernel: Option[RowKernel] = None) {

  require(projectKind != ProjectKind.One2Mul || backProject.isDefined,
    "One2Mul needs backProject: moved k2 keys -> dependent sk keys")

  /** Run the loop. Stops early when the frontier empties (all change
    * absorbed — the reference's non-converged-items counter hitting 0,
    * `ReduceTask.java:3493`). The result's frames are lazy views over
    * the loop's final segment leaves; see [[IncrResult]] for the
    * release contract. */
  def run(): IncrResult = {
    val n = numPartitions
    val spark = updatedStatic.sparkSession
    // The loop re-joins frames derived from each other across iterations;
    // Spark's DetectAmbiguousSelfJoin false-positives on those (all our
    // joins use explicit per-frame column references or USING columns,
    // so resolution is unambiguous). Disable it for the loop via a
    // THREAD-LOCAL conf override (GraftSqlShim.withConfOverrides):
    // Datasets analyze eagerly at construction and analyzer rules read
    // SQLConf.get, so every frame the loop builds sees the toggle while
    // a concurrent caller sharing the SparkSession on another thread
    // never does — the session-wide mutation (and its newSession()
    // caveat) is gone (round-11 residual #4).
    try GraftSqlShim.withConfOverrides(spark,
      Map("spark.sql.analyzer.failAmbiguousSelfJoin" -> "false"))(runLoop(n))
    finally {
      // store mode: the commit released the lease on success; this
      // covers the no-commit and exception paths (idempotent)
      segStore.foreach(_.releaseLease())
    }
  }

  private val debugTiming = IncrementalJob.timingEnabled
  private def timed[T](label: => String)(f: => T): T =
    IncrementalJob.timed("[incr]")(label)(f)

  /** Materialize `df` as a lineage-truncated leaf with real (cached-
    * block-derived) statistics, plus the distinct values of the INT
    * columns named in `sets` from the same job.
    *
    * Plain `localCheckpoint` bakes `originStats` from the *optimized
    * plan's* estimate; in a loop whose frames feed each other (frontier ←
    * affected ← kvs/out ← frontier …) those estimated `sizeInBytes`
    * products compound geometrically across iterations until the BigInt
    * arithmetic inside Catalyst's stats visitor dominates the wall clock
    * (digit count doubles per round). [[GraftSqlShim.pin]] checkpoints
    * the plan's own InternalRow RDD and attaches explicit statistics
    * from the cached block sizes: one cached copy, one job,
    * constant-size stats. The release thunk unpersists the raw-RDD
    * blocks — which `spark.catalog.clearCache()` CANNOT see — so the
    * loop frees superseded state deterministically instead of leaving
    * dead blocks to the ContextCleaner's GC mercy (measured as
    * multi-× run-to-run bench variance before round 5).
    *
    * With [[durableStatePath]] set, STATE segments (`durable = true`:
    * the kvs/out stores — the reference's preserve files,
    * `ReduceTask.java:3352-3372`) are written as Parquet instead: an
    * executor loss mid-loop can then recompute from files, where
    * `localCheckpoint` blocks are non-replicated and die with their
    * executor. Scratch frames (frontier/affected/fresh — recomputable
    * from the stores, and the only ones that ask for `sets`) never hit
    * the durable path. A durable segment's release DELETES its
    * directory, so retiring/compacting segments cleans dead dirs; the
    * final manifest's dirs are kept by [[IncrResult.release]] (they are
    * the durable artifact). */
  private var segCounter = 0L
  private def materialize(df: DataFrame, durable: Boolean = false,
      sets: Seq[String] = Nil): GraftSqlShim.Pinned =
    (if (segStore.isDefined) None else durableStatePath) match {
      case Some(dir) if durable =>
        val path = s"$dir/seg-$segCounter"
        segCounter += 1
        graft.operators.SegSwap.writeTable(df, path)
        val spark = df.sparkSession
        val back = spark.read.parquet(path)
        val release = () => {
          graft.operators.SegSwap.fsOf(spark, path)
            .delete(new org.apache.hadoop.fs.Path(path), true)
          ()
        }
        GraftSqlShim.Pinned(back, back.count(), release, Nil, Nil)
      case _ => GraftSqlShim.pin(df, sets)
    }

  /** The in-task path's gate: `(estimated state bytes, bound)` when
    * this continuation may run in one task — store mode, One2One
    * without `includeOldOut`, a kernel, a store laid out `(k2, sk, …)`/
    * `(k2, …)` with sk of the pinned key type, and broadcasts not
    * disabled. The bytes are None when an input has no size statistics
    * ([[IncrementalJob.stateBytes]]). The bound is
    * [[IncrementalJob.InTaskMaxStateBytes]], or the broadcast threshold
    * when that is lower. The caller compares the two. */
  private def inTaskEstimate(st: SegmentedStateStore)
      : Option[(Option[BigInt], Long)] = {
    val (kvs, out) = (st.kvs, st.out)
    val threshold = GraftSqlShim.broadcastThreshold
    val eligible = kernel.isDefined && projectKind == ProjectKind.One2One &&
      !includeOldOut && threshold >= 0 &&
      kvs.columns.take(2).sameElements(Seq(k2Col, skCol)) &&
      out.columns.head == k2Col && kvs.schema(skCol).dataType == st.keyType
    if (!eligible) None
    else Some((IncrementalJob.stateBytes(Seq(kvs, out,
        staticSource.map(_.all).getOrElse(updatedStatic))),
      math.min(threshold, IncrementalJob.InTaskMaxStateBytes)))
  }

  private def runLoop(nCap: Int): IncrResult = {
    val est = segStore.flatMap(inTaskEstimate)
    // state of unknown size keeps the distributed loop
    val inTask = est.exists { case (bytes, limit) => bytes.exists(_ <= limit) }
    if (debugTiming) System.err.println(s"[incr] path=" +
      (if (inTask) "in-task" else "distributed") + est.fold("")({
        case (bytes, limit) => " (state " + bytes.fold("size unknown")(b =>
          f"${b.toDouble / 1e6}%.2f MB") + f", bound ${limit / 1e6}%.2f MB)" }))
    if (inTask) runInTask(segStore.get, kernel.get)
    else runDistributed(nCap)
  }

  /** The in-task path (see the class doc): gather, run [[InTaskLoop]]
    * in one task, commit its touched-bucket rows. */
  private def runInTask(st: SegmentedStateStore, k: RowKernel): IncrResult = {
    import org.apache.spark.sql.Row
    val spark = updatedStatic.sparkSession
    val sc = spark.sparkContext
    val (kvs, out) = (st.kvs, st.out)
    val kvsFields = kvs.schema.fields.filterNot(_.name == "_b").toSeq
    val outFields = out.schema.fields.filterNot(_.name == "_b").toSeq
    def tagged(df: DataFrame, tag: Int) = df.rdd.map(r => (tag, r))
    val static = staticSource.map(_.all).getOrElse(updatedStatic)
    // one scan of each input, concatenated into ONE partition (the
    // empty slice keeps one task even when every input is empty)
    val input = sc.union(Seq(
      tagged(kvs.select(kvsFields.map(f => col(f.name)): _*), InTaskLoop.KvsIn),
      tagged(out.select(outFields.map(f => col(f.name)): _*), InTaskLoop.OutIn),
      tagged(static.select(col(skCol).cast(st.keyType) +:
        k.staticCols.map(col): _*), InTaskLoop.StaticIn),
      tagged(initialFrontier.select(col(skCol).cast(st.keyType)),
        InTaskLoop.FrontierIn),
      sc.parallelize(Seq.empty[(Int, Row)], 1))).coalesce(1)
    val (bucket, theta, maxIter) = (st.bucketFn, filterThreshold, maxIterations)
    val (nKvs, nOut) = (kvsFields.size, outFields.size)
    val emitted = input.mapPartitions(it =>
      InTaskLoop.run(InTaskLoop.load(it), k, bucket, theta, maxIter, nKvs, nOut))
    val loop = timed("in-task loop")(
      materialize(spark.createDataFrame(emitted,
        InTaskLoop.wideSchema(kvsFields, outFields)), sets = Seq("_kb", "_ob")))
    val (leaf, sets) = (loop.leaf, loop.sets)
    try {
      val meta = leaf.filter(col("_t") === InTaskLoop.Meta)
        .select("_iters", "_fs").head()
      val (touchedKvs, touchedOut) = (sets(0), sets(1))
      // a bucket row's column arrays, zipped back into table rows
      def table(t: Int, prefix: String, fields: Seq[StructField], b: String) =
        leaf.filter(col("_t") === t)
          .select(col(b), inline(arrays_zip(fields.map(f =>
            col(s"$prefix${f.name}")): _*)))
          .toDF("_b" +: fields.map(_.name): _*)
          .select(fields.map(f => col(f.name)) :+ col("_b"): _*)
      val advice = if (touchedKvs.isEmpty && touchedOut.isEmpty) None else {
        timed(s"segstore commit (${touchedKvs.size}+${touchedOut.size}/" +
          s"${st.nBuckets} buckets)")(st.commit(
            table(InTaskLoop.KvsBucket, "_k_", kvsFields, "_kb"),
            table(InTaskLoop.OutBucket, "_o_", outFields, "_ob"),
            touchedKvs, touchedOut, segStoreBatchId))
        Some(graft.operators.StorePolicy.advise("segstate",
          (touchedKvs ++ touchedOut).size, st.nBuckets))
      }
      IncrResult(st.out.drop("_b"), st.kvs.drop("_b"), meta.getInt(0),
        () => (), advice, meta.getSeq[Long](1), inTask = true)
    } finally loop.release()
  }

  private def runDistributed(nCap: Int): IncrResult = {
    // the caller's numPartitions is the parallelism CEILING; the
    // static relation's own size picks the working partition count
    // (guide §2 — the fixed constant was 32 near-empty tasks per
    // exchange at gate scale and far too few at 100 TB). All loop
    // repartitions share this one n, so dirty segments stay
    // key-co-located across iterations as before.
    val n = Adaptive.partitionsFor(
      staticSource.map(_.all).getOrElse(updatedStatic), nCap)
    // Static side: either a per-run repartition+persist of the caller's
    // frame (one-shot continuations handing a fresh driver frame), or —
    // in staticSource mode — NOTHING up front: the relation is already
    // bucketed on disk and each iteration reads only the frontier's
    // buckets (see staticFrontier below).
    val staticCached: Option[DataFrame] =
      if (staticSource.isDefined) None
      else Some(updatedStatic.repartition(n, col(skCol))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // ---- frontier binding ----------------------------------------------
    // EVERY (re)bind of the frontier handle goes through bindFrontier.
    // The frontier's bucket sets — its static-store buckets (the
    // staticFrontier prune) and its state-store buckets (the One2One
    // out-scan prune) — are normally handed in by the BINDING SITE,
    // fused into the frontier's own materialization job or derived
    // from the iteration's touched set (a SUPERSET is always safe:
    // pruned reads are re-filtered by the frontier join, so extra
    // buckets add scan width, never rows). Only a site with no fused
    // set falls back to the old distinct().collect() job, memoized by
    // frame identity (round-11 advice #4).
    var frontier: DataFrame = null
    var frontierSize: Long = 0L
    var frontierStaticBs: Set[Int] = Set.empty
    var frontierStaticBsFor: AnyRef = null
    // state-store buckets of the frontier keys (One2One out-scan
    // prune); None = unknown, collect at use
    var frontierSegBs: Option[Set[Int]] = None
    def bindFrontier(df: DataFrame, size: Long,
        staticBs: Option[Set[Int]] = None,
        segBs: Option[Set[Int]] = None): Unit = {
      frontier = df
      frontierSize = size
      frontierSegBs = segBs
      staticSource.foreach { ss =>
        staticBs match {
          case Some(bs) =>
            frontierStaticBs = bs
            frontierStaticBsFor = df
          case None =>
            if (size > 0 && !(df.asInstanceOf[AnyRef] eq frontierStaticBsFor)) {
              frontierStaticBs = df.select(ss.bucketOf(col(skCol)).as("_sb"))
                .distinct().collect().map(_.getInt(0)).toSet
              frontierStaticBsFor = df
            }
        }
      }
    }
    /** The frontier's static rows. In staticSource mode the scan is
      * partition-pruned to `frontierStaticBs` — the bucket set derived
      * by [[bindFrontier]] AT THE MOMENT the frontier handle was
      * (re)bound — regardless of corpus size. */
    def staticFrontier(fk: DataFrame, label: String): DataFrame =
      staticSource match {
        case Some(ss) =>
          if (debugTiming) System.err.println(
            s"[incr] $label static pruned read: " +
              s"${frontierStaticBs.size}/${ss.nBuckets} buckets")
          ss.pruned(frontierStaticBs)
            .join(fk, col(skCol) === col("_fk")).drop("_fk")
        case None =>
          staticCached.get.join(fk, col(skCol) === col("_fk")).drop("_fk")
      }
    // store mode: the bucket fn and count MUST be the store's (same
    // hash, same B, key dtype pinned) or touched-bucket bookkeeping
    // and the final commit would disagree with the files on disk
    val B = segStore.map(_.nBuckets).getOrElse(stateBuckets)
    def bucketOf(c: Column): Column = segStore match {
      case Some(st) => st.bucketOf(c)
      case None => pmod(xxhash64(c), lit(B.toLong)).cast("int")
    }
    def pinK2(df: DataFrame): DataFrame =
      segStore.map(_.pinKey(df)).getOrElse(df)

    // ---- segmented, bucketed state store --------------------------------
    // The preserved state (keyed by the OUTPUT key k2) lives as a list of
    // disjoint checkpointed SEGMENTS whose rows carry a key-hash bucket id
    // `_b` — an LSM-flavored columnar analog of the reference's indexed
    // preserve file (`IFile.java:478-800`, point updates without a full
    // rewrite). Per iteration, only rows in buckets containing affected
    // keys are copied into one new "dirty" segment (one optimized plan,
    // one job); untouched rows stay behind as lazy filter views over the
    // older segment leaves — never read, never copied. Rows the MRBGraph
    // merge must DELETE (old contributions of frontier sources) have
    // affected k2 by construction, so touching only affected buckets is
    // complete. Segments are compacted back into one frame every
    // `compactionInterval` iterations so view predicates and partition
    // counts stay bounded.
    //
    // Each segment carries its bucket set as DRIVER-side metadata (≤ B
    // ints — the store's manifest, like an LSM level list) and the leaf's
    // release thunk. A rewrite that touches all of a segment's buckets
    // DROPS the segment — and RELEASES its blocks (or deletes its durable
    // dir) on the spot: the dirty segment that supersedes it was already
    // materialized, so nothing can reference the old leaf again. Without
    // the manifest, a delta that reaches most keys still re-reads every
    // superseded segment per iteration; without the release, every
    // superseded segment's blocks linger for the whole run (the round-4
    // bench variance source).
    case class Seg(df: DataFrame, buckets: Set[Int], release: () => Unit,
        base: Boolean = false)
    def initStore(df: DataFrame, isKvs: Boolean, label: String): List[Seg] =
      segStore match {
      // store mode: the base segment is a LAZY read over the store's
      // live bucket dirs — nothing is materialized, and the loop's
      // touched-bucket filters become parquet partition pruning, so a
      // small delta never even READS the untouched state. The table is
      // selected by the explicit isKvs flag, never by matching the
      // timing label (a rename there must not rebind the base segment).
      case Some(st) =>
        val base = if (isKvs) st.kvs else st.out
        List(Seg(base, (0 until B).toSet, () => (), base = true))
      case None => timed(label) {
        val p = materialize(df.repartition(n, col(k2Col))
          .withColumn("_b", bucketOf(col(k2Col))), durable = true)
        List(Seg(p.leaf, (0 until B).toSet, p.release))
      }
    }
    def unionSegs(segs: List[Seg]): DataFrame = segs.map(_.df).reduce(_ unionByName _)
    def scanAll(segs: List[Seg]): DataFrame = unionSegs(segs).drop("_b")
    /** Rows of `segs` in `touched` buckets — segments with no touched
      * bucket are skipped, fully-touched segments scan unfiltered. */
    def scanTouched(segs: List[Seg], touched: Set[Int], isTouched: Column): DataFrame =
      segs.collect {
        case Seg(df, bs, _, _) if bs.subsetOf(touched) => df
        case Seg(df, bs, _, _) if (bs & touched).nonEmpty => df.filter(isTouched)
      }.reduce(_ unionByName _)
    /** `segs` minus `touched` buckets: dead segments are dropped AND
      * their leaves released (the superseding dirty segment is already
      * materialized when this runs); untouched segments pass through
      * unfiltered; partially-touched ones become filter views that keep
      * their parent leaf's release thunk. */
    def dropTouched(segs: List[Seg], touched: Set[Int], isTouched: Column): List[Seg] =
      segs.flatMap {
        case Seg(_, bs, rel, _) if bs.subsetOf(touched) => rel(); None
        case s @ Seg(_, bs, _, _) if (bs & touched).isEmpty => Some(s)
        case Seg(df, bs, rel, b) =>
          Some(Seg(df.filter(!isTouched), bs -- touched, rel, b))
      }

    var kvsSegs = initStore(preserved.kvs, isKvs = true, "init kvs store")
    var outSegs = initStore(preserved.out, isKvs = false, "init out store")
    var sinceCompact = 0
    // store mode: union of every iteration's touched buckets — exactly
    // the buckets whose live dirs the final commit must replace. PER
    // TABLE: loop iterations touch the same buckets on both (affected
    // keys drive both rewrites), but the exit-invariant kvs refresh
    // touches kvs ONLY — journaling its buckets for out too would
    // delete out rows the loop never staged replacements for
    var cumTouchedKvs = Set.empty[Int]
    var cumTouchedOut = Set.empty[Int]

    // ---- scratch-leaf lifecycle ----------------------------------------
    // Frontier/affected/fresh leaves are dead one iteration after they
    // were created (iteration i's frontier — created in iteration i-1 —
    // is last read by iteration i's merge joins). Tracking them in two
    // rotating generations gives deterministic release with no
    // reference counting: at the end of iteration i, generation i-1 is
    // released wholesale.
    var scratchPrev = List.empty[() => Unit]
    var scratchCur = List.empty[() => Unit]
    def scratchLeaf(p: GraftSqlShim.Pinned): (DataFrame, Long) = {
      scratchCur ::= p.release; (p.leaf, p.rows)
    }

    // binds the frontier to the distinct `sk` keys of `keys`: its bucket
    // sets (state-store for the One2One out-scan prune, static-store for
    // staticFrontier) ride the same job that materializes the leaf —
    // zero extra jobs
    def bindKeys(keys: DataFrame): Unit = {
      val wantFb = segStore.isDefined
      val wantSb = staticSource.isDefined
      val base = keys.select(col(skCol)).distinct()
      val withFb = if (wantFb) base.withColumn("_fb", bucketOf(col(skCol)))
        else base
      val withSb = staticSource.map(ss =>
        withFb.withColumn("_fsb", ss.bucketOf(col(skCol)))).getOrElse(withFb)
      val statCols = (if (wantFb) Seq("_fb") else Nil) ++
        (if (wantSb) Seq("_fsb") else Nil)
      val p = materialize(withSb, sets = statCols)
      scratchCur ::= p.release
      val segBs = if (wantFb) Some(p.sets.head) else None
      val staticBs = if (wantSb) Some(p.sets.last) else None
      bindFrontier(p.leaf.select(col(skCol)), p.rows, staticBs, segBs)
    }
    bindKeys(initialFrontier)
    // θ>0 only: each round's brand-new sources (see the class doc) as
    // views over their fa leaves, kept alive for the exit refresh
    var newSources = List.empty[DataFrame]
    var newSourcesRelease = List.empty[() => Unit]
    var i = 0
    // per-iteration post-filter frontier sizes (the reference's
    // non-converged counter) — driver-side longs, one per round
    val fSizes = scala.collection.mutable.ListBuffer.empty[Long]

    // One2All/One2Mul frontier projection target: every source key.
    // Computed at most once (first use), reused, and released at loop
    // end — the static side is fixed for the whole run.
    var allSourcesRelease: () => Unit = () => ()
    lazy val allSources: (DataFrame, Long) = {
      val allStatic = staticSource.map(_.all).getOrElse(staticCached.get)
      val p = timed("all-sources leaf")(
        materialize(allStatic.select(col(skCol)).distinct()))
      allSourcesRelease = p.release
      (p.leaf, p.rows)
    }

    /** One2One: the frontier keys' own out rows — the only dynamic
      * values the mapper reads. They live in the frontier keys'
      * buckets, so in store mode that bucket set prunes the parquet
      * scan to O(frontier) partitions instead of the whole out state.
      * The set was fused into the frontier's own materialization (or
      * is the touched superset); the collect is a fallback. None for
      * One2All/One2Mul, whose mapper reads the whole out state. */
    def frontierOut(fk: DataFrame): Option[DataFrame] =
      if (projectKind != ProjectKind.One2One) None else {
        val outScan = if (segStore.isEmpty) scanAll(outSegs) else {
          val fb = frontierSegBs.getOrElse(
            frontier.select(bucketOf(col(skCol)).as("_b"))
              .distinct().collect().map(_.getInt(0)).toSet)
          scanTouched(outSegs, fb, SegStore.inBuckets(fb)).drop("_b")
        }
        Some(outScan.join(fk, col(k2Col) === col("_fk")).drop("_fk"))
      }

    // NOTE on column references: the loop re-joins frames derived from
    // one another (frontier ← affected ← kvs/out of earlier iterations),
    // and Catalyst rewrites expression ids when deduplicating such
    // self-joins — `df("col")` references then dangle. Every join below
    // therefore uses DISJOINT output names ("_fk"/"_aff" for the key
    // sets) and name-based resolution, which survives the rewrite.
    while (i < maxIterations && frontierSize > 0) {
      i += 1
      // frontier/affected key sets are usually small relative to the
      // preserved state (that is the point of incremental recomputation)
      // and are then broadcast, so state is probed in place and never
      // shuffles inside the loop; but a large delta (or θ=0 on a
      // well-connected graph) can blow the frontier up to most keys, so
      // the broadcast is guarded by row count with a shuffle-join
      // fallback instead of an executor OOM.
      val fkRaw = frontier.withColumnRenamed(skCol, "_fk")
      val fk = if (frontierSize <= broadcastMaxRows) broadcast(fkRaw) else fkRaw
      val staticF = staticFrontier(fk, s"iter $i")
      // dynamic values the mapper consumes: the frontier keys' own
      // values (One2One, k2-space == sk-space) or the whole out state
      // (One2All — e.g. every point needs every center, k broadcast-
      // sized rows; One2Mul — a source reads a SET of outputs and the
      // mapContribs join selects exactly the ones it needs)
      val outF = frontierOut(fk)
      val dynF = outToDyn(outF.getOrElse(scanAll(outSegs)))

      // Fresh contributions and the affected-key material are ONE
      // tagged materialization (one optimized plan, one job): fresh
      // rows tag "f"; the k2 keys of stored contributions the merge
      // will delete (frontier sources' old rows) tag "a" with null
      // payloads. Affected keys = distinct k2 of the union — both
      // sides of the old two-job fresh/affected split, with the full
      // kvs probe paid once instead of twice. The SAME job also yields
      // the iteration's touched-bucket set (distinct `_b` of fa ==
      // buckets of the affected keys, `_b` being a function of k2) and
      // — One2One — the affected keys' static-store buckets, so
      // neither needs its own collect job.
      // store mode pins the fresh keys' dtype to the store's (bucket
      // hashes are dtype-sensitive, and a widening union would change
      // the staged table's schema out from under the pinned DDL)
      val freshPlan = pinK2(mapContribs(staticF, dynF))
      val payloadCols = freshPlan.schema.fields.filter(_.name != k2Col)
      val nullPayload =
        payloadCols.map(f => lit(null).cast(f.dataType).as(f.name))
      val oldKeyRows = scanAll(kvsSegs)
        .join(fk, col(skCol) === col("_fk"), "left_semi")
        .select(col(k2Col) +: nullPayload: _*)
      // One2One: frontier sources with static rows but no out row (new
      // to the graph) are affected themselves (see the class doc)
      val newSourceRows = outF.map(o => pinK2(staticF
        .select(col(skCol).as(k2Col)).distinct()
        .join(o.select(col(k2Col).as("_ok")), col(k2Col) === col("_ok"),
          "left_anti"))
        .select(col(k2Col) +: nullPayload: _*))
      // One2One rebinds the frontier from the affected keys (or a ≥θ
      // subset) — their static buckets come out of this job too
      val wantFsb = staticSource.isDefined &&
        projectKind == ProjectKind.One2One
      // under θ>0 the new sources (tag "n") are tracked for the exit
      // refresh: `_nsb` is non-null on their rows only, so its set is
      // empty when the round has none
      val trackNew = filterThreshold > 0.0 && newSourceRows.isDefined
      val faPlan0 = (oldKeyRows.withColumn("_tag", lit("a")) +:
          newSourceRows.map(_.withColumn("_tag", lit("n"))).toSeq)
        .foldLeft(freshPlan.withColumn("_tag", lit("f")))(_ unionByName _)
        .withColumn("_b", bucketOf(col(k2Col)))
      val faPlan1 = if (!wantFsb) faPlan0 else
        faPlan0.withColumn("_fsb", staticSource.get.bucketOf(col(k2Col)))
      val faPlan = if (!trackNew) faPlan1 else
        faPlan1.withColumn("_nsb", when(col("_tag") === "n", col("_b")))
      val (faRaw, faSets) = timed(s"iter $i fresh+affected") {
        val p = materialize(faPlan, sets = "_b" +:
          ((if (wantFsb) Seq("_fsb") else Nil) ++ (if (trackNew) Seq("_nsb") else Nil)))
        if (trackNew && p.sets.last.nonEmpty) {
          newSources ::= p.leaf.filter(col("_tag") === "n")
            .select(col(k2Col).as(skCol))
          newSourcesRelease ::= p.release
        } else scratchCur ::= p.release
        (p.leaf, p.sets)
      }
      val fa = faRaw.drop("_fsb", "_nsb")
      val faTouched = faSets.head
      val faStaticBs = if (wantFsb) Some(faSets(1)) else None
      val fresh = fa.filter(col("_tag") === "f").drop("_tag")
      // affected keys as a leaf (they seed 3 joins and the next
      // frontier), counted by the materialization itself
      val (affected, affectedSize) = scratchLeaf(timed(s"iter $i affected")(
        materialize(fa.select(col(k2Col).as("_aff")).distinct())))
      if (affectedSize == 0) {
        // nothing to merge or re-reduce: the change is fully absorbed
        frontierSize = 0
      } else {
        val aff = if (affectedSize <= broadcastMaxRows) broadcast(affected) else affected
        // bucket ids holding affected keys — fused into the fa job above
        val touched = faTouched
        cumTouchedKvs ++= touched
        cumTouchedOut ++= touched
        val isTouched = SegStore.inBuckets(touched)

        // MRBGraph merge: copy ONLY touched-bucket rows into a new dirty
        // segment, dropping frontier sources' old contributions and
        // adding the fresh ones; untouched rows stay as lazy views and
        // fully-superseded segments leave the manifest (and free their
        // blocks). The dirty segment is re-hashed on k2 at
        // materialization: the union of broadcast-join outputs otherwise
        // SUMS its inputs' partition counts, and since the store feeds
        // itself through this plan the count doubles per iteration
        // (measured: constant rows, task count — and wall time — ×2
        // every round). The exchange moves only the touched rows and
        // leaves them co-located by key for the next iteration's probes.
        val dirtyKvs = {
          val p = timed(s"iter $i kvs merge (${touched.size}/$B buckets)")(
            materialize(scanTouched(kvsSegs, touched, isTouched)
              .join(fk, col(skCol) === col("_fk"), "left_anti")
              .unionByName(fresh)
              .repartition(n, col(k2Col)), durable = true))
          Seg(p.leaf, touched, p.release)
        }
        kvsSegs = dropTouched(kvsSegs, touched, isTouched) :+ dirtyKvs

        // re-reduce only affected groups (affected k2s hash to touched
        // buckets, so the merged dirty segment holds ALL their rows)
        // and fold the new outputs STRAIGHT into the dirty out-segment —
        // the reduce result is never materialized on its own.
        val kvsAffected = dirtyKvs.df
          .join(aff, col(k2Col) === col("_aff"), "left_semi").drop("_b")
        val affectedKeys = affected.withColumnRenamed("_aff", k2Col)
        val affectedForReduce = if (!includeOldOut) affectedKeys else {
          // pre-update out values, renamed so the reduce can fall back
          // to them (left join: a key first seen this iteration gets
          // nulls). PRUNED to the touched buckets: every affected key's
          // old row lives there by construction (touched = the affected
          // keys' own bucket set), and non-affected rows cannot survive
          // the left join anyway — a corpus-wide out scan per iteration
          // was pure waste (guide §6 pruning; 100 TB = whole-table scan
          // per iteration otherwise)
          val oldOut = scanTouched(outSegs, touched, isTouched).drop("_b")
          val renamed = oldOut.columns.foldLeft(oldOut)(
            (d, c) => d.withColumnRenamed(c, s"_old_$c"))
          affectedKeys.join(renamed,
            col(k2Col) === col(s"_old_$k2Col"), "left").drop(s"_old_$k2Col")
        }
        val newOutPlan =
          pinK2(reduce(affectedForReduce, kvsAffected))
            .withColumn("_b", bucketOf(col(k2Col)))
        val dirtyOut = {
          val p = timed(s"iter $i reduce+out (${touched.size}/$B buckets)")(
            materialize(scanTouched(outSegs, touched, isTouched)
              .join(aff, col(k2Col) === col("_aff"), "left_anti")
              .unionByName(newOutPlan)
              .repartition(n, col(k2Col)), durable = true))
          Seg(p.leaf, touched, p.release)
        }

        // F30 change-propagation filter — computed BEFORE the out store
        // swaps, since it compares against the pre-update state. θ=0
        // (exact mode): every affected key propagates. The moved keys
        // then project back to source-key space per `projectKind`:
        // One2One renames in place; One2All dirties every source as
        // soon as ANY output moved (each source reads all outputs);
        // One2Mul routes the moved keys through `backProject`'s
        // dependency relation.
        // `movedK2` carries the moved output keys under the k2Col name;
        // each projector maps them to source-key space its own way.
        // One2One rebinds with bucket sets already in hand: the moved
        // keys are a subset of the affected keys, so `touched` and the
        // fa job's static-bucket set are exact at θ=0 and safe
        // supersets under θ>0 (pruned reads re-filter on the join).
        def projectFrontier(movedK2: DataFrame, movedCount: Long): Unit =
          projectKind match {
            case ProjectKind.One2All if movedCount > 0 =>
              // every source re-dirties: the static prune is ALL buckets
              bindFrontier(allSources._1, allSources._2,
                staticSource.map(ss => (0 until ss.nBuckets).toSet), None)
            case ProjectKind.One2Mul if movedCount > 0 =>
              // the dependent sources' static buckets ride the
              // backproject materialization job
              val bp = backProject.get(movedK2).select(col(skCol)).distinct()
              val bpPlan = staticSource.map(ss =>
                bp.withColumn("_fsb", ss.bucketOf(col(skCol)))).getOrElse(bp)
              val statCols = if (staticSource.isDefined) Seq("_fsb") else Nil
              val p = timed(s"iter $i backproject")(
                materialize(bpPlan, sets = statCols))
              scratchCur ::= p.release
              bindFrontier(p.leaf.select(col(skCol)), p.rows,
                if (staticSource.isDefined) Some(p.sets.head) else None, None)
            case ProjectKind.One2All | ProjectKind.One2Mul =>
              frontierSize = 0 // nothing moved; frontier content unused
            case _ =>
              bindFrontier(movedK2.withColumnRenamed(k2Col, skCol), movedCount,
                faStaticBs, Some(touched))
          }
        if (filterThreshold <= 0.0) {
          projectFrontier(affected.withColumnRenamed("_aff", k2Col), affectedSize)
        } else {
          // the reduce output as a view over the dirty segment leaf
          val newOut = dirtyOut.df
            .join(aff, col(k2Col) === col("_aff"), "left_semi")
          // pre-update values of affected keys live in touched buckets
          // by construction — prune the old-side scan to them
          val old = scanTouched(outSegs, touched, isTouched).drop("_b")
            .select(col(k2Col).as("_ok"), struct(col("*")).as("_old"))
          val neu = newOut.drop("_b")
            .select(col(k2Col), struct(col("*")).as("_new"))
          val (f2, s2) = scratchLeaf(timed(s"iter $i frontier")(
            materialize(old.join(neu, col("_ok") === col(k2Col))
              .filter(distance(col("_old"), col("_new")) >= filterThreshold)
              .select(col(k2Col))
              .distinct())))
          projectFrontier(f2, s2)
        }
        outSegs = dropTouched(outSegs, touched, isTouched) :+ dirtyOut

        // Compaction is only worthwhile when views actually stacked up:
        // a single-segment store is already compact. The pre-compaction
        // leaves are released right after the compacted segment
        // materializes from them.
        sinceCompact += 1
        if (sinceCompact >= compactionInterval &&
            (kvsSegs.length > 1 || outSegs.length > 1)) {
          // store mode: compact only the DIRTY segments (in-memory
          // leaves over touched buckets) — folding the lazy base view
          // in would materialize the whole store, the very corpus-
          // width copy this mode exists to avoid. The base view's
          // filter stack is bounded by compactionInterval.
          def compact(segs: List[Seg], label: String): List[Seg] = {
            val (baseSegs, dirty) = segs.partition(_.base)
            if (dirty.length <= 1) segs else {
              val p = timed(label)(
                materialize(unionSegs(dirty).repartition(n, col(k2Col)),
                  durable = true))
              dirty.foreach(_.release())
              val bs = if (baseSegs.isEmpty) (0 until B).toSet
                else dirty.flatMap(_.buckets).toSet
              baseSegs :+ Seg(p.leaf, bs, p.release)
            }
          }
          kvsSegs = compact(kvsSegs, s"iter $i compact kvs")
          outSegs = compact(outSegs, s"iter $i compact out")
          sinceCompact = 0
        }
      }
      fSizes += frontierSize
      // generation rotate: iteration i-1's scratch leaves saw their last
      // read in this iteration's joins — free them now.
      scratchPrev.foreach(_.apply())
      scratchPrev = scratchCur
      scratchCur = Nil
    }

    // ---- F27 exit invariant: re-derive the bag for the final frontier --
    // The PreservedState contract says kvs is DERIVED FROM THE FINAL
    // dynamic state (preserve() upholds it by construction). Inside the
    // loop the bag is always consistent with the CURRENT out at every
    // re-reduce — a source's row is refreshed in the iteration AFTER its
    // value moves — but the LAST iteration moves values whose refresh
    // would have happened in the never-run next iteration, handing a
    // chained continuation a bag stale by exactly those sources (order-
    // dependent results across chains). One final F28 map+merge — no
    // reduce, out is already final — restores the invariant:
    // delta-proportional for One2One/One2Mul (the final frontier's
    // static rows only); a full map pass for One2All, the same width as
    // any One2All iteration. Under θ>0 the frontier is the ≥θ movers —
    // sub-θ staleness is the F30 approximation contract itself, exactly
    // as preserve-after-early-stop leaves it. Chained exactness is
    // gate-enforced (q_incr_pagerank_stream's two-delta unrolled oracle).
    // The rounds' brand-new sources join the refresh set under θ>0.
    if (newSources.nonEmpty)
      bindKeys((if (frontierSize > 0) Seq(frontier) else Nil)
        .foldLeft(newSources.reduce(_ unionByName _))(_ unionByName _))
    if (frontierSize > 0) {
      val fkRaw = frontier.withColumnRenamed(skCol, "_fk")
      val fk = if (frontierSize <= broadcastMaxRows) broadcast(fkRaw) else fkRaw
      val staticF = staticFrontier(fk, "exit")
      val dynF = outToDyn(frontierOut(fk).getOrElse(scanAll(outSegs)))
      val freshPlan = pinK2(mapContribs(staticF, dynF))
      val payloadCols = freshPlan.schema.fields.filter(_.name != k2Col)
      val oldKeyRows = scanAll(kvsSegs)
        .join(fk, col(skCol) === col("_fk"), "left_semi")
        .select(col(k2Col) +:
          payloadCols.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      // the touched set rides the refresh materialization job
      val fa = timed("exit kvs refresh")(
        materialize(freshPlan.withColumn("_tag", lit("f"))
          .unionByName(oldKeyRows.withColumn("_tag", lit("a")))
          .withColumn("_b", bucketOf(col(k2Col))), sets = Seq("_b")))
      if (fa.rows > 0) {
        val fresh = fa.leaf.filter(col("_tag") === "f").drop("_tag")
        val touched = fa.sets.head
        cumTouchedKvs ++= touched // kvs ONLY — out is final and unstaged here
        val isTouched = SegStore.inBuckets(touched)
        val dirtyKvs = {
          val p = timed(s"exit kvs merge (${touched.size}/$B buckets)")(
            materialize(scanTouched(kvsSegs, touched, isTouched)
              .join(fk, col(skCol) === col("_fk"), "left_anti")
              .unionByName(fresh)
              .repartition(n, col(k2Col)), durable = true))
          Seg(p.leaf, touched, p.release)
        }
        kvsSegs = dropTouched(kvsSegs, touched, isTouched) :+ dirtyKvs
      }
      fa.release()
    }
    staticCached.foreach(_.unpersist(blocking = false))
    // Remaining scratch (last two generations + the One2All/One2Mul
    // all-sources leaf) is not referenced by the returned frames — only
    // segment leaves are. Free it on the spot.
    scratchPrev.foreach(_.apply())
    scratchCur.foreach(_.apply())
    newSourcesRelease.foreach(_.apply())
    allSourcesRelease()
    segStore match {
      case Some(st) =>
        // ONE journaled commit installs the continuation: replacement
        // rows for exactly the buckets the loop touched — PER TABLE
        // (the exit refresh can touch kvs buckets whose out side the
        // loop never staged). The dirty segments (in-memory leaves)
        // hold only touched-bucket rows by construction, and each base
        // view holds none of its own touched buckets (filtered out
        // when touched), so the union of non-base segments IS the
        // replacement content — the untouched state is neither read
        // nor written.
        val advice =
          if (cumTouchedKvs.nonEmpty || cumTouchedOut.nonEmpty) {
            timed(s"segstore commit (${cumTouchedKvs.size}+" +
              s"${cumTouchedOut.size}/$B buckets)")(
              st.commit(
                unionSegs(kvsSegs.filterNot(_.base)),
                unionSegs(outSegs.filterNot(_.base)),
                cumTouchedKvs, cumTouchedOut, segStoreBatchId))
            // lifecycle advice (StorePolicy): continue-vs-rebuild
            // economics of this delta's footprint — on stderr AND on
            // the result (programmatic consumers act on it without
            // re-parsing logs)
            Some(graft.operators.StorePolicy.advise("segstate",
              (cumTouchedKvs ++ cumTouchedOut).size, B))
          } else None
        // the returned frames read the INSTALLED store — the loop's
        // leaves are all releasable scratch now
        val segs = kvsSegs ++ outSegs
        IncrResult(st.out.drop("_b"), st.kvs.drop("_b"), i,
          () => segs.foreach(_.release()), advice, fSizes.toList)
      case None =>
        val finalKvs = kvsSegs
        val finalOut = outSegs
        // In-memory mode this unpersists every remaining segment leaf;
        // in durable mode the final segment dirs are KEPT (they are the
        // preserved artifact) — their release thunks delete files, so
        // they are intentionally not invoked here.
        val release: () => Unit = () =>
          if (durableStatePath.isEmpty) (finalKvs ++ finalOut).foreach(_.release())
        IncrResult(scanAll(finalOut), scanAll(finalKvs), i, release,
          frontierSizes = fSizes.toList)
    }
  }
}

object IncrementalJob {
  /** The largest state, in the optimizer's bytes of kvs + out + static
    * (parquet file sizes), the in-task path gathers into one task.
    * Measured with pr_stream-shaped PageRank stores (4.7 edges per node,
    * 16 rank and 8 edge buckets, 15-source batches at θ=0, local[4],
    * 4-core machine): per batch the in-task path took 1.7 / 2.5 / 4.9 s
    * at 0.86 / 7.35 / 16.1 MB of state, the distributed loop 3.9 /
    * 4.9 / 6.7 s. The heap, not the time, sets the bound: the gathered
    * state took 19 / 137 / 273 MB (17-23× its bytes), and the emitted
    * bucket rows add a copy of kvs and out when every bucket is
    * touched. At 8 MB that is ~150 MB plus the copy for one task. */
  private[graft] val InTaskMaxStateBytes: Long = 8L * 1000 * 1000

  /** The optimizer's bytes of `frames` together, None when one has no
    * size statistics ([[org.apache.spark.sql.graft.GraftSqlShim.estimatedBytes]]). */
  private[graft] def stateBytes(frames: Seq[DataFrame]): Option[BigInt] = {
    val each = frames.map(org.apache.spark.sql.graft.GraftSqlShim.estimatedBytes)
    if (each.forall(_.isDefined)) Some(each.flatten.sum) else None
  }

  /** Timing/diagnostic switch: the `GRAFT_TIMING` env var (dev shells)
    * or the `graft.timing` system property (set programmatically by
    * `Bench` so gate runs always carry per-phase timing on stderr). */
  private[graft] def timingEnabled: Boolean =
    sys.env.contains("GRAFT_TIMING") ||
      sys.props.get("graft.timing").exists(_ != "0")

  /** The one per-phase timing line, `$prefix $label: N.NN s` on stderr
    * when [[timingEnabled]] — plus ` rows=N` when the phase returns a
    * pinned frame, whose row count the pin job already computed. The
    * label is by name: building it (row counts included) costs nothing
    * on the timing-disabled path. */
  private[graft] def timed[T](prefix: String)(label: => String)(f: => T): T =
    if (!timingEnabled) f else {
      val t0 = System.nanoTime(); val r = f
      val rows = r match {
        case p: GraftSqlShim.Pinned => s" rows=${p.rows}"
        case _ => ""
      }
      System.err.println(
        f"$prefix $label: ${(System.nanoTime() - t0) / 1e9}%.2f s$rows")
      r
    }

  /** Standard consume-then-release: copy the result's `out` into a
    * catalog-visible cache (`Dataset.persist` — freed by the session's
    * per-query `clearCache`, unlike raw checkpoint blocks), materialize
    * it, free every loop leaf, and hand back the cached frame. The one
    * extra pass reads already-cached segment blocks, and the state it
    * copies is the loop's OUTPUT (bounded by the key space, not the
    * data) — O(result), not O(input), at any scale. */
  def finish(r: IncrResult): DataFrame = {
    val out = r.out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    r.release()
    out
  }

  /** A stores-fed continuation's public result: [[finish]] plus the
    * advice, or — for a replayed batch (None,
    * [[SegmentedStateStore.continueOnce]]) — the store's current out
    * under the same eager-cache contract and no advice. */
  private[graft] def finishStore(spark: org.apache.spark.sql.SparkSession,
      path: String, r: Option[IncrResult])
      : (DataFrame, Option[graft.operators.StorePolicy.ContinueAdvice]) =
    r match {
      case Some(res) => (finish(res), res.advice)
      case None =>
        val out = SegmentedStateStore.openForRead(spark, path).out.drop("_b")
          .persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        (out, None)
    }

  /** For callers that need only the advice (stream maintainers): free
    * the loop's leaves without reading the installed out back. */
  private[graft] def adviceOnly(r: Option[IncrResult])
      : Option[graft.operators.StorePolicy.ContinueAdvice] =
    r.flatMap { res => res.release(); res.advice }
}
