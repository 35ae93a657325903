package graft.algorithms

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IncrementalJob, PreservedState, SegmentedStateStore}

/** Incremental PageRank (A5, reference `IncrPageRank.java:26-276`):
  * a converged-and-preserved base run is continued over a graph delta,
  * recomputing only the keys reachable from the change (F28-F31).
  *
  * Contribution expression is `(rank / deg) * damping` and reduce is
  * `(1 − damping) + Σ` — kept in this exact operation order everywhere
  * (base run, preserve pass, incremental re-reduce, and the DuckDB
  * oracle) so incremental results are bit-reproducible.
  */
object IncrementalPageRank {

  /** Run the base job and derive the preserved state: kvs holds each
    * edge's contribution computed from the FINAL ranks (see
    * [[graft.core.PreservedState]] for the consistency contract).
    *
    * Cache lifecycle: kvs stays a LAZY plan over the run's cached
    * static (src, dst, deg) and final ranks — its one and only
    * materialization is the consumer's (the incremental loop's
    * `initStore` bucketizes + checkpoints it anyway, and a parquet
    * `write()` streams it; an eager persist here would pay the whole
    * pass twice, measured ~0.5 s of the preserve phase at sf0.1). The
    * returned state's `release()` frees the edge cache and the final
    * ranks; call it once every continuation using this state has
    * finished (consuming kvs before `release()` is the standard
    * [[graft.core.IncrResult]] discipline). */
  def preserve(edges: DataFrame, damping: Double, iterations: Int,
      numPartitions: Int = 32): PreservedState = {
    // reuse the run's cached static (src, dst, deg) for the kvs join —
    // re-preparing from the raw edges would repeat the
    // scan+distinct+degree chain (two shuffles) just to derive kvs.
    val t0 = System.nanoTime()
    val (res, static, releaseEdges) = PageRank.runKeepStatic(edges, damping,
      iterations, numPartitions = numPartitions)
    val ranks = res.dynamic
    val kvs = static.join(ranks, static("src") === ranks("node"))
      .select(static("dst").as("node"), static("src"),
        (ranks("rank") / static("deg") * damping).as("contrib"))
    if (graft.core.IncrementalJob.timingEnabled)
      System.err.println(
        f"[preserve] base run: ${(System.nanoTime() - t0) / 1e9}%.2f s (kvs lazy)")
    // out must cover every node (sinks carry no kvs rows but have ranks)
    PreservedState(kvs, ranks,
      () => { releaseEdges(); res.release() })
  }

  /** Continue over the updated graph.
    *
    * @param updatedEdges   graph AFTER the delta (src, dst)
    * @param changedSources sources whose out-edge set changed (single
    *                       column `src`) — the delta's projected keys
    * @param filterThreshold F30 pruning θ; 0 = exact propagation
    * @return (node, rank) after `iterations` incremental rounds
    */
  /** Run the base job and lay the preserved state out as a SEGMENTED
    * durable store at `path` ([[graft.core.SegmentedStateStore]]) —
    * the production form: repeated [[incrementalSeg]] continuations
    * then rewrite only the buckets each delta touches, under the
    * journaled crash contract, instead of re-materializing the whole
    * kvs/out per continuation. */
  def preserveTo(spark: SparkSession, path: String, edges: DataFrame,
      damping: Double, iterations: Int, numPartitions: Int = 32,
      nBuckets: Int = 64): Unit = {
    val st = preserve(edges, damping, iterations, numPartitions)
    SegmentedStateStore.init(spark, path, st, "node", nBuckets)
    st.release()
  }

  /** Continue over the updated graph AGAINST THE STORE at `path`:
    * reads only the frontier/touched buckets, commits only the touched
    * buckets back (one journaled swap), and returns the post-delta
    * ranks read from the installed store. Single concurrent writer per
    * store; a crash mid-continuation re-runs from the intact store.
    *
    * `batchId` (stream maintainers): the continuation is applied AT
    * MOST ONCE per id — if the store already records it (the id rides
    * the commit's own journal), the call is a no-op returning the
    * current ranks, which is what makes a checkpoint-replayed
    * foreachBatch exactly-once (a re-run continuation is NOT
    * idempotent: it would propagate the already-applied delta further). */
  def incrementalSeg(spark: SparkSession, path: String,
      updatedEdges: DataFrame, changedSources: DataFrame, damping: Double,
      iterations: Int, filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None): DataFrame =
    incrementalSegAdvised(spark, path, updatedEdges, changedSources,
      damping, iterations, filterThreshold, numPartitions,
      broadcastMaxRows, batchId)._1

  /** [[incrementalSeg]] plus the continuation's programmatic
    * continue-vs-rebuild advice ([[graft.operators.StorePolicy
    * .ContinueAdvice]]; None for a replayed batch or an absorbed
    * no-commit delta) — callers act on `rebuildRecommended` without
    * re-parsing stderr (round-10 verdict #3). */
  def incrementalSegAdvised(spark: SparkSession, path: String,
      updatedEdges: DataFrame, changedSources: DataFrame, damping: Double,
      iterations: Int, filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None)
      : (DataFrame, Option[graft.operators.StorePolicy.ContinueAdvice]) =
    IncrementalJob.finishStore(spark, path,
      SegmentedStateStore.continueOnce(spark, path, batchId)(store =>
        buildJob(PageRank.prepare(updatedEdges), store.preserved,
          changedSources.select(col("src")), damping, iterations,
          filterThreshold, numPartitions, None, broadcastMaxRows,
          Some(store), batchId, None).run()))

  /** Lay the PREPARED static relation `(src, dst, deg)` out as a
    * durable key-bucketed edge store ([[graft.operators.KeyedUpsertStore]])
    * — degrees are computed ONCE here and then maintained incrementally
    * by [[prepareBatch]] upserts, never re-derived corpus-wide
    * (reference F34: static data distributed once,
    * `JobClient.java:912-957`). */
  def initEdgeStore(spark: SparkSession, path: String, edges: DataFrame,
      nBuckets: Int = 32): Unit =
    graft.operators.KeyedUpsertStore.init(spark, path,
      PageRank.prepare(edges), "src", nBuckets)

  /** The delta's sources' NEW static rows, derived from the batch
    * ALONE: an upsert replaces a src's whole out-edge set, so its new
    * degree is just the batch's distinct-dst count for that src —
    * degree maintenance is fully delta-local, O(delta). Arithmetic
    * matches [[PageRank.prepare]] (distinct first, then count). */
  def prepareBatch(batch: DataFrame): DataFrame = {
    val b = batch.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    val deg = b.groupBy("src").agg(count(lit(1)).as("deg"))
    b.join(deg, "src")
  }

  /** STORE-FED continuation — the O(delta) end-to-end shape: ranks in
    * the segmented store at `rankStorePath`, the prepared static
    * relation in the edge store at `edgeStorePath`, and the
    * continuation touches only frontier buckets on BOTH sides (no
    * per-run repartition+persist of the graph, no corpus-wide degree
    * recompute — `batchStatic` carries the changed sources' new rows,
    * built from the delta alone by [[prepareBatch]]).
    *
    * The edge store is read PRE-batch (the caller upserts it after —
    * [[graft.streaming.StreamMaintain]]'s fixed order), overlaid with
    * `batchStatic`, so the loop sees exactly the post-delta graph on
    * first delivery AND on checkpoint replay. */
  def incrementalFromStores(spark: SparkSession, rankStorePath: String,
      edgeStorePath: String, batchStatic: DataFrame,
      changedSources: DataFrame, damping: Double, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None)
      : (DataFrame, Option[graft.operators.StorePolicy.ContinueAdvice]) =
    IncrementalJob.finishStore(spark, rankStorePath,
      continueFromStores(spark, rankStorePath, edgeStorePath, batchStatic,
        changedSources, damping, iterations, filterThreshold, numPartitions,
        broadcastMaxRows, batchId))

  /** [[incrementalFromStores]] without reading the result back: the
    * loop's [[graft.core.IncrResult]], or None for a replayed batch.
    * Stream maintainers take only its advice
    * ([[graft.core.IncrementalJob.adviceOnly]]). */
  private[graft] def continueFromStores(spark: SparkSession,
      rankStorePath: String, edgeStorePath: String, batchStatic: DataFrame,
      changedSources: DataFrame, damping: Double, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None): Option[graft.core.IncrResult] =
    SegmentedStateStore.continueOnce(spark, rankStorePath, batchId) { store =>
      val h = graft.operators.KeyedUpsertStore.open(spark, edgeStorePath)
      // the overlay gets exactly the named key column (its single-
      // column contract); one count decides its broadcast-vs-shuffle
      // plan — callers hand a materialized delta, so it reads cached
      // blocks
      val chgKeys = changedSources.select(col("src"))
      val chgRows = chgKeys.count()
      val src = new graft.core.StaticSource.Overlay(h, "src",
        chgKeys, chgRows, batchStatic, broadcastMaxRows)
      buildJob(src.all, store.preserved,
        changedSources.select(col("src").cast("long")), damping,
        iterations, filterThreshold, numPartitions, None, broadcastMaxRows,
        Some(store), batchId, Some(src)).run()
    }

  /** The PageRank instantiation of [[IncrementalJob]] — shared by the
    * frame-fed and store-fed continuations (identical arithmetic in
    * identical order; only the static/durability plumbing differs). */
  private def buildJob(static: DataFrame, preserved: PreservedState,
      frontier: DataFrame, damping: Double, iterations: Int,
      filterThreshold: Double, numPartitions: Int,
      durableStatePath: Option[String], broadcastMaxRows: Long,
      segStore: Option[SegmentedStateStore], segStoreBatchId: Option[Long],
      staticSource: Option[graft.core.StaticSource]): IncrementalJob =
    new IncrementalJob(
      updatedStatic = static,
      skCol = "src",
      k2Col = "node",
      preserved = preserved,
      initialFrontier = frontier,
      // name-based column refs only: the loop rewrites expression ids
      // (see IncrementalJob), so frame-qualified refs would dangle.
      // Join output names are disjoint (src,dst,deg) ⨯ (node,rank).
      mapContribs = (staticF, dynF) =>
        staticF.join(dynF, col("src") === col("node"))
          .select(col("dst").as("_k2"), col("src"),
            (col("rank") / col("deg") * damping).as("contrib"))
          .withColumnRenamed("_k2", "node"),
      reduce = (affected, kvsAffected) => {
        val sums = kvsAffected.groupBy("node").agg(sum("contrib").as("s"))
        affected.join(sums, Seq("node"), "left")
          .select(col("node"),
            (lit(1.0 - damping) + coalesce(col("s"), lit(0.0))).as("rank"))
      },
      outToDyn = identity,
      distance = (o, n) => abs(o("rank") - n("rank")),
      // the same three functions on rows, for the in-task path: static
      // (src, dst, deg), out (node, rank), kvs (node, src, contrib)
      kernel = Some(new graft.core.RowKernel {
        val staticCols = Seq("dst", "deg")
        def contribs(static: Seq[Row], out: Row): Seq[Row] = {
          val rank = out.getDouble(1)
          static.map(s =>
            Row(s.getLong(1), s.get(0), rank / s.getLong(2).toDouble * damping))
        }
        def reduce(node: Any, bag: Iterable[Row]): Row = Row(node,
          (1.0 - damping) + bag.toSeq.sortBy(_.getLong(1))
            .foldLeft(0.0)(_ + _.getDouble(2)))
        def distance(o: Row, n: Row): Double =
          math.abs(o.getDouble(1) - n.getDouble(1))
      }),
      filterThreshold = filterThreshold,
      maxIterations = iterations,
      numPartitions = numPartitions,
      durableStatePath = durableStatePath,
      broadcastMaxRows = broadcastMaxRows,
      segStore = segStore,
      segStoreBatchId = segStoreBatchId,
      staticSource = staticSource)

  /** [[incremental]] plus the loop's per-round non-converged-key
    * counter ([[graft.core.IncrResult.frontierSizes]] — the reference's
    * `ReduceTask.java:3493-3494` counter; One2One, so each entry is
    * exactly the count of nodes whose rank moved ≥ `filterThreshold`
    * that round). The θ>0 driver gate pins BOTH the final ranks and
    * this counter, so the F30 filter's firing pattern is
    * oracle-verified, not just its end state. */
  def incrementalWithFrontier(
      updatedEdges: DataFrame,
      preserved: PreservedState,
      changedSources: DataFrame,
      damping: Double,
      iterations: Int,
      filterThreshold: Double,
      numPartitions: Int = 32): (DataFrame, Seq[Long]) = {
    val static = PageRank.prepare(updatedEdges)
    val job = buildJob(static, preserved, changedSources.select(col("src")),
      damping, iterations, filterThreshold, numPartitions,
      None, 4L * 1000 * 1000, None, None, None)
    val r = job.run()
    (IncrementalJob.finish(r), r.frontierSizes)
  }

  def incremental(
      updatedEdges: DataFrame,
      preserved: PreservedState,
      changedSources: DataFrame,
      damping: Double,
      iterations: Int,
      filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      durableStatePath: Option[String] = None,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      segStore: Option[SegmentedStateStore] = None,
      segStoreBatchId: Option[Long] = None): DataFrame = {

    val static = PageRank.prepare(updatedEdges) // (src, dst, deg) with new degrees
    val job = buildJob(static, preserved, changedSources.select(col("src")),
      damping, iterations, filterThreshold, numPartitions,
      durableStatePath, broadcastMaxRows, segStore, segStoreBatchId, None)
    IncrementalJob.finish(job.run())
  }
}
