package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{IncrementalJob, IterConfig, IterResult, IterativeJob, Pins,
  PreservedState, ProjectKind}

/** Incremental Jacobi-style matrix-vector iteration x ← b + M·x — the
  * second instantiation of [[graft.core.IncrementalJob]] (A7/F28-F31;
  * the reference's generic claim is that incremental recomputation works
  * for ANY GIM-V-shaped workload, `ReduceTask.java:3504-3691`, not just
  * PageRank — this proves the abstraction isn't PageRank-shaped).
  *
  * The iteration converges to the fixpoint (I − M)⁻¹·b whenever
  * ρ(M) < 1 (callers scale M accordingly, e.g. damped row-normalized
  * weights). PageRank is the special case v = damping/deg, b = 1−d.
  *
  * Key spaces: contributions flow column→row, so the source key (sk) is
  * the column index `j` and the output key (k2) the row index `idx`;
  * a cell delta's changed columns seed the frontier and propagate
  * through the matrix's sparsity pattern exactly like PageRank's
  * out-edges. All arithmetic is kept in the exact operation order of
  * the oracle: per-cell contribution `v * x`, reduce `b + Σ`.
  */
object IncrementalMatVec {

  /** Node universe: every row or column index of M, with its constant
    * term. Columns (idx, bv). */
  def universe(m: DataFrame, b0: Double): DataFrame =
    m.select(col("i").as("idx")).union(m.select(col("j").as("idx")))
      .distinct().withColumn("bv", lit(b0))

  /** Full engine run: `iterations` rounds of x ← b + M·x from x0 = b.
    * `m`: (i, j, v); returns (idx, x). One co-partitioned static side,
    * one shuffle per iteration (the row-sum reduce) — same plan family
    * as [[PageRank.run]]. */
  def run(m: DataFrame, b: DataFrame, iterations: Int,
      threshold: Double = -1.0, numPartitions: Int = 32): IterResult = {
    val static = m.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("double"))
    val base = b.select(col("idx").cast("long"), col("bv").cast("double"))
      .repartition(
        graft.core.Adaptive.partitionsFor(static, numPartitions),
        col("idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = base.select(col("idx"), col("bv").as("x"))

    val step: (DataFrame, DataFrame, Int) => DataFrame = (s, dyn, _) => {
      val contribs = s.join(dyn, s("j") === dyn("idx"))
        .select(s("i"), (col("v") * col("x")).as("c"))
        .groupBy("i").agg(sum("c").as("s"))
      base.join(contribs, base("idx") === contribs("i"), "left")
        .select(base("idx"), (col("bv") + coalesce(col("s"), lit(0.0))).as("x"))
    }

    val res = new IterativeJob(
      static, "j", init, "idx", ProjectKind.One2One, step,
      IterativeJob.sumAbsDiff("idx", "x"),
      IterConfig(iterations, threshold, numPartitions = numPartitions)).run()
    base.unpersist(blocking = false)
    res
  }

  /** Base run + preserved state: kvs holds each cell's contribution
    * computed from the FINAL x (see [[PreservedState]]'s consistency
    * contract), out the final per-index values. kvs is materialized
    * here; the returned state's `release()` frees kvs and the final x. */
  def preserve(m: DataFrame, b: DataFrame, iterations: Int,
      numPartitions: Int = 32): PreservedState = {
    val res = run(m, b, iterations, numPartitions = numPartitions)
    val x = res.dynamic
    val kvs = m.join(x, m("j") === x("idx"))
      .select(m("i").as("idx"), m("j"), (col("v") * col("x")).as("contrib"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kvs.count()
    PreservedState(kvs, x,
      () => { kvs.unpersist(blocking = false); res.release() })
  }

  /** Lay the preserved state out as a SEGMENTED durable store
    * ([[graft.core.SegmentedStateStore]]) — same production form as
    * [[IncrementalPageRank.preserveTo]]. */
  def preserveTo(spark: org.apache.spark.sql.SparkSession, path: String,
      m: DataFrame, b: DataFrame, iterations: Int,
      numPartitions: Int = 32, nBuckets: Int = 64): Unit = {
    val st = preserve(m, b, iterations, numPartitions)
    graft.core.SegmentedStateStore.init(spark, path, st, "idx", nBuckets)
    st.release()
  }

  /** Continue AGAINST THE STORE at `path`: the generic store mode is
    * algorithm-agnostic — this is the One2One matvec through the same
    * lazy-base / touched-bucket-commit machinery as the PageRank twin
    * (spec-pinned equal to the in-memory continuation). */
  def incrementalSeg(spark: org.apache.spark.sql.SparkSession,
      path: String, updatedM: DataFrame, b: DataFrame,
      changedColumns: DataFrame, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32): DataFrame = {
    val store = graft.core.SegmentedStateStore.openForWrite(spark, path)
    incremental(updatedM, b, store.preserved, changedColumns, iterations,
      filterThreshold, numPartitions, segStore = Some(store))
  }

  /** Continue over the updated matrix.
    *
    * @param updatedM       cells AFTER the delta (i, j, v)
    * @param b              constant term (idx, bv) over the node universe
    * @param changedColumns columns whose cells changed (single column j)
    */
  def incremental(
      updatedM: DataFrame,
      b: DataFrame,
      preserved: PreservedState,
      changedColumns: DataFrame,
      iterations: Int,
      filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      durableStatePath: Option[String] = None,
      segStore: Option[graft.core.SegmentedStateStore] = None): DataFrame = {
    val static = updatedM.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("double"))
    val job = buildJob(static, b, preserved, changedColumns, iterations,
      filterThreshold, numPartitions, durableStatePath, segStore, None,
      None)
    IncrementalJob.finish(job.run())
  }

  /** Lay the matrix out as a durable COLUMN-keyed cell store (the
    * matvec twin of [[IncrementalPageRank.initEdgeStore]] — F34's
    * one-off static distribution; no derived stats to maintain here,
    * cells are the prepared form). */
  def initCellStore(spark: org.apache.spark.sql.SparkSession, path: String,
      m: DataFrame, nBuckets: Int = 32): Unit =
    graft.operators.KeyedUpsertStore.init(spark, path,
      m.select(col("i").cast("long"), col("j").cast("long"),
        col("v").cast("double")),
      "j", nBuckets)

  /** STORE-FED continuation — the second [[graft.core.StaticSource]]
    * instantiation (proving the durable-static abstraction isn't
    * PageRank-shaped, the same way this file proves it for the
    * incremental loop itself): state in the segmented store at
    * `statePath`, cells in the column-keyed store at `cellStorePath`
    * read PRUNED to the frontier's buckets, overlaid with
    * `batchCells` (the changed columns' replacement cells, not yet
    * upserted — the stream maintainer's fixed apply order). Returns
    * the post-delta x plus the continuation's advice. */
  def incrementalFromStores(spark: org.apache.spark.sql.SparkSession,
      statePath: String, cellStorePath: String, batchCells: DataFrame,
      changedColumns: DataFrame, b: DataFrame, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None)
      : (DataFrame, Option[graft.operators.StorePolicy.ContinueAdvice]) =
    IncrementalJob.finishStore(spark, statePath,
      continueFromStores(spark, statePath, cellStorePath, batchCells,
        changedColumns, b, iterations, filterThreshold, numPartitions,
        broadcastMaxRows, batchId))

  /** [[incrementalFromStores]] without reading the result back (None
    * for a replayed batch: at-most-once per id, the same fence
    * contract as the PageRank twin). */
  private[graft] def continueFromStores(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String, cellStorePath: String, batchCells: DataFrame,
      changedColumns: DataFrame, b: DataFrame, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None): Option[graft.core.IncrResult] =
    graft.core.SegmentedStateStore.continueOnce(spark, statePath, batchId) {
      store =>
        val h = graft.operators.KeyedUpsertStore.open(spark, cellStorePath)
        val patch = batchCells.select(col("i").cast("long"),
          col("j").cast("long"), col("v").cast("double"))
        // named key column only — the overlay's single-column contract
        val chgKeys = changedColumns.select(col("j"))
        val chgRows = chgKeys.count()
        val src = new graft.core.StaticSource.Overlay(h, "j", chgKeys,
          chgRows, patch, broadcastMaxRows)
        buildJob(src.all, b, store.preserved, changedColumns,
          iterations, filterThreshold, numPartitions, None, Some(store),
          batchId, Some(src)).run()
    }

  /** The matvec instantiation of [[IncrementalJob]] — shared by the
    * frame-fed and store-fed continuations. */
  private def buildJob(static: DataFrame, b: DataFrame,
      preserved: PreservedState, changedColumns: DataFrame,
      iterations: Int, filterThreshold: Double, numPartitions: Int,
      durableStatePath: Option[String],
      segStore: Option[graft.core.SegmentedStateStore],
      segStoreBatchId: Option[Long],
      staticSource: Option[graft.core.StaticSource]): IncrementalJob = {
    val bKeyed = b.select(col("idx").cast("long"), col("bv").cast("double"))
    new IncrementalJob(
      updatedStatic = static,
      skCol = "j",
      k2Col = "idx",
      preserved = preserved,
      initialFrontier = changedColumns.select(col("j")),
      // name-based refs only (see IncrementalJob's expression-id note);
      // join output names are disjoint: (i, j, v) ⨯ (idx, x).
      mapContribs = (staticF, dynF) =>
        staticF.join(dynF, col("j") === col("idx"))
          .select(col("i").as("_k2"), col("j"), (col("v") * col("x")).as("contrib"))
          .withColumnRenamed("_k2", "idx"),
      reduce = (affected, kvsAffected) => {
        val sums = kvsAffected.groupBy("idx").agg(sum("contrib").as("s"))
        affected.join(sums, Seq("idx"), "left")
          .join(bKeyed, Seq("idx"))
          .select(col("idx"), (col("bv") + coalesce(col("s"), lit(0.0))).as("x"))
      },
      outToDyn = identity,
      distance = (o, n) => abs(o("x") - n("x")),
      filterThreshold = filterThreshold,
      maxIterations = iterations,
      numPartitions = numPartitions,
      durableStatePath = durableStatePath,
      segStore = segStore,
      segStoreBatchId = segStoreBatchId,
      staticSource = staticSource)
  }

  // ---- blocked (One2Mul) incremental variant ----------------------------

  /** Tile id packing: `tid = ib·1000 + jb` (block indices are bounded by
    * dimension/blockSize — the packing only needs to be injective for
    * the matrices a single job handles; 1000 column blocks of size b
    * covers rows into the billions at production block sizes). */
  def tileId(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column,
      b: Int): org.apache.spark.sql.Column = tidCol(i, j, b)

  /** Density-aware tile size. Blocking only compresses when a tile is
    * expected to hold several cells; for a sparse matrix with `nnz`
    * cells over a `dim`² space the expectation is `nnz·b²/dim²`, so a
    * FIXED b degenerates as dimension grows at constant row degree:
    * tiles ≈ nnz, every bag is a 1-element struct, and the tile layer
    * is pure overhead (~3-4× the cell data — measured as an
    * 8 GiB-heap OOM at dim=400k/deg≈38/b=64, where b=64 gives 0.39
    * cells per tile; ScaleBench 100× run, round 7). Returns the
    * smallest b (≥ `minB`, capped by the [[tileId]] packing's 1000
    * column blocks) with ≥ `targetCellsPerTile` expected cells. */
  def tileSizeFor(dim: Long, nnz: Long, targetCellsPerTile: Int = 4,
      minB: Int = 16): Int = {
    require(dim > 0 && nnz > 0, "tileSizeFor needs positive dim and nnz")
    val density = math.sqrt(targetCellsPerTile.toDouble * dim * dim / nnz)
    val packing = dim.toDouble / 1000.0 // ≤ 1000 column blocks (tileId)
    math.ceil(density.max(packing).max(minB.toDouble)).toInt
  }

  private def tidCol(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column,
      b: Int): org.apache.spark.sql.Column =
    (i / b).cast("long") * 1000L + (j / b).cast("long")

  /** Pack cells into b×b tiles keyed by `tid` (the GIM-V blocking job,
    * reference `MatrixVector.java:93-147`): (tid, jb, cells[(i, j, v)]).
    * Cells keep absolute coordinates — the incremental kvs is keyed by
    * the absolute row index. */
  def tiles(m: DataFrame, b: Int): DataFrame =
    m.select(col("i").cast("long"), col("j").cast("long"), col("v").cast("double"))
      .groupBy(tidCol(col("i"), col("j"), b).as("tid"),
        (col("j") / b).cast("long").as("jb"))
      .agg(collect_list(struct(col("i"), col("j"), col("v"))).as("cells"))

  /** Base run + preserved state for the BLOCKED continuation: same final
    * x as [[preserve]], but kvs provenance is the TILE (sk = tid), so
    * the incremental merge replaces whole tiles' contribution bags —
    * the reference's ONE2MUL preserve layout
    * (`MatrixVector.java:315-340`). */
  def preserveBlocked(m: DataFrame, b: DataFrame, blockSize: Int,
      iterations: Int, numPartitions: Int = 32): PreservedState = {
    val res = run(m, b, iterations, numPartitions = numPartitions)
    val x = res.dynamic
    val kvs = m.join(x, m("j") === x("idx"))
      .select(m("i").as("idx"), tidCol(m("i"), m("j"), blockSize).as("tid"),
        (col("v") * col("x")).as("contrib"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kvs.count()
    PreservedState(kvs, x,
      () => { kvs.unpersist(blocking = false); res.release() })
  }

  /** Incremental blocked continuation — the ONE2MUL instantiation of
    * [[graft.core.IncrementalJob]], completing the projector-cardinality
    * matrix (One2One: PageRank/matvec; One2All: KMeans; One2Mul: this —
    * reference grouped merge-join `MapTask.java:800-815` + incremental
    * driver `ReduceTask.java:3504-3691`).
    *
    * Delta granularity is the TILE: `changedTiles` lists tile ids whose
    * cells changed; each loop iteration re-maps ONLY frontier tiles
    * (joining them against the per-column-block vector slices), and the
    * change-propagation filter routes moved output indices back to
    * source space through BLOCK sparsity — a moved x[idx] re-dirties
    * exactly the tiles whose column block contains idx (`backProject`),
    * not every tile.
    *
    * @param updatedM     cells AFTER the delta (i, j, v)
    * @param changedTiles tile ids whose cells changed (single column tid)
    */
  /** Segmented-store twins of the BLOCKED (One2Mul) continuation: with
    * [[preserveTo]]/[[incrementalSeg]] and the PageRank pair these
    * cover the store mode across the full projector-cardinality matrix
    * minus One2All (whose out state is k centers — broadcast-sized,
    * nothing to segment). */
  def preserveBlockedTo(spark: org.apache.spark.sql.SparkSession,
      path: String, m: DataFrame, b: DataFrame, blockSize: Int,
      iterations: Int, numPartitions: Int = 32, nBuckets: Int = 64): Unit = {
    val st = preserveBlocked(m, b, blockSize, iterations, numPartitions)
    graft.core.SegmentedStateStore.init(spark, path, st, "idx", nBuckets)
    st.release()
  }

  def incrementalBlockedSeg(spark: org.apache.spark.sql.SparkSession,
      path: String, updatedM: DataFrame, b: DataFrame,
      changedTiles: DataFrame, blockSize: Int, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32): DataFrame = {
    val store = graft.core.SegmentedStateStore.openForWrite(spark, path)
    incrementalBlocked(updatedM, b, store.preserved, changedTiles,
      blockSize, iterations, filterThreshold, numPartitions,
      segStore = Some(store))
  }

  def incrementalBlocked(
      updatedM: DataFrame,
      b: DataFrame,
      preserved: PreservedState,
      changedTiles: DataFrame,
      blockSize: Int,
      iterations: Int,
      filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      durableStatePath: Option[String] = None,
      segStore: Option[graft.core.SegmentedStateStore] = None): DataFrame =
    Pins.scope { pins =>
    val static = tiles(updatedM, blockSize)
    // (jb → tid) dependency relation for backProject: one tiny leaf,
    // computed once, released after the run (re-deriving it from the
    // cell table would pay the blocking groupBy every iteration).
    val tileIdx = pins(static.select(col("jb").as("_tjb"), col("tid")))

    val job = buildBlockedJob(static, b, preserved, changedTiles, blockSize,
      backProjectFn = moved => moved
        .select((col("idx") / blockSize).cast("long").as("_mjb")).distinct()
        .join(tileIdx, col("_mjb") === col("_tjb"))
        .select(col("tid")),
      iterations = iterations, filterThreshold = filterThreshold,
      numPartitions = numPartitions, durableStatePath = durableStatePath,
      segStore = segStore, segStoreBatchId = None, staticSource = None)

    IncrementalJob.finish(job.run())
  }

  /** STORE-FED BLOCKED continuation — the ONE2MUL member of the
    * stream-maintainer family ([[graft.streaming.StreamMaintain
    * .blockedMatvecBatch]]): state in the segmented store at
    * `statePath`, the matrix in a [[graft.operators.TiledMatrixStore]]
    * at `tileStorePath` whose tile-keyed and block-keyed views are read
    * pruned and OVERLAID with the batch's surgery (`delta` —
    * [[graft.operators.TiledMatrixStore.prepareDelta]]'s output, not
    * yet applied: the fixed apply order). The initial frontier is the
    * delta's touched tiles; `backProject` discovers re-dirtied tiles
    * through the store's jb-keyed tile index (pruned reads), so no
    * iteration ever scans the tiling corpus-wide. */
  def incrementalBlockedFromStores(spark: org.apache.spark.sql.SparkSession,
      statePath: String, tileStorePath: String,
      delta: graft.operators.TiledMatrixStore.Delta, b: DataFrame,
      iterations: Int, filterThreshold: Double = 0.0,
      numPartitions: Int = 32, broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None)
      : (DataFrame, Option[graft.operators.StorePolicy.ContinueAdvice]) = {
    val store = graft.core.SegmentedStateStore.openForWrite(spark, statePath)
    if (batchId.exists(_ <= store.appliedBatch)) {
      // replayed batch (checkpoint recovery): at-most-once per id
      store.releaseLease()
      val out = store.out.drop("_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      (out, None)
    } else {
      val th = graft.operators.TiledMatrixStore.open(spark, tileStorePath)
      val blockSize = th.blockSize
      // counts rode the delta frames' own materialization jobs
      val touchedRows = delta.nTouched
      val tileSrc = new graft.core.StaticSource.Overlay(th.tilesSource,
        "tid", delta.touched, touchedRows, delta.newBags, broadcastMaxRows)
      val idxSrc = new graft.core.StaticSource.Overlay(th.idxSource,
        "jb", delta.chgJbs, delta.nChgJbs, delta.newIdx,
        broadcastMaxRows)
      // moved frames arrive as materialized leaves (the loop binds
      // frontiers through scratch leaves), so the per-iteration bucket
      // collect here is a tiny job over cached blocks — the same
      // discipline as the loop's own frontier-bucket collects
      val backProj: DataFrame => DataFrame = moved => {
        val jbs = moved
          .select((col("idx") / blockSize).cast("long").as("_mjb"))
          .distinct()
        val bs = jbs.select(idxSrc.bucketOf(col("_mjb")).as("_sb"))
          .distinct().collect().map(_.getInt(0)).toSet
        idxSrc.pruned(bs)
          .join(jbs, col("jb") === col("_mjb"), "left_semi")
          .select(col("tid"))
      }
      val job = buildBlockedJob(tileSrc.all, b, store.preserved,
        delta.touched, blockSize, backProj, iterations, filterThreshold,
        numPartitions, durableStatePath = None, segStore = Some(store),
        segStoreBatchId = batchId, staticSource = Some(tileSrc))
      val r = job.run()
      (IncrementalJob.finish(r), r.advice)
    }
  }

  /** The blocked (One2Mul) instantiation of [[IncrementalJob]] — shared
    * by the frame-fed and store-fed continuations; only the static
    * residence and the backProject discovery differ. */
  private def buildBlockedJob(static: DataFrame, b: DataFrame,
      preserved: PreservedState, changedTiles: DataFrame, blockSize: Int,
      backProjectFn: DataFrame => DataFrame, iterations: Int,
      filterThreshold: Double, numPartitions: Int,
      durableStatePath: Option[String],
      segStore: Option[graft.core.SegmentedStateStore],
      segStoreBatchId: Option[Long],
      staticSource: Option[graft.core.StaticSource]): IncrementalJob = {
    val bKeyed = b.select(col("idx").cast("long"), col("bv").cast("double"))
    new IncrementalJob(
      updatedStatic = static,
      skCol = "tid",
      k2Col = "idx",
      preserved = preserved,
      initialFrontier = changedTiles.select(col("tid")),
      // One2Mul dyn scope is the full out state; the tile⨝block join
      // selects the slices each frontier tile actually reads. Same
      // shape as MatrixVector.multiplyTiles: the vector is grouped
      // into per-column-block maps, ONE row per (tile, block) flows
      // through the join, and the per-cell product is a codegen'd map
      // lookup. The semi-join prefilter drops x entries outside the
      // frontier's column blocks BEFORE the block-grouping shuffle
      // (the needed-block set is ≤ #column-blocks — broadcast-tiny by
      // construction), so a small frontier shuffles a small slice of
      // the state, not all of it.
      mapContribs = (staticF, dynF) => {
        val needed = broadcast(staticF.select(col("jb").as("_njb")).distinct())
        val xb = dynF
          .withColumn("_ijb", (col("idx") / blockSize).cast("long"))
          .join(needed, col("_ijb") === col("_njb"), "left_semi")
          .groupBy(col("_ijb").as("_xjb"))
          .agg(map_from_entries(collect_list(struct(col("idx"), col("x"))))
            .as("_xmap"))
        staticF.join(xb, col("jb") === col("_xjb"))
          .select(col("tid"), explode(col("cells")).as("_c"), col("_xmap"))
          .select(col("_c.i").as("idx"), col("tid"),
            (col("_c.v") * col("_xmap")(col("_c.j"))).as("contrib"))
          .filter(col("contrib").isNotNull)
      },
      reduce = (affected, kvsAffected) => {
        val sums = kvsAffected.groupBy("idx").agg(sum("contrib").as("s"))
        affected.join(sums, Seq("idx"), "left")
          .join(bKeyed, Seq("idx"))
          .select(col("idx"), (col("bv") + coalesce(col("s"), lit(0.0))).as("x"))
      },
      outToDyn = identity,
      distance = (o, n) => abs(o("x") - n("x")),
      projectKind = ProjectKind.One2Mul,
      backProject = Some(backProjectFn),
      filterThreshold = filterThreshold,
      maxIterations = iterations,
      numPartitions = numPartitions,
      durableStatePath = durableStatePath,
      segStore = segStore,
      segStoreBatchId = segStoreBatchId,
      staticSource = staticSource)
  }
}
