package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{IterConfig, IterResult, IterativeJob, Pins, ProjectKind}

/** Iterative (blocked) matrix–vector multiplication, GIM-V style (A4,
  * reference `MatrixVector.java`: blocking job `:93-147`, multiply map
  * `:152-230`, sum reduce `:231-313`, ONE2MUL projector `:315-340`).
  *
  * Each iteration computes y = M·x, optionally L1-normalizes y (the
  * global scalar is the reference's global-value cycle, F25 — a single
  * Double collected at the driver), and feeds y back as x. Distance is
  * Σ|Δ| between consecutive vectors (reference reduce distance,
  * `MatrixVector.java:231-313`).
  *
  * Plan shape: M is partitioned by column `j` once and cached (ONE2MUL —
  * one vector entry joins the whole matrix column); x is partitioned by
  * `j`; the join is then shuffle-free and the per-iteration shuffle is
  * the `groupBy(i)` partial-sum — identical to the reference's shuffle.
  *
  * The blocked variant ([[blocked]]) groups cells into b×b tiles so the
  * join/shuffle move O(nnz/b²) rows of dense tiles instead of O(nnz)
  * scalar cells — the reference's blocking job re-expressed columnarly.
  */
object MatrixVector {

  /** One multiply step: (i,j,v) ⨝ (j,x) → Σ_j v·x per i. */
  def multiply(m: DataFrame, x: DataFrame): DataFrame =
    m.join(x, "j")
      .groupBy("i")
      .agg(sum(col("v") * col("x")).as("y"))
      .select(col("i").as("j"), col("y").as("x")) // re-keyed for the next round

  /** Run `iterations` rounds of x ← M·x (optionally normalized), starting
    * from x0. `m` columns: (i: long, j: long, v: double); `x0`: (j: long,
    * x: double). Returns (j, x). */
  def run(
      m: DataFrame,
      x0: DataFrame,
      maxIterations: Int = 10,
      threshold: Double = -1.0,
      normalize: Boolean = true,
      numPartitions: Int = 32): IterResult = {

    val static = m.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("double"))
    val init = x0.select(col("j").cast("long"), col("x").cast("double"))

    // Per-iteration y caches: catalog-visible persists, held until the
    // run's final state is materialized, then dropped in one sweep (an
    // eager per-iteration checkpoint here would double-materialize —
    // IterativeJob checkpoints on its own cadence).
    val stepCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val step: (DataFrame, DataFrame, Int) => DataFrame = (s, dyn, _) => {
      if (normalize) {
        // Global value (F25): one scalar at the driver, like the
        // JobTracker-aggregated global data. The norm is an action on y,
        // so y must be persisted first or the join+groupBy runs twice per
        // iteration (once for the norm, once for the next round's plan).
        val y = multiply(s, dyn).persist(StorageLevel.MEMORY_AND_DISK)
        val norm = y.agg(sum(abs(col("x")))).collect()(0).getDouble(0)
        stepCaches += y
        y.select(col("j"), (col("x") / lit(norm)).as("x"))
      } else multiply(s, dyn)
    }

    val res = new IterativeJob(
      static, "j", init, "j", ProjectKind.One2Mul, step,
      IterativeJob.sumAbsDiff("j", "x"),
      IterConfig(maxIterations, threshold, numPartitions = numPartitions)
    ).run()
    stepCaches.foreach(_.unpersist(blocking = false))
    res
  }

  /** Naive loop-of-jobs baseline (A11, reference
    * `naive/NaiveMatrixVectorMultiplication.java`): each iteration is an
    * independent job — the matrix is re-projected from scratch (no
    * cached co-partitioned static side), the L1 norm enters the plan as
    * a crossJoin of a 1-row aggregate instead of a driver-collected
    * global value, and each round's vector is materialized like the
    * reference's per-job HDFS write. Differential oracle for [[run]]. */
  def runNaive(m: DataFrame, x0: DataFrame, iterations: Int,
      normalize: Boolean = true): DataFrame = Pins.scope { pins =>
    var x = pins(x0.select(col("j").cast("long"), col("x").cast("double")))
    for (_ <- 1 to iterations) {
      val mm = m.select(col("i").cast("long"), col("j").cast("long"),
        col("v").cast("double")) // re-derived every round, like re-running the job chain
      val y = multiply(mm, x)
      x = pins(if (normalize) {
        val norm = y.agg(sum(abs(col("x"))).as("_nrm"))
        y.crossJoin(broadcast(norm))
          .select(col("j"), (col("x") / col("_nrm")).as("x"))
      } else y)
    }
    // copy the final vector into a catalog-visible cache, then free the
    // per-iteration leaves (raw checkpoint blocks clearCache can't see)
    val out = x.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Blocking job (reference `MatrixVector.java:93-147`): pack cells
    * into b×b tiles keyed (rowBlk `ib`, colBlk `jb`), cell offsets
    * relative to the tile. Run ONCE; the tiles are the static side of
    * the iterated blocked product. */
  def blockTiles(m: DataFrame, b: Int): DataFrame = m
    .withColumn("ib", (col("i") / b).cast("long"))
    .withColumn("jb", (col("j") / b).cast("long"))
    .groupBy("ib", "jb")
    .agg(collect_list(struct(
      (col("i") % b).cast("int").as("io"),
      (col("j") % b).cast("int").as("jo"),
      col("v"))).as("cells"))

  /** One blocked multiply step over pre-packed tiles: the vector is
    * grouped into per-colBlk maps (the only per-iteration shuffle of
    * the small side), joined per (jb) against the resident tiles, and
    * partial dense products are summed per output row. Row/value
    * semantics identical to [[multiply]]: a vector entry missing for a
    * cell's column contributes nothing (map lookup → null → filtered). */
  def multiplyTiles(tiles: DataFrame, x: DataFrame, b: Int): DataFrame = {
    val xb = x
      .withColumn("jb", (col("j") / b).cast("long"))
      .groupBy("jb")
      .agg(map_from_entries(collect_list(
        struct((col("j") % b).cast("int").as("jo"), col("x")))).as("xmap"))
    // The join moves O(nnz/b²) tile rows instead of O(nnz) cells; the
    // per-cell product is a codegen'd map lookup (no UDF), and the final
    // groupBy(j) pre-aggregates map-side like the reference's combiner.
    val partial = tiles.join(xb, "jb")
      .select(col("ib"), explode(col("cells")).as("c"), col("xmap"))
      .withColumn("xv", col("xmap")(col("c.jo")))
      .filter(col("xv").isNotNull)
      .select((col("ib") * b + col("c.io")).as("j"), (col("c.v") * col("xv")).as("p"))
    partial.groupBy("j").agg(sum("p").as("x"))
  }

  /** Blocked y = M·x in one call ([[blockTiles]] ∘ [[multiplyTiles]]). */
  def multiplyBlocked(m: DataFrame, x: DataFrame, b: Int): DataFrame =
    multiplyTiles(blockTiles(m, b), x, b)

  /** The reference's ACTUAL A4 shape: the blocking job runs once, then
    * the iterative job loops over the tiled matrix
    * (`MatrixVector.java:93-147` feeding the iterative driver). Same
    * loop/normalize/convergence contract as [[run]] — tiles are the
    * framework-cached static side partitioned by `jb` (ONE2MUL: one
    * vector block joins a whole tile column), and only the vector
    * re-blocks per iteration. At 100 TB the matrix — the big side —
    * never moves after the blocking job; per-iteration shuffle volume
    * is O(|x|) vector entries plus the partial-sum reduce. */
  def runBlocked(
      m: DataFrame,
      x0: DataFrame,
      b: Int,
      maxIterations: Int = 10,
      threshold: Double = -1.0,
      normalize: Boolean = true,
      numPartitions: Int = 32): IterResult = {

    val cells = m.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("double"))
    val tiles = blockTiles(cells, b)
    val init = x0.select(col("j").cast("long"), col("x").cast("double"))

    // same lifecycle as [[run]]: y caches held until the final state
    // materializes, then swept
    val stepCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val step: (DataFrame, DataFrame, Int) => DataFrame = (s, dyn, _) => {
      if (normalize) {
        val y = multiplyTiles(s, dyn, b).persist(StorageLevel.MEMORY_AND_DISK)
        val norm = y.agg(sum(abs(col("x")))).collect()(0).getDouble(0)
        stepCaches += y
        y.select(col("j"), (col("x") / lit(norm)).as("x"))
      } else multiplyTiles(s, dyn, b)
    }

    val res = new IterativeJob(
      tiles, "jb", init, "j", ProjectKind.One2Mul, step,
      IterativeJob.sumAbsDiff("j", "x"),
      IterConfig(maxIterations, threshold, numPartitions = numPartitions)
    ).run()
    stepCaches.foreach(_.unpersist(blocking = false))
    res
  }
}
