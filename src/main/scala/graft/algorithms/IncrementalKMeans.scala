package graft.algorithms

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{IncrementalJob, PreservedState, ProjectKind}

/** Incremental KMeans — the THIRD instantiation of
  * [[graft.core.IncrementalJob]], and the first ONE2ALL one (the
  * i2MapReduce application trilogy is PageRank, KMeans, GIM-V; the
  * reference's `genKMUpdate.java` generates exactly this workload's
  * point deltas, A7).
  *
  * Key spaces: source key = point id, output key = cluster id —
  * genuinely different spaces, unlike PageRank/matvec where both are
  * nodes. A point's contribution (its vector, credited to its nearest
  * center) depends on ALL centers, so the job runs with
  * [[ProjectKind.One2All]]: the mapper receives the full center state
  * (k rows — broadcast-sized by nature), and any center moving ≥ θ
  * re-dirties every point. With θ > 0 and a small delta the loop
  * typically converges after one cheap iteration that re-maps only the
  * changed points; θ = 0 is exact mode, where each iteration equals a
  * full Lloyd step over the updated points (because preserved
  * contributions are derived from the final centers — the
  * [[PreservedState]] consistency contract — the merged bag after
  * iteration 1 is identical to assigning EVERY updated point against
  * the current centers).
  *
  * Empty-cluster rule matches [[KMeans.run]] / the reference: a center
  * whose bag empties keeps its previous position — the reduce reads the
  * pre-update center via `includeOldOut`.
  */
object IncrementalKMeans {

  /** Index-order Σ(a−b)² fold — bit-identical to the SQL oracle's
    * `(px−cx)² + (py−cy)²` expansion, so assignment tie-breaks agree
    * across engines. */
  private def sqDistCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Column mirror of [[KMeans]]'s distance functions: "euclidean" =
    * squared L2; "cosine" = 1 − dot/(‖a‖·‖b‖), zero vectors at
    * distance 1.0 — identical arithmetic to `KMeans.cosDist`. */
  private def distCol(metric: String)(
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    metric match {
      case "cosine" =>
        def dot2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
        val na = dot2(a, a)
        val nb = dot2(b, b)
        when(na === 0.0 || nb === 0.0, lit(1.0))
          .otherwise(lit(1.0) - dot2(a, b) / (sqrt(na) * sqrt(nb)))
      case _ => sqDistCol(a, b)
    }

  /** Assign each point to its nearest center (ties to the lowest
    * center id — strict-min scan == the oracle's
    * `row_number() OVER (ORDER BY dist, cid)`). Centers are
    * broadcast; the argmin partial-aggregates map-side, so the shuffle
    * carries one row per point, not per (point, center).
    * Returns (cid, id, vec). */
  def assignAll(points: DataFrame, centers: DataFrame,
      metric: String = "euclidean"): DataFrame =
    points.crossJoin(broadcast(centers.select(col("cid"), col("cvec"))))
      .select(col("id"), col("vec"), col("cid"),
        distCol(metric)(col("vec"), col("cvec")).as("d"))
      .groupBy("id")
      .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"),
        first(col("vec")).as("vec"))
      .select(col("cid"), col("id"), col("vec"))

  /** Model centers as a (cid, cvec, n) frame. */
  def centersFrame(spark: SparkSession, model: KMeans.Model): DataFrame = {
    val rows = model.centers.map { case (cid, v) =>
      Row(cid, v.toSeq, model.sizes.getOrElse(cid, 0L))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField("cid", IntegerType),
        StructField("cvec", ArrayType(DoubleType)),
        StructField("n", LongType))))
  }

  /** Base run + preserved state. `kvs` re-derives every point's
    * contribution under the FINAL centers (the consistency contract —
    * stored contribution == what the point would emit given the current
    * center state); `out` is the final centers with their last
    * assignment counts. */
  def preserve(points: DataFrame, k: Int, iterations: Int,
      metric: String = "euclidean"): PreservedState = {
    val pts = points.select(col("id").cast("long"), col("vec").cast("array<double>"))
    val model = KMeans.run(pts, k, metric = metric, maxIterations = iterations)
    val centers = centersFrame(points.sparkSession, model)
    // materialize kvs so the state doesn't hold a lazy dependency on the
    // caller's point frame; release() frees the cache
    val kvs = assignAll(pts, centers, metric)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    kvs.count()
    PreservedState(kvs, centers, () => { kvs.unpersist(blocking = false); () })
  }

  /** Continue over the updated point set.
    *
    * @param updatedPoints points AFTER the delta (id, vec)
    * @param changedIds    ids whose vectors changed (single column id)
    */
  def incremental(
      updatedPoints: DataFrame,
      preserved: PreservedState,
      changedIds: DataFrame,
      iterations: Int,
      filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      durableStatePath: Option[String] = None,
      metric: String = "euclidean"): DataFrame =
    incrementalWithStats(updatedPoints, preserved, changedIds, iterations,
      filterThreshold, numPartitions, durableStatePath, metric)._1

  /** [[incremental]] plus the number of loop iterations actually run
    * (spec hook: θ > 0 with a tiny delta should stop after one). */
  def incrementalWithStats(
      updatedPoints: DataFrame,
      preserved: PreservedState,
      changedIds: DataFrame,
      iterations: Int,
      filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      durableStatePath: Option[String] = None,
      metric: String = "euclidean"): (DataFrame, Int) = {
    val r = incrementalRaw(updatedPoints, preserved, changedIds, iterations,
      filterThreshold, numPartitions, durableStatePath, metric)
    (IncrementalJob.finish(r), r.iterations)
  }

  /** The raw [[graft.core.IncrResult]] of a continuation (kvs view
    * included, pre-finish) — ONE job wiring for [[incremental]] /
    * [[incrementalWithStats]] and the exit-invariant spec's hook: the
    * returned kvs must equal [[assignAll]] of every point under the
    * final centers (the PreservedState consistency contract the loop
    * re-establishes at exit). Consume the views before `release()`. */
  private[graft] def incrementalRaw(
      updatedPoints: DataFrame,
      preserved: PreservedState,
      changedIds: DataFrame,
      iterations: Int,
      filterThreshold: Double = 0.0,
      numPartitions: Int = 32,
      durableStatePath: Option[String] = None,
      metric: String = "euclidean"): graft.core.IncrResult = {
    val pts = updatedPoints.select(col("id").cast("long"),
      col("vec").cast("array<double>"))
    buildJob(pts, preserved, changedIds, iterations, filterThreshold,
      numPartitions, durableStatePath, metric, None, None, None).run()
  }

  /** Run the base job and lay the centers out as a SEGMENTED durable
    * store at `path` — the One2All member of the family's production
    * form (PageRank ranks / matvec state already live this way): the
    * preserved bag (point→center assignments, keyed by `cid`) and the
    * centers become the store's kvs/out, and store-fed continuations
    * rewrite only the buckets a delta touches under the journaled
    * crash contract. */
  def preserveToSeg(spark: SparkSession, path: String, points: DataFrame,
      k: Int, iterations: Int, metric: String = "euclidean",
      nBuckets: Int = 16): Unit = {
    val st = preserve(points, k, iterations, metric)
    graft.core.SegmentedStateStore.init(spark, path, st, "cid", nBuckets)
    st.release()
  }

  /** Lay the point set out as a durable id-keyed store
    * ([[graft.operators.KeyedUpsertStore]]) — the evolving INPUT side
    * of a 24/7 KMeans maintainer (the kmeans twin of
    * [[IncrementalPageRank.initEdgeStore]]). */
  def initPointStore(spark: SparkSession, path: String, points: DataFrame,
      nBuckets: Int = 32): Unit =
    graft.operators.KeyedUpsertStore.init(spark, path,
      points.select(col("id").cast("long"),
        col("vec").cast("array<double>")),
      "id", nBuckets)

  /** STORE-FED continuation — centers in the segmented store at
    * `centerStorePath`, points in the id-keyed store at
    * `pointStorePath` read overlaid with `batchPoints` (the changed
    * ids' replacement vectors, not yet upserted — the stream
    * maintainer's fixed apply order), idempotent per `batchId`.
    *
    * One2All honesty: the first iteration re-assigns only the changed
    * points (pruned bucket reads), but any center that MOVES re-dirties
    * every point — the full-frontier iterations that follow are the
    * One2All semantics itself, not a store inefficiency (each point's
    * contribution depends on all centers). What the stores buy is the
    * exactly-once fence plumbing and the delta-pruned first hop, same
    * contract as the One2One twins. */
  def incrementalFromStores(spark: SparkSession, centerStorePath: String,
      pointStorePath: String, batchPoints: DataFrame,
      changedIds: DataFrame, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None, metric: String = "euclidean")
      : (DataFrame, Option[graft.operators.StorePolicy.ContinueAdvice]) =
    IncrementalJob.finishStore(spark, centerStorePath,
      continueFromStores(spark, centerStorePath, pointStorePath,
        batchPoints, changedIds, iterations, filterThreshold, numPartitions,
        broadcastMaxRows, batchId, metric))

  /** [[incrementalFromStores]] without reading the result back (None
    * for a replayed batch). */
  private[graft] def continueFromStores(spark: SparkSession,
      centerStorePath: String, pointStorePath: String,
      batchPoints: DataFrame, changedIds: DataFrame, iterations: Int,
      filterThreshold: Double = 0.0, numPartitions: Int = 32,
      broadcastMaxRows: Long = 4L * 1000 * 1000,
      batchId: Option[Long] = None, metric: String = "euclidean")
      : Option[graft.core.IncrResult] =
    graft.core.SegmentedStateStore.continueOnce(spark, centerStorePath,
        batchId) { store =>
      val h = graft.operators.KeyedUpsertStore.open(spark, pointStorePath)
      val patch = batchPoints.select(col("id").cast("long"),
        col("vec").cast("array<double>"))
      // named key column only — the overlay's single-column contract
      val chgKeys = changedIds.select(col("id").cast("long"))
      val chgRows = chgKeys.count()
      val src = new graft.core.StaticSource.Overlay(h, "id", chgKeys,
        chgRows, patch, broadcastMaxRows)
      buildJob(src.all, store.preserved, chgKeys, iterations,
        filterThreshold, numPartitions, None, metric, Some(store),
        batchId, Some(src)).run()
    }

  /** The KMeans instantiation of [[IncrementalJob]] — shared by the
    * frame-fed and store-fed continuations (identical assignment and
    * recenter arithmetic; only the durability plumbing differs). */
  private def buildJob(static: DataFrame, preserved: PreservedState,
      changedIds: DataFrame, iterations: Int, filterThreshold: Double,
      numPartitions: Int, durableStatePath: Option[String],
      metric: String, segStore: Option[graft.core.SegmentedStateStore],
      segStoreBatchId: Option[Long],
      staticSource: Option[graft.core.StaticSource]): IncrementalJob =
    new IncrementalJob(
      updatedStatic = static,
      skCol = "id",
      k2Col = "cid",
      preserved = preserved,
      initialFrontier = changedIds.select(col("id")),
      // frontier points against ALL current centers (One2All dyn scope)
      mapContribs = (staticF, dynF) => assignAll(staticF, dynF, metric),
      // per affected center: mean of its merged bag, empty bag keeps
      // the pre-update center (the reference's empty-cluster rule)
      reduce = (affected, kvsAffected) => {
        val counts = kvsAffected.groupBy("cid").agg(count(lit(1)).as("_n"))
        val means = kvsAffected
          .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "comp")))
          .groupBy("cid", "pos").agg(avg("comp").as("m"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s("m")).as("_mvec"))
        affected
          .join(means, Seq("cid"), "left")
          .join(counts, Seq("cid"), "left")
          .select(col("cid"),
            coalesce(col("_mvec"), col("_old_cvec")).as("cvec"),
            coalesce(col("_n"), lit(0L)).as("n"))
      },
      outToDyn = identity,
      distance = (o, nw) => sqrt(sqDistCol(o("cvec"), nw("cvec"))),
      projectKind = ProjectKind.One2All,
      includeOldOut = true,
      filterThreshold = filterThreshold,
      maxIterations = iterations,
      numPartitions = numPartitions,
      durableStatePath = durableStatePath,
      segStore = segStore,
      segStoreBatchId = segStoreBatchId,
      staticSource = staticSource)
}
