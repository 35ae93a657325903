package graft.algorithms

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.storage.StorageLevel

import graft.core.Pins

/** Iterative KMeans (A2/A3, reference `IterKmeans.java`: assign map
  * `:288-407`, recenter reduce `:409-490`, ONE2ALL projector `:492-539`).
  *
  * The center set is the reference's "global unique value" (F25): each
  * iteration the reducers RPC partial centroid maps to the JobTracker,
  * which merges and re-broadcasts them (`ReduceTask.java:3291-3320`,
  * `JobTracker.java:5604-5656`). In Spark that is: partial per-partition
  * aggregation of (sum-vector, count) per cluster, a `collect()` of k
  * rows to the driver, and a broadcast closure for the next assign pass —
  * O(k·dim) driver data regardless of input size, so this scales to any
  * number of points.
  *
  * Assignment is a single map-side pass (no shuffle, no k× row blow-up);
  * recentering is one `groupBy(cluster)` over k keys with map-side
  * partial aggregation (the reference's combiner, F19).
  *
  * Determinism: the reference picks random initial centers
  * (`IterKmeans.java:249-264`); we pin initialization to the k
  * lowest-id points so runs (and the DuckDB oracle) are reproducible.
  */
object KMeans {

  /** `sizes` = cluster cardinalities of the LAST assignment pass (the
    * one that produced `centers`); empty clusters report 0. */
  final case class Model(centers: Array[(Int, Array[Double])], iterations: Int,
      shift: Double, sizes: Map[Int, Long] = Map.empty)

  /** Squared Euclidean distance. */
  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Cosine distance 1 − cos(a,b); the reference's metric
    * (`IterKmeans.java:288-407` uses cosine similarity). */
  private def cosDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Nearest center id; ties broken toward the lower center id (strict `<`
    * keeps the earlier center — mirrored in the SQL oracle by
    * `ORDER BY dist, cid`). */
  private def assign(centers: Array[(Int, Array[Double])], metric: String)(
      v: Array[Double]): Int = {
    var best = -1; var bestD = Double.MaxValue; var i = 0
    while (i < centers.length) {
      val d =
        if (metric == "cosine") cosDist(v, centers(i)._2) else sqDist(v, centers(i)._2)
      if (d < bestD) { bestD = d; best = centers(i)._1 }
      i += 1
    }
    best
  }

  /** Element-wise (Σvec, n) typed aggregator → mean vector. Partial
    * buffers merge map-side, so the shuffle carries k·numPartitions small
    * rows, not the points (the reference's combiner path, F19). */
  private class VecMean(dim: Int)
      extends Aggregator[Array[Double], (Array[Double], Long), (Array[Double], Long)] {
    def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    def reduce(b: (Array[Double], Long), v: Array[Double]): (Array[Double], Long) = {
      var i = 0; while (i < dim) { b._1(i) += v(i); i += 1 }; (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0; while (i < dim) { x._1(i) += y._1(i); i += 1 }; (x._1, x._2 + y._2)
    }
    def finish(b: (Array[Double], Long)): (Array[Double], Long) = b
    def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(ExprEnc.arrDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(ExprEnc.arrDouble, Encoders.scalaLong)
  }

  private object ExprEnc {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val arrDouble: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** Run KMeans over `points` with columns (id: long, vec: array<double>).
    *
    * @param metric    "euclidean" (squared-L2 assignment) or "cosine"
    * @param threshold stop when Σ‖c−c′‖₂ < threshold (checked from
    *                  iteration 2, reference semantics); negative = run
    *                  exactly `maxIterations`
    * @param init      optional warm-start centers (cid → vector). When
    *                  absent, the pinned k-lowest-id init. Warm starts
    *                  are how callers compose rounds with an
    *                  inter-round transform (e.g. the trained-IVF gate
    *                  rounds centers to 6 digits between Lloyd rounds
    *                  so both engines cross assignment boundaries on
    *                  identical center values).
    * @return model with centers sorted by center id
    */
  def run(
      points: DataFrame,
      k: Int,
      metric: String = "cosine",
      maxIterations: Int = 10,
      threshold: Double = -1.0,
      init: Option[Array[(Int, Array[Double])]] = None): Model = {
    val spark = points.sparkSession
    import spark.implicits._

    val pts: Dataset[(Long, Array[Double])] = points
      .select(col("id").cast("long"), col("vec").cast("array<double>"))
      .as[(Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Pinned init: k lowest-id points, center ids 0..k-1 — unless the
    // caller warm-starts with explicit centers.
    require(init.forall(_.length == k),
      s"kmeans: warm-start center count ${init.map(_.length).getOrElse(0)} != k=$k")
    var centers: Array[(Int, Array[Double])] = init
      .map(_.map { case (cid, v) => (cid, v.clone) }.sortBy(_._1))
      .getOrElse(pts.orderBy(col("id")).limit(k).collect().zipWithIndex.map {
        case ((_, v), i) => (i, v)
      })
    val dim = centers.head._2.length
    val vecMean = new VecMean(dim)

    var iter = 0
    var lastSizes: Map[Int, Long] = Map.empty
    var shift = Double.MaxValue
    var done = false
    while (iter < maxIterations && !done) {
      iter += 1
      val cs = centers // stable closure capture
      val assignF = assign(cs, metric) _
      val partials = pts
        .map { case (_, v) => (assignF(v), v) }
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(vecMean.toColumn)
        .collect()
      val recomputed = partials.map { case (cid, (sums, n)) => (cid, sums.map(_ / n)) }.toMap
      lastSizes = centers.map { case (cid, _) =>
        cid -> partials.collectFirst { case (`cid`, (_, n)) => n }.getOrElse(0L)
      }.toMap
      // A cluster that attracted no points keeps its previous center.
      val newCenters = centers.map { case (cid, v) =>
        (cid, recomputed.getOrElse(cid, v))
      }.sortBy(_._1)
      if (threshold >= 0 && iter >= 2) {
        val byId = newCenters.toMap
        shift = centers.map { case (cid, v) =>
          byId.get(cid).map(nv => math.sqrt(sqDist(v, nv))).getOrElse(0.0)
        }.sum
        if (shift < threshold) done = true
      }
      centers = newCenters
    }
    pts.unpersist(blocking = false)
    Model(centers, iter, shift, lastSizes)
  }

  /** Naive loop-of-jobs baseline (A11, reference
    * `naive/NaiveKmeans.java`: each iteration is an independent MR job
    * reading the previous round's output from disk). Re-expressed: the
    * centers live in a (tiny) DataFrame instead of driver state,
    * assignment is a crossJoin + window rank, recentering a
    * posexplode-groupBy — structurally disjoint from [[run]]'s typed
    * aggregator + collected-centers closure, which is what makes the
    * differential agreement between the two a meaningful oracle (the
    * reference's own test strategy, SURVEY §5). Each round's output is
    * materialized (`localCheckpoint`) like the reference's per-job HDFS
    * write. Fixed iteration count, no convergence check — naive.
    *
    * Returns (cid, cvec, n) with `n` the final assignment sizes. */
  def runNaive(points: DataFrame, k: Int, iterations: Int): DataFrame =
    Pins.scope { pins =>
    import org.apache.spark.sql.expressions.Window
    val pts = points
      .select(col("id").cast("long"), col("vec").cast("array<double>").as("vec"))
    // Pinned init: k lowest-id points, center ids 0..k-1 (same as run).
    // cid comes from zipWithIndex over the single sorted ≤k-row
    // partition `orderBy.limit` produces — an unpartitioned rank window
    // here would spray WindowExec's single-partition warning (and Spark
    // 4's EliminateWindowPartitions folds away constant partition specs).
    var centers = pins {
      val initRows = pts.orderBy("id").limit(k)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
      val rows = initRows.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row(i.toInt, r.getSeq[Double](1))
      }
      pts.sparkSession.createDataFrame(rows, schema)
    }
    var lastAssign: DataFrame = null
    for (_ <- 1 to iterations) {
      val dist = aggregate(
        zip_with(col("vec"), col("cvec"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v)
      val w = Window.partitionBy("id").orderBy(col("dist"), col("cid"))
      val assigned = pins(pts.crossJoin(broadcast(centers))
        .withColumn("dist", dist)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("cid"), col("vec")))
      lastAssign = assigned
      val means = assigned.select(col("cid"), posexplode(col("vec")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m")).as("mvec"))
      // A cluster that attracted no points keeps its previous center.
      centers = pins(centers.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("mvec"), col("cvec")).as("cvec")))
    }
    val counts = lastAssign.groupBy("cid").agg(count(lit(1)).as("n"))
    // final result into a catalog-visible cache, then free the
    // per-iteration checkpoint leaves clearCache can't see
    val out = centers.join(counts, Seq("cid"), "left")
      .select(col("cid"), col("cvec"), coalesce(col("n"), lit(0L)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Final assignment of every point to the model's centers:
    * (id, cid). */
  def assignments(points: DataFrame, model: Model, metric: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cs = model.centers
    val assignF = assign(cs, metric) _
    points
      .select(col("id").cast("long"), col("vec").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, assignF(v)) }
      .toDF("id", "cid")
  }
}
