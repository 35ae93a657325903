package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Loop configuration.
  *
  * Mirrors the knobs of the reference's iterative job family:
  *  - `maxIterations` — hard cap (reference `JobConf.setMaxIterations`,
  *    `JobConf.java:494-499`; loops at `MapTask.java:584-594`).
  *  - `threshold` — stop when the summed per-key distance drops below it;
  *    negative disables the check (reference JobTracker aggregation,
  *    `JobTracker.java:5551-5595`).
  *  - `checkpointInterval` — every k iterations the dynamic relation is
  *    local-checkpointed to truncate lineage (reference HDFS snapshot
  *    cadence, `JobConf.setCheckPointInterval`, `JobConf.java:698-703`).
  *  - `numPartitions` — partition count shared by the static and dynamic
  *    sides so every iteration's join is co-partitioned (reference
  *    `StaticDataPartitioner.java:30-54`).
  */
final case class IterConfig(
    maxIterations: Int = 10,
    threshold: Double = -1.0,
    checkpointInterval: Int = 4,
    numPartitions: Int = 32)

/** Result of an iterative run: the final dynamic relation, the number of
  * iterations actually executed, and the last measured distance
  * (`Double.MaxValue` if the distance check never fired).
  *
  * `dynamic` is a catalog-visible cached frame (`Dataset.persist`), so
  * a session-level `clearCache` reclaims it; `release` unpersists it
  * eagerly for library callers that manage caches themselves. */
final case class IterResult(dynamic: DataFrame, iterations: Int, lastDistance: Double,
    release: () => Unit = () => ())

/** Framework-managed iteration, Spark-first.
  *
  * The reference keeps map/reduce tasks alive across N iterations and
  * coordinates them with RPC-polled events (`MapTask.java:575-607`,
  * `ReduceTask.java:2181-2299`, umbilical events in
  * `TaskUmbilicalProtocol.java:174-190`). Under Spark's synchronous stage
  * scheduler all of that collapses to a driver-side loop (SURVEY §3.2):
  * the static relation is hash-partitioned on the projected dynamic key
  * once and kept resident (reference local static cache,
  * `MapTask.java:858-876`), every iteration's join then reuses that
  * partitioning, and the convergence check is a `collect()` of one Double.
  *
  * Scale notes (100 TB design): the only driver-side data is the distance
  * scalar; the dynamic relation is re-partitioned on its key so the
  * join static⨝dynamic shuffles neither side after the first iteration;
  * lineage is truncated on a cadence so plans don't grow with the
  * iteration count.
  *
  * @param static       immutable relation, already carrying the projected
  *                     dynamic key column `staticKey`
  * @param staticKey    column of `static` holding the projected dynamic key
  * @param init         iteration-0 dynamic relation, keyed by `dynKey`
  * @param dynKey       key column of the dynamic relation
  * @param kind         projection cardinality (selects join strategy)
  * @param step         (staticPartitioned, dynamic, iteration) → next
  *                     dynamic relation; equivalent of the reference's
  *                     `IterativeMapper.map` + `IterativeReducer.reduce`
  *                     pair (`IterativeMapper.java:14-16`,
  *                     `ReduceTask.java:2989-3107`)
  * @param distance     (prev, curr) → summed distance; equivalent of
  *                     `IterativeReducer.distance` + the JobTracker sum
  *                     (`IterativeReducer.java:15`, `JobTracker.java:5551`)
  */
final class IterativeJob(
    static: DataFrame,
    staticKey: String,
    init: DataFrame,
    dynKey: String,
    kind: ProjectKind,
    step: (DataFrame, DataFrame, Int) => DataFrame,
    distance: (DataFrame, DataFrame) => Double,
    config: IterConfig = IterConfig()) {

  def run(): IterResult = {
    // config.numPartitions is the parallelism CEILING; the static
    // relation's size picks the real count at AQE's advisory
    // granularity (guide §2 — scale-adaptive partitioning). Both sides
    // share the one adaptive n, so the per-iteration join still reuses
    // the partitioning.
    val n = Adaptive.partitionsFor(static, config.numPartitions)
    // F13 + F35: co-partition the static side by the projected dynamic key
    // once, cache it for every iteration. ONE2ALL static needs no shuffle —
    // the dynamic side is broadcast instead.
    val s = (kind match {
      case ProjectKind.One2All => static
      case _                   => static.repartition(n, col(staticKey))
    }).persist(StorageLevel.MEMORY_AND_DISK)

    var dyn = (kind match {
      case ProjectKind.One2All => init
      case _                   => init.repartition(n, col(dynKey))
    }).persist(StorageLevel.MEMORY_AND_DISK)

    var i = 0
    var dist = Double.MaxValue
    var done = false
    // Iterations whose results are persisted lazily; they materialize (and
    // cache, each level exactly once) at the next eager point, after which
    // they can be released. With the convergence check disabled this cuts
    // the driver loop from one Spark job per iteration to one per
    // checkpoint interval.
    var pendingLazy = List.empty[DataFrame]
    // The iteration-0 cache is superseded by the first checkpoint; drop
    // it there (it would otherwise sit in the cache for the whole run).
    var initCache: DataFrame = dyn
    // Release thunk of the last eagerly-materialized checkpoint leaf.
    // Checkpoint leaves are raw-RDD caches that `Dataset.unpersist` /
    // `clearCache` cannot see (they go through the CacheManager, the
    // leaf doesn't) — each checkpoint frees its predecessor's blocks
    // explicitly once the new leaf is materialized and no live frame
    // can reference the old one.
    var materializedRelease: () => Unit = () => ()
    while (i < config.maxIterations && !done) {
      i += 1
      val next = kind match {
        case ProjectKind.One2All => step(s, dyn, i)
        case _                   => step(s, dyn, i).repartition(n, col(dynKey))
      }
      // F21-F23: distance is summed across ALL keys and compared once per
      // iteration; the reference's per-task check only starts at iteration 2
      // (`ReduceTask.java:3018`) — replicated here.
      val checkDistance = config.threshold >= 0 && i >= 2
      val eagerPoint = checkDistance || i == config.maxIterations ||
        (config.checkpointInterval > 0 && i % config.checkpointInterval == 0)
      if (eagerPoint) {
        val t0 = System.nanoTime()
        val pinned = org.apache.spark.sql.graft.GraftSqlShim.pin(next)
        val materialized = pinned.leaf
        if (IncrementalJob.timingEnabled)
          System.err.println(
            f"[iter] checkpoint i=$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        if (checkDistance) {
          dist = distance(dyn, materialized)
          if (dist < config.threshold) done = true
        }
        pendingLazy.foreach(_.unpersist(blocking = false))
        pendingLazy = Nil
        if (initCache ne null) { initCache.unpersist(blocking = false); initCache = null }
        materializedRelease()
        materializedRelease = pinned.release
        dyn = materialized
      } else {
        val lazyNext = next.persist(StorageLevel.MEMORY_AND_DISK)
        pendingLazy ::= lazyNext
        dyn = lazyNext
      }
    }
    s.unpersist(blocking = false)
    // The loop always exits right after an eager point (the last
    // iteration and every distance check are eager), so `dyn` is a
    // checkpoint leaf here. Copy it into a catalog-visible cache and
    // free the leaf: the returned frame is then fully reclaimable by
    // `clearCache`/`release` — no raw checkpoint blocks outlive the run.
    // The copy is one pass over the already-cached final state —
    // O(result), not O(input).
    val tf = System.nanoTime()
    val result = dyn.persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    materializedRelease()
    if (IncrementalJob.timingEnabled)
      System.err.println(
        f"[iter] final persist: ${(System.nanoTime() - tf) / 1e9}%.2f s after $i iters")
    IterResult(result, i, dist, () => { result.unpersist(blocking = false); () })
  }
}

object IterativeJob {
  /** Σ|prev.valueCol − curr.valueCol| over the join of the two states —
    * the common distance shape (reference `TerminateChecker`,
    * `ReduceTask.java:2666-2706`). */
  def sumAbsDiff(key: String, valueCol: String): (DataFrame, DataFrame) => Double =
    (prev, curr) => {
      val p = prev.select(col(key), col(valueCol).as("_prev"))
      val c = curr.select(col(key), col(valueCol).as("_curr"))
      p.join(c, key)
        .agg(sum(abs(col("_prev") - col("_curr"))).as("d"))
        .collect()(0).getAs[Any]("d") match {
        case null      => 0.0
        case d: Double => d
        case d: Number => d.doubleValue()
      }
    }

  /** Distance as a per-key column over (prevOut, currOut) pairs, exposed
    * for the incremental frontier filter (F30). */
  def absDiff(prevCol: Column, currCol: Column): Column = abs(prevCol - currCol)
}
