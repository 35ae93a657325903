package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Narrow bridge into Spark's `private[sql]` surface (this file lives
  * under `org.apache.spark.sql` for access; the technique is the same
  * one spark-packages use for lineage-free leaves).
  *
  * Why it exists: `Dataset.localCheckpoint` bakes the OPTIMIZED PLAN's
  * size estimate into the leaf it returns (`originStats`). In a driver
  * loop whose frames feed each other, those estimates compound
  * geometrically until Catalyst's stats arithmetic dominates wall time
  * (see `IncrementalJob.materialize`). The previous workaround routed
  * every checkpoint through the block cache first (persist + count +
  * localCheckpoint) so the leaf saw real cached-size stats — correct,
  * but it wrote every byte of state twice and cost two jobs per
  * materialization.
  *
  * [[pin]] does the single-write version: take the plan's
  * InternalRow RDD, local-checkpoint THAT (one cached copy, lineage
  * truncated), and wrap it in a [[LogicalRDD]] carrying EXPLICIT
  * statistics — constant-size numbers, immune to estimate compounding.
  * `sizeInBytes` is read from the block manager's storage info for the
  * just-cached RDD (the REAL cached bytes), falling back to a row-count
  * × schema estimate only if the blocks aren't visible yet. The
  * schema-only estimate understates variable-width data badly —
  * `ArrayType.defaultSize` assumes one element, so a 64-dim-vector
  * state would look 64× smaller than it is and could be auto-broadcast
  * at sizes that OOM an executor; real block sizes make the planner's
  * broadcast decisions honest. The physical plan's partitioning and
  * ordering are preserved exactly like `Dataset.localCheckpoint`
  * preserves them, so co-partitioned loop joins stay shuffle-free.
  *
  * Freeing the blocks: `Dataset.unpersist`/`spark.catalog.clearCache()`
  * go through the `CacheManager` and CANNOT see a raw RDD cached by
  * `localCheckpoint` — the blocks would otherwise live until the
  * ContextCleaner happens to GC the RDD reference. Every pin therefore
  * hands back a release thunk; callers free a bounded-lifetime leaf
  * through it when the frame is superseded (`graft.core.Pins` frees a
  * block's intermediates at its end, `IncrementalJob`'s segment
  * lifecycle frees superseded segments). After release the leaf CANNOT
  * be recomputed (lineage was truncated) — release only when nothing
  * references the frame.
  */
object GraftSqlShim {

  /** A pinned frame: the lineage-free `leaf`, its row count, the thunk
    * that frees its cached blocks (idempotent, non-blocking), and per
    * requested column the distinct non-null INT values (`sets`) and the
    * exact sum of the non-null LONG values (`sums`). */
  final case class Pinned(leaf: DataFrame, rows: Long, release: () => Unit,
      sets: Seq[Set[Int]], sums: Seq[BigInt])

  /** Materialize `df` as a local-checkpointed, lineage-free leaf with
    * explicit statistics: ONE job, one cached copy of the data.
    *
    * The same job gathers, for each INT column named in `sets`, the set
    * of distinct non-null values — callers that need a small-cardinality
    * key-bucket set (the incremental loops' touched/frontier bucket ids)
    * stop paying a separate `select(bucket).distinct().collect()` job
    * per iteration (guide §1.2 — in these driver loops the job count,
    * not the byte count, is the cost) — and, for each LONG column named
    * in `sums`, the exact sum of its non-null values (BigInt —
    * per-partition accumulation is overflow-safe), so loops that poll a
    * label/weight sum per round for convergence (e.g. connected
    * components) pay no extra agg job.
    *
    * The leaf stays a cached-RDD scan at EVERY size. A driver-sized
    * leaf must NOT become a `LocalRelation`: `LocalTableScanExec`
    * parallelizes its rows into `leafNodeDefaultParallelism` slices, so
    * every distributed scan of a 50-row frontier would cost 32 tasks
    * instead of 1-2 (measured: 2.5k→15.7k tasks, 2× wall on the
    * incremental gates). */
  def pin(df: DataFrame, sets: Seq[String] = Nil,
      sums: Seq[String] = Nil): Pinned = {
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cds.sparkSession
    val qe = cds.queryExecution
    val output = qe.analyzed.output
    def ordinals(cols: Seq[String], dt: DataType, kind: String) =
      cols.map { c =>
        val i = output.indexWhere(_.name == c)
        require(i >= 0 && output(i).dataType == dt,
          s"pin: no $kind column '$c' in " + output.map(_.name).mkString(","))
        i
      }.toArray
    val ords = ordinals(sets, IntegerType, "INT")
    val sords = ordinals(sums, LongType, "LONG")
    // InternalRow buffers are reused per partition — copy before caching.
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // ONE job: materializes the checkpoint (every partition is cached,
    // same as the old count()) while counting rows and gathering the
    // distinct-int stats and long sums. A failed job frees the blocks
    // its finished tasks cached: the caller never gets a release.
    val perPart = try spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val seen = Array.fill(ords.length)(new java.util.HashSet[Int]())
        // overflow-safe long accumulation: spill to BigInteger on a
        // sign-flip overflow, never per row
        val accLo = Array.fill(sords.length)(0L)
        val accBig = Array.fill(sords.length)(java.math.BigInteger.ZERO)
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          n += 1
          var i = 0
          while (i < ords.length) {
            val o = ords(i)
            if (!r.isNullAt(o)) seen(i).add(r.getInt(o))
            i += 1
          }
          var j = 0
          while (j < sords.length) {
            val o = sords(j)
            if (!r.isNullAt(o)) {
              val v = r.getLong(o)
              val next = accLo(j) + v
              if (((accLo(j) ^ next) & (v ^ next)) < 0L) {
                accBig(j) = accBig(j).add(
                  java.math.BigInteger.valueOf(accLo(j)))
                accLo(j) = v
              } else accLo(j) = next
            }
            j += 1
          }
        }
        val bigs = Array.tabulate(sords.length)(j =>
          accBig(j).add(java.math.BigInteger.valueOf(accLo(j))))
        (n, seen, bigs)
      }) catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
    val rows = perPart.iterator.map(_._1).sum
    val distinct = ords.indices.map { i =>
      val s = Set.newBuilder[Int]
      perPart.foreach(p => p._2(i).forEach(v => s += v))
      s.result()
    }
    val totals = sords.indices.map(j =>
      perPart.foldLeft(BigInt(0))((acc, p) => acc + BigInt(p._3(j))))
    // After the job, an adaptive plan is finalized, so its
    // partitioning is the real one (same trick as Dataset.checkpoint:
    // a PartitioningCollection collapses to its first leaf).
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other                      => other
    }
    val part = firstLeaf(qe.executedPlan.outputPartitioning)
    val ord = qe.executedPlan.outputOrdering
    // Real cached bytes from the block manager (the job above forced
    // every block in, so the storage info is complete). Fallback: schema
    // estimate — only used if the storage listing is racing.
    val realBytes = spark.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize)
      .filter(_ > 0L)
    val estBytes = rows * math.max(qe.analyzed.schema.defaultSize, 1)
    val sizeInBytes = math.max(realBytes.getOrElse(estBytes), 16L)
    val plan = LogicalRDD(qe.analyzed.output, rdd, part, ord, isStreaming = false)(
      spark, Some(Statistics(BigInt(sizeInBytes), Some(BigInt(rows)))), None)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    Pinned(classic.Dataset.ofRows(spark, plan), rows,
      () => if (released.compareAndSet(false, true))
        rdd.unpersist(blocking = false),
      distinct, totals)
  }

  /** The optimizer's size estimate of `df`'s lazy plan — for file scans
    * the listed file sizes, so reading it runs no job. None when a leaf
    * of the plan has no size statistics (e.g. a frame over an RDD):
    * the optimizer then assumes `spark.sql.defaultSizeInBytes`,
    * `Long.MaxValue` unless set, and the plan's estimate is not a size. */
  def estimatedBytes(df: DataFrame): Option[BigInt] = {
    val plan = df.asInstanceOf[classic.Dataset[Row]].queryExecution
      .optimizedPlan
    val unknown = org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes
    if (plan.collectLeaves().exists(_.stats.sizeInBytes >= unknown)) None
    else Some(plan.stats.sizeInBytes)
  }

  /** `spark.sql.autoBroadcastJoinThreshold` as the current thread sees
    * it (−1 = disabled). */
  def broadcastThreshold: Long =
    org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold

  /** Row-level twin of `pmod(xxhash64(k), n)` for keys of type `dt`
    * (external Scala values, as in a `Row`): the same Catalyst hash the
    * column expression evaluates, so a key bucketed inside a task lands
    * where the store's column expression puts it. */
  def keyBucketFn(dt: org.apache.spark.sql.types.DataType,
      n: Int): Any => Int = new KeyBucketFn(dt, n)

  private final class KeyBucketFn(dt: org.apache.spark.sql.types.DataType,
      n: Int) extends (Any => Int) with Serializable {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
    @transient private lazy val hash =
      new XxHash64(Seq(BoundReference(0, dt, nullable = true)))
    @transient private lazy val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(dt)
    def apply(k: Any): Int = {
      val h = hash.eval(InternalRow(toCatalyst(k))).asInstanceOf[Long]
      java.lang.Math.floorMod(h, n.toLong).toInt
    }
  }

  /** Run `f` with `overrides` applied to a THREAD-LOCAL clone of the
    * session's SQLConf — nothing session-visible is mutated, so
    * concurrent work sharing the SparkSession on other threads never
    * sees the overrides.
    *
    * Why this is sound for analyzer toggles: Datasets analyze EAGERLY
    * at construction (the `Dataset` constructor asserts analysis), and
    * analyzer rules read their conf through `SQLConf.get`, which
    * consults the thread-local override first
    * (`SQLConf.withExistingConf`). A driver loop that builds all its
    * frames inside `f` therefore gets the override for exactly the
    * analysis passes it needs, on exactly this thread, for exactly the
    * dynamic extent of `f` — optimizer/execution phases that run later
    * (first action on a returned frame) use the session's normal conf,
    * the same state the old set-then-restore pattern left behind. */
  def withConfOverrides[T](spark: org.apache.spark.sql.SparkSession,
      overrides: Map[String, String])(f: => T): T = {
    val patched =
      spark.asInstanceOf[classic.SparkSession].sessionState.conf.clone()
    overrides.foreach { case (k, v) => patched.setConfString(k, v) }
    org.apache.spark.sql.internal.SQLConf.withExistingConf(patched)(f)
  }
}
