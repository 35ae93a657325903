package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{SegStore, SegSwap}

/** SEGMENTED durable form of the generic incremental core's
  * [[PreservedState]] — the [[graft.operators.DupSpansStore]] /
  * [[graft.operators.LmCountsStore]] touched-bucket layout applied to
  * the engine's own F27-F31 preserve store (`kvs`/`out`), so the
  * flagship continuations (incremental PageRank's ranks, GIM-V's
  * vector, KMeans' centers) get delta-proportional durable writes with
  * the same journaled crash contract.
  *
  * Why: [[PreservedState.write]] is a wholesale overwrite, and a loop
  * run with `durableStatePath` re-materializes the WHOLE kvs/out as
  * its first durable segment on every continuation — corpus-width
  * write cost no matter how small the delta. Here the state lives as
  * Parquet PARTITIONED by a key-hash bucket `_b =
  * pmod(xxhash64(k2), B)`, the loop's initial segments are LAZY reads
  * over the live bucket dirs (untouched buckets are never even read,
  * thanks to partition pruning on the loop's touched-bucket filters),
  * and one [[SegSwap]] commit at the end of the continuation rewrites
  * ONLY the buckets the loop touched. Untouched bucket files keep
  * their exact bytes and mtimes (spec-asserted). Reference analog: the
  * preserve store is rewritten per reduce partition, not wholesale
  * (`incr-hadoop-0.1/src/mapred/.../ReduceTask.java:3504-3691`,
  * `IFile.java:478-800`).
  *
  * Crash contract (the shared [[SegSwap]] one): a continuation stages
  * every touched bucket, then one atomically-renamed journal commits
  * the two-table swap; a crash before the journal rolls back (live
  * state untouched — the continuation simply re-runs), after it rolls
  * forward. Readers resolve an uninstalled commit non-destructively
  * ([[SegSwap.resolvedTable]]). Single concurrent writer.
  *
  * The key column's dtype is PINNED at init (bucket hashes are
  * dtype-sensitive); the loop casts every fresh key to it before
  * hashing, so a continuation whose reduce emits a narrower key type
  * cannot silently mis-bucket.
  */
final class SegmentedStateStore private[core] (
    spark: SparkSession, val path: String, val k2Col: String,
    val nBuckets: Int, k2Ddl: String, kvsDdl: String, outDdl: String) {

  /** The pinned key dtype. */
  val keyType: org.apache.spark.sql.types.DataType =
    StructType.fromDDL(s"x $k2Ddl").head.dataType

  /** The store's bucket function — pins the key dtype before hashing
    * so bucket placement is dtype-drift-proof. */
  def bucketOf(c: Column): Column = {
    val pinned = if (keyType == org.apache.spark.sql.types.NullType) c
      else c.cast(keyType)
    SegStore.hashBucket(nBuckets, pinned)
  }

  /** [[bucketOf]] for one key value inside a task (an external Scala
    * value of the pinned dtype, as a `Row` carries it). */
  def bucketFn: Any => Int =
    org.apache.spark.sql.graft.GraftSqlShim.keyBucketFn(keyType, nBuckets)

  /** Cast a loop frame's key column to the pinned dtype (no-op when it
    * already matches; loud failure when uncastable). */
  def pinKey(df: DataFrame): DataFrame =
    SegSwap.castToPinned(df, k2Col, k2Ddl, s"segmented state at $path")

  /** Journal-resolved reads — `_b` included (the loop's segment
    * manifests want it; [[preserved]] drops it for plain consumers).
    * LAZY: consume (collect/materialize) a frame BEFORE the next
    * writer commit on this store — an install renames/deletes the
    * files a stale plan holds ([[SegSwap.resolvedTable]]'s contract).
    * Store-mode loop results honor this via [[IncrementalJob.finish]]. */
  def kvs: DataFrame =
    SegSwap.resolvedTable(spark, path, "kvs", StructType.fromDDL(kvsDdl))
  def out: DataFrame =
    SegSwap.resolvedTable(spark, path, "out", StructType.fromDDL(outDdl))

  /** Writer-lease epoch held by this handle ([[SegSwap.acquireLease]];
    * set by `openForWrite`, passed as the commit fence, released after
    * the swap — or by [[releaseLease]] on a no-commit path). */
  private[core] var leaseEpoch: Option[Long] = None

  /** Release the held writer lease (idempotent; a no-op for read
    * handles and after a commit already released it). */
  def releaseLease(): Unit = leaseEpoch.foreach { e =>
    SegSwap.releaseLease(SegSwap.fsOf(spark, path), path, e)
    leaseEpoch = None
  }

  /** The store as a plain [[PreservedState]] view (lazy, no copies). */
  def preserved: PreservedState = PreservedState(kvs.drop("_b"), out.drop("_b"))

  /** The store's current commit epoch (0 = as-inited; each installed
    * continuation/compaction advances it by one). */
  def currentEpoch: Long = SegmentedStateStore.currentEpoch(spark, path)

  /** Time-travel view: the preserved state AS OF `epoch`, re-resolvable
    * for [[SegSwap.retentionOf]] epochs after it ([[SegSwap
    * .snapshotTable]] — untouched buckets read live, replaced ones from
    * the retiring commit's retired dir). A continuation can be audited
    * or diffed against the exact state it started from; past the
    * horizon the read fails loudly instead of silently mixing epochs. */
  def snapshotAt(epoch: Long): PreservedState = PreservedState(
    SegSwap.snapshotTable(spark, path, "kvs",
      StructType.fromDDL(kvsDdl), epoch).drop("_b"),
    SegSwap.snapshotTable(spark, path, "out",
      StructType.fromDDL(outDdl), epoch).drop("_b"))

  /** Persist a non-default snapshot retention horizon (epochs kept
    * readable behind the current one; 0 = retire nothing past the
    * install, the pre-snapshot disk profile). */
  def setRetention(epochs: Int): Unit =
    SegSwap.setRetention(SegSwap.fsOf(spark, path), path, epochs)

  /** PIN `epoch` (and with it every later epoch) against roll-forward
    * GC for the duration of a long snapshot read — an audit, diff, or
    * export that outlives `retention` writer commits. TTL-expiring,
    * like the writer lease; release with [[releasePin]]. */
  def pinEpoch(epoch: Long): String =
    SegSwap.pinEpoch(SegSwap.fsOf(spark, path), path, epoch)

  def releasePin(token: String): Unit =
    SegSwap.releasePin(SegSwap.fsOf(spark, path), path, token)

  /** AUDIT DIFF between two committed epochs of the preserved `out` —
    * the reference's compseqfile/compagerank divergence check (A8/A9,
    * `incr-hadoop-0.1/src/examples/org/apache/hadoop/examples/incremental/CompSeqFile.java:19-74`)
    * as a TIME-TRAVEL op: one row per key whose out row differs
    * between the two epochs' views, as `(k2, v_before, v_after)` per
    * value column, appear/disappear rows surfacing with a null side.
    *
    * Scale shape: both snapshot frames are partition-pruned to
    * [[SegSwap.changedBuckets]] — the buckets commits in (a, b]
    * actually replaced/created/dropped — so the audit reads and joins
    * O(changed buckets), never the corpus, no matter how old the store
    * is. Assumes `out` carries one row per key (One2One/One2All
    * reduces; a One2Mul out would need the multi-row merge the loop
    * itself uses). Both epochs must be inside the retention horizon
    * ([[snapshotAt]]'s loud guard). */
  def diffOut(a: Long, b: Long): DataFrame = {
    require(a <= b, s"segstate: diffOut epochs out of order ($a > $b)")
    val fs = SegSwap.fsOf(spark, path)
    val changed = SegSwap.changedBuckets(fs, path, "out", a, b)
    val schema = StructType.fromDDL(outDdl)
    val valueCols = schema.fieldNames.filterNot(c => c == k2Col || c == "_b")
    def side(e: Long, tag: String): DataFrame = {
      val f0 = SegSwap.snapshotTable(spark, path, "out", schema, e)
      val f = if (changed.isEmpty) f0.limit(0)
        else f0.filter(col("_b").isin(changed.toSeq.map(Integer.valueOf): _*))
      f.select(col(k2Col) +: valueCols.map(c => col(c).as(s"${c}_$tag")): _*)
    }
    val joined = side(a, "before").join(side(b, "after"), Seq(k2Col), "full_outer")
    val differs = valueCols.map(c =>
      !(col(s"${c}_before") <=> col(s"${c}_after"))).reduce(_ || _)
    joined.filter(differs)
  }

  /** Publish the preserved state AS OF `epoch` to `dst` as a fresh
    * standalone store ([[SegStore.exportAt]]) — checkpoint a converged
    * engine state for another pipeline or a reproducibility archive
    * while this store keeps taking continuations. The exported params'
    * [[appliedBatch]] fence is the epoch's own (a stream maintainer
    * resuming against the export replays exactly the batches after its
    * cut). */
  def exportAt(epoch: Long, dst: String): Unit =
    SegmentedStateStore.exportAt(spark, path, epoch, dst)

  /** Roll kvs, out AND params back to `epoch` as a NEW journaled commit
    * ([[SegStore.rollbackTo]]): a stream maintainer's [[appliedBatch]]
    * fence reverts with the state it fenced, so replayed deltas
    * re-apply instead of being skipped against rolled-back ranks. */
  def rollbackTo(epoch: Long): Unit =
    SegmentedStateStore.rollbackTo(spark, path, epoch)

  /** The last stream batch id applied to this store (−1 = none) — the
    * idempotence fence for checkpoint-replayed micro-batches: a
    * foreachBatch maintainer skips a continuation whose batch id is
    * already recorded here (it rides the SAME journal as the swap, so
    * it can never claim a batch whose data didn't install). */
  def appliedBatch: Long = SegmentedStateStore.lastBatch(spark, path)

  /** Install the continuation's result: replacement rows (must carry
    * `_b`) for exactly each table's `touched` buckets (the sets can
    * differ — the loop's exit-invariant kvs refresh touches kvs only),
    * staged and swapped under one journal; `batchId` (stream
    * maintainers) records [[appliedBatch]] atomically with the swap
    * via the params dir entry. The frames MUST be either materialized
    * leaves or live-file-only plans built after recover
    * ([[SegSwap.commit]]'s residence contract). No-op when nothing was
    * touched. */
  private[core] def commit(kvsRows: DataFrame, outRows: DataFrame,
      touchedKvs: Set[Int], touchedOut: Set[Int],
      batchId: Option[Long] = None): Unit = {
    SegSwap.commit(spark, path,
      Seq(("kvs", kvsRows, touchedKvs), ("out", outRows, touchedOut)),
      dirSwaps = batchId.toSeq.map(b => "params" -> ((dst: String) =>
        SegmentedStateStore.writeParams(spark, dst, k2Col, nBuckets,
          k2Ddl, kvsDdl, outDdl, appliedBatch = b))),
      fence = leaseEpoch)
    releaseLease()
  }
}

object SegmentedStateStore extends SegStore("state", "segstate") {
  import SegStore.{Params, Table}

  override protected def fenceField: String = "appliedBatch"

  /** kvs and out, bucketed by the key cast to its pinned dtype. */
  protected def tables(p: Params): Seq[Table] = {
    val k2Type = StructType.fromDDL(s"x ${p.str("k2Ddl")}").head.dataType
    val bucket = SegStore.hashBucket(p.b, col(p.str("k2Col")).cast(k2Type))
    Seq("kvs", "out").map(t => Table(t, p.ddl(t), bucket))
  }

  private[core] def writeParams(spark: SparkSession, dst: String,
      k2Col: String, b: Int, k2Ddl: String, kvsDdl: String,
      outDdl: String, appliedBatch: Long): Unit =
    SegSwap.writeParamsTo(spark, dst, Seq(
      "k2Col" -> k2Col, "b" -> b, "k2Ddl" -> k2Ddl,
      "kvsDdl" -> kvsDdl, "outDdl" -> outDdl,
      "appliedBatch" -> appliedBatch))

  /** Lay a converged run's preserved state out as the bucket-
    * partitioned store. `nBuckets` trades rewrite granularity against
    * file count — at 100 TB one bucket should hold O(executor-task)
    * bytes, so thousands; the default suits the test scales. */
  def init(spark: SparkSession, path: String, state: PreservedState,
      k2Col: String, nBuckets: Int = 64): Unit = {
    // params (the completeness marker) removed FIRST on re-init: a
    // crash mid-init must read as incomplete (the store-family rule)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val k2Ddl = state.out.schema(k2Col).dataType.sql
    val bucket = SegStore.hashBucket(nBuckets, col(k2Col))
    var ddl = Map.empty[String, String]
    val writes = Seq("kvs" -> state.kvs, "out" -> state.out).map {
      case (n, df0) =>
        // BOTH tables' key columns cast to the pinned dtype (derived
        // from out) before hashing: a preserve whose kvs carries a
        // different k2 dtype than out (e.g. int vs long) would otherwise
        // place kvs rows in buckets inconsistent with bucketOf, and
        // continuations would silently strand or miss them — the exact
        // dtype-drift class castToPinned defends against elsewhere
        val df = SegSwap.castToPinned(df0, k2Col, k2Ddl, s"segstate init $n")
        val withB = df.withColumn("_b", bucket)
        ddl += n -> withB.schema.toDDL
        graft.operators.SegSwap.stageBuckets(withB, s"$path/$n")
    }
    // the two table writes are independent (distinct dirs; params — the
    // completeness marker — still lands after both): overlap them
    graft.util.Par.foreach(writes)
    writeParams(spark, s"$path/params", k2Col, nBuckets, k2Ddl,
      ddl("kvs"), ddl("out"), appliedBatch = -1L)
  }

  private def open(spark: SparkSession, path: String): SegmentedStateStore = {
    val p = params(spark, path)
    new SegmentedStateStore(spark, path, p.str("k2Col"), p.b,
      p.str("k2Ddl"), p.str("kvsDdl"), p.str("outDdl"))
  }

  /** Open for the single WRITER (an incremental continuation): takes
    * the writer lease (a second concurrent writer fails loudly here —
    * [[SegSwap.acquireLease]]), then rolls any interrupted swap
    * forward, so the continuation starts from installed state and
    * staging is clean for its own commit. The lease is released by the
    * continuation's commit (or [[SegmentedStateStore.releaseLease]] on
    * a no-commit path); a crashed holder's lease expires via TTL. */
  def openForWrite(spark: SparkSession, path: String): SegmentedStateStore = {
    val fs = SegSwap.fsOf(spark, path)
    val epoch = SegSwap.acquireLease(fs, path)
    try {
      SegSwap.recover(spark, path)
      val st = open(spark, path)
      st.leaseEpoch = Some(epoch)
      st
    } catch { case e: Throwable =>
      SegSwap.releaseLease(fs, path, epoch); throw e
    }
  }

  /** The stores-fed continuation shell: open `path` for the single
    * writer and run `continue` on it, unless the store already records
    * `batchId` ([[SegmentedStateStore.appliedBatch]] — a replayed
    * micro-batch), in which case the result is None. The lease is
    * released on every exit (idempotent after a commit released it). */
  def continueOnce(spark: SparkSession, path: String, batchId: Option[Long])(
      continue: SegmentedStateStore => IncrResult): Option[IncrResult] = {
    val store = openForWrite(spark, path)
    try {
      if (batchId.exists(_ <= store.appliedBatch)) None
      else Some(continue(store))
    } finally store.releaseLease()
  }

  /** Open read-only: never mutates — an uninstalled commit is resolved
    * through the journal on every read. */
  def openForRead(spark: SparkSession, path: String): SegmentedStateStore =
    open(spark, path)

  /** Journaled RE-BUCKETING of the preserved state ([[SegStore
    * .relayout]]) — the lifecycle op that keeps CONTINUATION cost
    * delta-proportional as the key space grows: B is frozen at
    * [[init]], so under a long-lived maintainer each touched-bucket
    * rewrite slowly widens with the corpus. The preserved
    * `appliedBatch` stream fence installs with the data, so a replayed
    * micro-batch still skips after the migration. Run between
    * continuations; the writer lease serializes it against them. Wire
    * it to [[graft.operators.StorePolicy.autoRebuildIfRecommended]] as
    * the rebuild recipe and systematic footprint overshoot heals
    * itself. ([[compact]] is the same op under the store's own B — a
    * repair for state written outside the swap path: continuations
    * already replace every touched bucket dir with one fresh file.) */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))
}
