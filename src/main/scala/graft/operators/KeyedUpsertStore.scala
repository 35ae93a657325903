package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A durable KEYED-UPSERT table on the family's journaled layout
  * ([[SegSwap]]) — the INPUT side of a restart-safe stream maintainer.
  *
  * A foreachBatch pipeline that maintains derived state (the segmented
  * rank/span/model stores) over an evolving input relation needs that
  * relation durable too: after a crash, Structured Streaming's
  * checkpoint replays the in-flight micro-batch, and the replayed
  * continuation must see the exact PRE-batch input — a driver-side
  * variable rebuilt from scratch would silently drop every earlier
  * batch's effect. This store keeps the relation as key-bucketed
  * parquet (`_b = pmod(xxhash64(key), B)`); [[upsertBatch]] REPLACES
  * all rows of every key present in the batch (and drops
  * `removedKeys`), touching only those keys' buckets.
  *
  * EXACTLY-ONCE: `batchId` rides the params table through the same
  * journal as the data swap, so a checkpoint-replayed batch (its id ≤
  * the stored one) is skipped — the fence can never claim a batch
  * whose rows didn't install, and a crash between the sink commit and
  * the checkpoint commit resolves to "skip on replay". Combined with
  * a per-store fence on the DERIVED store and a fixed apply order
  * (derived continuation first, input upsert second — see
  * [[graft.streaming.StreamMaintain]]), the whole two-store pipeline
  * is exactly-once without any cross-store atomic commit: whenever
  * the derived store replays, the input store still holds the
  * pre-batch relation.
  *
  * Single fenced writer; non-destructive readers; the family crash
  * contract ([[SegSwap]]).
  */
object KeyedUpsertStore {

  private def keyBucket(c: Column, b: Int): Column =
    pmod(xxhash64(c), lit(b.toLong)).cast("int")

  private case class Params(keyCol: String, b: Int, keyDdl: String,
      lastBatch: Long, rowsDdl: String)

  private def writeParamsTo(spark: SparkSession, dst: String,
      p: Params): Unit =
    SegSwap.writeParamsTo(spark, dst, Seq(
      "keyCol" -> p.keyCol, "b" -> p.b, "keyDdl" -> p.keyDdl,
      "lastBatch" -> p.lastBatch, "rowsDdl" -> p.rowsDdl))

  private def readParams(spark: SparkSession, path: String): Params = {
    val r = SegSwap.readParamsRow(spark, path,
      Seq("keyCol", "b", "keyDdl", "lastBatch", "rowsDdl"), "keyedupsert")
    Params(r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
      r.getString(4))
  }

  private def inBuckets(bs: Set[Int]): Column =
    if (bs.isEmpty) lit(false)
    else col("_b").isin(bs.toSeq.map(Integer.valueOf): _*)

  /** Lay the base relation out key-bucketed (params — carrying the
    * batch fence, initialized to −1 — last). */
  def init(spark: SparkSession, path: String, rows: DataFrame,
      keyCol: String, nBuckets: Int = 32): Unit = {
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val withB = rows.withColumn("_b", keyBucket(col(keyCol), nBuckets))
    SegSwap.writeBuckets(withB, s"$path/rows")
    writeParamsTo(spark, s"$path/params", Params(keyCol, nBuckets,
      rows.schema(keyCol).dataType.sql, -1L, withB.schema.toDDL))
  }

  /** Read-side handle exposing the store's BUCKET LAYOUT — the durable
    * bucketed static side of an [[graft.core.IncrementalJob]]
    * ([[graft.core.StaticSource]]): a continuation reads only the
    * frontier's buckets as partition-pruned parquet scans (`_b IN …`),
    * never the whole relation. Params are snapshotted at `open` —
    * valid for the duration of one continuation (single fenced writer;
    * the layout fields never change after init).
    *
    * Reference analog: the one-off static distribution + cross-job
    * local static cache (F34 `JobClient.java:912-957`, F35
    * `MapTask.java:858-913`) — here the "cache" is the bucketed
    * parquet layout itself, shared by every continuation. */
  final class ReadHandle private[KeyedUpsertStore] (
      spark: SparkSession, path: String, p: Params)
      extends graft.core.StaticSource {
    def nBuckets: Int = p.b
    def keyColumn: String = p.keyCol
    def bucketOf(c: Column): Column = {
      val t = StructType.fromDDL(s"x ${p.keyDdl}").head.dataType
      keyBucket(c.cast(t), p.b)
    }
    private def table: DataFrame = SegSwap.resolvedTable(spark, path,
      "rows", StructType.fromDDL(p.rowsDdl))
    def pruned(bs: Set[Int]): DataFrame =
      table.filter(inBuckets(bs)).drop("_b")
    def all: DataFrame = table.drop("_b")
  }

  def open(spark: SparkSession, path: String): ReadHandle =
    new ReadHandle(spark, path, readParams(spark, path))

  /** The current relation (journal-resolved; consume before the next
    * writer commit). */
  def rows(spark: SparkSession, path: String): DataFrame = {
    val p = readParams(spark, path)
    SegSwap.resolvedTable(spark, path, "rows",
      StructType.fromDDL(p.rowsDdl)).drop("_b")
  }

  /** The relation AS OF `epoch` ([[SegSwap.snapshotTable]] — readable
    * for the retention horizon, or for as long as a pin covers it). */
  def rowsAt(spark: SparkSession, path: String, epoch: Long): DataFrame = {
    val p = readParams(spark, path)
    SegSwap.snapshotTable(spark, path, "rows",
      StructType.fromDDL(p.rowsDdl), epoch).drop("_b")
  }

  /** The last applied batch id (−1 = none). */
  def lastBatch(spark: SparkSession, path: String): Long =
    readParams(spark, path).lastBatch

  /** The store's current commit epoch (0 = as-inited). */
  def currentEpoch(spark: SparkSession, path: String): Long =
    SegSwap.currentEpoch(SegSwap.fsOf(spark, path), path)

  /** Roll rows AND the batch fence back to `epoch` as one journaled
    * revert ([[SegSwap.rollbackTo]] — the family contract: history-
    * preserving, redo-able, delta-proportional, loud past the
    * retention horizon). The fence reverting WITH the rows is what
    * makes a rolled-back stream restartable: batches after the revert
    * point re-apply instead of being skipped against rolled-back
    * rows. */
  def rollbackTo(spark: SparkSession, path: String, epoch: Long): Unit = {
    val p = readParams(spark, path)
    SegSwap.rollbackTo(spark, path, epoch,
      Seq("rows" -> StructType.fromDDL(p.rowsDdl)),
      dirTables = Seq("params"))
  }

  /** Publish the store AS OF `epoch` to `dst` as a fresh standalone
    * store (see [[SegSwap.exportSnapshot]]; family contract on
    * [[TfidfStore.exportAt]]). */
  def exportAt(spark: SparkSession, path: String, epoch: Long,
      dst: String): Unit =
    SegSwap.exportSnapshot(spark, path, epoch, dst,
      Seq("rows"), dirTables = Seq("params"))

  /** Journaled RE-BUCKETING — the lifecycle op a LONG-LIVED stream
    * maintainer needs: `nBuckets` is frozen at [[init]], but the
    * corpus a 24/7 stream feeds grows without bound, so per-upsert
    * bucket rewrites (O(bucket width) = O(corpus / B)) slowly lose
    * their delta-proportionality. This widens (or shrinks) B in ONE
    * crash-safe swap, same contract as the content-store family
    * ([[DupSpansStore.rebucket]]): every row re-hashed into the new
    * layout, old bucket dirs outside it journaled "empty", and the new
    * params — INCLUDING the preserved `lastBatch` stream fence —
    * installed atomically with the data through a `dir` journal line.
    * Run it BETWEEN batches (the writer lease serializes it against
    * upserts); the fence surviving the migration is what keeps the
    * stream exactly-once across it (spec-pinned). The staging write
    * streams the live table straight to `seg_staging` (disk-bounded,
    * no whole-store materialization). Reference analog: re-running the
    * F34 distribution job with a new partition count
    * (`incr-hadoop-0.1/src/mapred/.../JobClient.java:912-957`). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    SegSwap.withWriterLease(spark, path) { lease =>
      val fs = SegSwap.fsOf(spark, path)
      SegSwap.recover(spark, path) // writer entry: live dirs are truth
      val p = readParams(spark, path)
      // rows carry the pinned key dtype since init — hash as-is
      val staged = SegSwap.resolvedTable(spark, path, "rows",
          StructType.fromDDL(p.rowsDdl))
        .withColumn("_b", keyBucket(col(p.keyCol), nBuckets))
      SegSwap.commit(spark, path,
        Seq(("rows", staged, SegSwap.liveBuckets(fs, path, "rows"))),
        dirSwaps = Seq("params" -> ((dst: String) =>
          writeParamsTo(spark, dst, p.copy(b = nBuckets)))),
        fence = Some(lease), augmentFromStaging = true)
    }

  /** Journaled COMPACTION: rewrite every bucket under the current
    * layout (content-invariant [[rebucket]] with the store's own B). */
  def compact(spark: SparkSession, path: String): Unit =
    rebucket(spark, path, readParams(spark, path).b)

  /** Apply batch `batchId` AT MOST ONCE: replace all rows of keys in
    * `added`, drop `removedKeys`, record the id — one journaled swap.
    * Returns false when the id was already applied (checkpoint
    * replay). Single fenced writer. */
  def upsertBatch(spark: SparkSession, path: String, added: DataFrame,
      removedKeys: DataFrame, batchId: Long): Boolean =
   SegSwap.withWriterLease(spark, path) { lease =>
    SegSwap.recover(spark, path)
    val p = readParams(spark, path)
    if (batchId <= p.lastBatch) false
    else {
      val intern = new IncrMat.Tracker
      val addedP = SegSwap.castToPinned(added, p.keyCol, p.keyDdl,
        "keyedupsert added")
      // the touched-bucket set rides the same job that materializes the
      // replaced-keys leaf (no separate distinct().collect() job)
      val (remRaw, remSets) = intern.matStats(SegSwap.castToPinned(
          removedKeys.select(col(removedKeys.columns.head).as("_rid")),
          "_rid", p.keyDdl, "keyedupsert removedKeys")
        .unionByName(addedP.select(col(p.keyCol).as("_rid"))).distinct()
        .withColumn("_tb", keyBucket(col("_rid"), p.b)), Seq("_tb"))
      val rem = remRaw.drop("_tb")
      val td = remSets.head
      val live = SegSwap.resolvedTable(spark, path, "rows",
        StructType.fromDDL(p.rowsDdl))
      val nextT = intern.mat(live.filter(inBuckets(td))
        .join(rem, col(p.keyCol) === col("_rid"), "left_anti")
        .unionByName(addedP.withColumn("_b",
          keyBucket(col(p.keyCol), p.b))))
      // the batch id installs ATOMICALLY with the rows via the params
      // dir entry of the same journal
      SegSwap.commit(spark, path, Seq(("rows", nextT, td)),
        dirSwaps = Seq("params" -> ((dst: String) =>
          writeParamsTo(spark, dst, p.copy(lastBatch = batchId)))),
        fence = Some(lease))
      intern.releaseAll()
      true
    }
   }
}
