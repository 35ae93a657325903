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
object KeyedUpsertStore extends SegStore("keyedupsert", "keyedupsert") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  /** `rows`, bucketed by the key column — rows carry the pinned key
    * dtype since init, so they hash as they are. */
  protected def tables(p: Params): Seq[Table] = Seq(Table("rows",
    StructType.fromDDL(p.str("rowsDdl")), hashBucket(p.b, col(p.str("keyCol")))))

  /** Lay the base relation out key-bucketed (params — carrying the
    * batch fence, initialized to −1 — last). */
  def init(spark: SparkSession, path: String, rows: DataFrame,
      keyCol: String, nBuckets: Int = 32): Unit = {
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val withB = rows.withColumn("_b", hashBucket(nBuckets, col(keyCol)))
    SegSwap.writeBuckets(withB, s"$path/rows")
    SegSwap.writeParamsTo(spark, s"$path/params", Seq("keyCol" -> keyCol,
      "b" -> nBuckets, "keyDdl" -> rows.schema(keyCol).dataType.sql,
      "lastBatch" -> -1L, "rowsDdl" -> withB.schema.toDDL))
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
    def keyColumn: String = p.str("keyCol")
    def bucketOf(c: Column): Column = {
      val t = StructType.fromDDL(s"x ${p.str("keyDdl")}").head.dataType
      hashBucket(p.b, c.cast(t))
    }
    private def table: DataFrame = readTable(spark, path, p, "rows")
    def pruned(bs: Set[Int]): DataFrame =
      table.filter(inBuckets(bs)).drop("_b")
    def all: DataFrame = table.drop("_b")
  }

  def open(spark: SparkSession, path: String): ReadHandle =
    new ReadHandle(spark, path, params(spark, path))

  /** The current relation (journal-resolved; consume before the next
    * writer commit). */
  def rows(spark: SparkSession, path: String): DataFrame =
    readTable(spark, path, params(spark, path), "rows").drop("_b")

  /** The relation AS OF `epoch` ([[SegSwap.snapshotTable]] — readable
    * for the retention horizon, or for as long as a pin covers it). */
  def rowsAt(spark: SparkSession, path: String, epoch: Long): DataFrame =
    readTableAt(spark, path, params(spark, path), "rows", epoch).drop("_b")

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]) — the lifecycle op
    * a LONG-LIVED stream maintainer needs: `nBuckets` is frozen at
    * [[init]], but the corpus a 24/7 stream feeds grows without bound,
    * so per-upsert bucket rewrites (O(bucket width) = O(corpus / B))
    * slowly lose their delta-proportionality. Run it BETWEEN batches
    * (the writer lease serializes it against upserts); the `lastBatch`
    * fence surviving the migration is what keeps the stream
    * exactly-once across it (spec-pinned). Reference analog: re-running
    * the F34 distribution job with a new partition count
    * (`incr-hadoop-0.1/src/mapred/.../JobClient.java:912-957`). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))

  /** Apply batch `batchId` AT MOST ONCE: replace all rows of keys in
    * `added`, drop `removedKeys`, record the id — one journaled swap.
    * Returns false when the id was already applied (checkpoint
    * replay). Single fenced writer. */
  def upsertBatch(spark: SparkSession, path: String, added: DataFrame,
      removedKeys: DataFrame, batchId: Long): Boolean =
   SegSwap.withWriterLease(spark, path) { lease =>
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    if (batchId <= p.long("lastBatch")) false
    else {
      val intern = new IncrMat.Tracker
      val keyCol = p.str("keyCol")
      val addedP = SegSwap.castToPinned(added, keyCol, p.str("keyDdl"),
        "keyedupsert added")
      // the touched-bucket set rides the same job that materializes the
      // replaced-keys leaf (no separate distinct().collect() job)
      val (remRaw, remSets) = intern.matStats(SegSwap.castToPinned(
          removedKeys.select(col(removedKeys.columns.head).as("_rid")),
          "_rid", p.str("keyDdl"), "keyedupsert removedKeys")
        .unionByName(addedP.select(col(keyCol).as("_rid"))).distinct()
        .withColumn("_tb", hashBucket(p.b, col("_rid"))), Seq("_tb"))
      val rem = remRaw.drop("_tb")
      val td = remSets.head
      val nextT = intern.mat(readTable(spark, path, p, "rows")
        .filter(inBuckets(td))
        .join(rem, col(keyCol) === col("_rid"), "left_anti")
        .unionByName(addedP.withColumn("_b", hashBucket(p.b, col(keyCol)))))
      // the batch id installs ATOMICALLY with the rows via the params
      // dir entry of the same journal
      SegSwap.commit(spark, path, Seq(("rows", nextT, td)),
        dirSwaps = Seq("params" -> ((dst: String) =>
          writeParams(spark, dst, p.updated("lastBatch" -> batchId)))),
        fence = Some(lease))
      intern.releaseAll()
      true
    }
   }
}
