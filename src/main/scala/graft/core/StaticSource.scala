package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** A DURABLE BUCKETED static relation feeding [[IncrementalJob]] — the
  * reference's "distribute static data ONCE" (F34,
  * `incr-hadoop-0.1/src/mapred/.../JobClient.java:912-957`) plus its
  * cross-job local static cache (F35, `MapTask.java:858-913`)
  * re-expressed Spark-first: the prepared static relation lives as
  * key-bucketed parquet, and each continuation reads ONLY the buckets
  * its frontier hashes into (partition-pruned scans), instead of
  * re-shuffling and re-caching the whole relation per run.
  *
  * At 100 TB this is the difference between O(delta) and O(corpus) per
  * continuation: a stream maintainer applying a thousand-row delta
  * against a billion-edge graph touches a handful of bucket dirs, not
  * the graph.
  *
  * Contract: `pruned(bs)` must return exactly the rows whose
  * source-key bucket (under `bucketOf`, the store's own hash over the
  * store's pinned key dtype) is in `bs`, as a partition-pruned lazy
  * read. `all` is the full relation — used only for the
  * One2All/One2Mul all-sources projection, never on the One2One hot
  * path.
  */
trait StaticSource {
  def nBuckets: Int

  /** The store's key-bucket expression over a source-key column
    * (casts to the store's pinned key dtype before hashing). */
  def bucketOf(c: Column): Column

  /** Rows whose source key hashes into `bs` — a partition-pruned read. */
  def pruned(bs: Set[Int]): DataFrame

  /** The full relation. */
  def all: DataFrame
}

object StaticSource {
  import org.apache.spark.sql.functions.{broadcast, col}

  /** A durable store OVERLAID with a not-yet-upserted batch: rows of
    * the batch's keys come from `patch` instead of the store. This is
    * how a stream maintainer's fixed apply order (derived continuation
    * FIRST, input upsert second — [[graft.streaming.StreamMaintain]])
    * shows the loop the exact POST-delta static relation on first
    * delivery AND on checkpoint replay, while the store still holds
    * the pre-batch rows. Algorithm-agnostic: `keyCol` names the
    * source-key column (PageRank "src", matvec "j").
    *
    * Every pruned read stays partition-pruned on the store side and
    * delta-sized on the overlay side; the changed-keys side follows
    * the loop's own broadcast discipline (`chgRows` vs
    * `broadcastMaxRows` — a corpus-wide delta falls back to a shuffle
    * join instead of OOMing the driver). */
  final class Overlay(h: StaticSource, keyCol: String,
      chgKeys: DataFrame, chgRows: Long, patch: DataFrame,
      broadcastMaxRows: Long) extends StaticSource {
    // single-column REQUIRED, not columns.head-picked (round-11
    // advice): a caller handing a multi-column changed-keys frame
    // (e.g. (deg, src)) would silently anti-join on the wrong column
    // and produce DUPLICATED static rows (store row + patch row for
    // the same key) with no error. The entry points select the named
    // key column; this guard catches any future caller that doesn't.
    require(chgKeys.columns.length == 1,
      s"StaticSource.Overlay: changed-keys frame must carry exactly " +
        s"the key column, got (${chgKeys.columns.mkString(", ")}) — " +
        s"select the '$keyCol' column before constructing the overlay")
    def nBuckets: Int = h.nBuckets
    def bucketOf(c: Column): Column = h.bucketOf(c)
    private val kt = patch.schema(keyCol).dataType
    private val ckRaw =
      chgKeys.select(col(chgKeys.columns.head).cast(kt).as("_ck")).distinct()
    private val ck =
      if (chgRows <= broadcastMaxRows) broadcast(ckRaw) else ckRaw
    def pruned(bs: Set[Int]): DataFrame =
      h.pruned(bs).join(ck, col(keyCol) === col("_ck"), "left_anti")
        .unionByName(patch.withColumn("_b", h.bucketOf(col(keyCol)))
          .filter(graft.operators.SegStore.inBuckets(bs)).drop("_b"))
    def all: DataFrame =
      h.all.join(ck, col(keyCol) === col("_ck"), "left_anti")
        .unionByName(patch)
  }
}
