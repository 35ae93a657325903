package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StructType

/** ONE lifecycle for the bucketed store family. A store is a short
  * declaration of its layout over [[SegSwap]]:
  *
  *  - its params tag (the name its errors carry) and its [[StoreTxn]]
  *    kind (the name a txn manifest records it by);
  *  - its bucketed tables under a params record, each with its schema
  *    and the bucket its rows take under that record's layout fields;
  *  - its frozen directory tables (the ANN quantizers, SemanticDedup's
  *    centroids), copied by an export and never rebucketed.
  *
  * This class supplies the rest once for every store: the params
  * record ([[Params]], read and written through SegSwap's codec),
  * journal-resolved and as-of table reads, [[currentEpoch]],
  * [[lastBatch]], [[rollbackTo]], [[exportAt]], [[compact]] and the one
  * rebucket body ([[relayout]]). A store keeps only its `init`, its
  * continuation body and its own reads.
  *
  * Reference analog: i2MapReduce preserves every job's state through
  * one hash-indexed store format (`IFile.PreserveFile`,
  * `IFile.java:478-800`). */
abstract class SegStore(val kind: String, val tag: String) {
  import SegStore.{Params, Table}

  /** The store's bucketed tables under params `p`. */
  protected def tables(p: Params): Seq[Table]

  /** Un-bucketed dirs an export copies besides params. */
  protected def frozenDirs: Seq[String] = Nil

  /** Params keys a store written by an older build may lack, with the
    * value such a store means (the schema-evolution hatch). */
  protected def defaults: Map[String, Any] = Map.empty

  /** The params field holding the stream batch fence. */
  protected def fenceField: String = "lastBatch"

  /** The params record (journal-resolved: a committed-but-uninstalled
    * dir swap's new record is visible). One text read, no Spark job. */
  protected def params(spark: SparkSession, path: String): Params =
    SegSwap.readParams(spark, path, tag, defaults)

  /** The params record AS OF `epoch`. */
  protected def paramsAt(spark: SparkSession, path: String,
      epoch: Long): Params =
    SegSwap.readParamsAt(spark, path, tag, epoch, defaults)

  /** A record built in memory (an init's, before it is written). */
  protected def newParams(path: String, fields: Seq[(String, Any)]): Params =
    new Params(fields, tag, path, defaults)

  protected def writeParams(spark: SparkSession, dst: String,
      p: Params): Unit =
    SegSwap.writeParamsTo(spark, dst, p.fields)

  private def schemaOf(p: Params, name: String): StructType =
    tables(p).find(_.name == name).map(_.schema).getOrElse(
      throw new IllegalArgumentException(s"$tag: no table '$name'"))

  /** Journal-resolved read ([[SegSwap.resolvedTable]]): non-destructive
    * under an uninstalled commit, a plain live read otherwise. */
  protected def readTable(spark: SparkSession, path: String, p: Params,
      name: String): DataFrame =
    SegSwap.resolvedTable(spark, path, name, schemaOf(p, name))

  /** `name` AS OF `epoch` ([[SegSwap.snapshotTable]]); pass the params
    * of the same epoch ([[paramsAt]]). */
  protected def readTableAt(spark: SparkSession, path: String, p: Params,
      name: String, epoch: Long): DataFrame =
    SegSwap.snapshotTable(spark, path, name, schemaOf(p, name), epoch)

  /** The store's current commit epoch (0 = as-inited). */
  def currentEpoch(spark: SparkSession, path: String): Long =
    SegSwap.currentEpoch(SegSwap.fsOf(spark, path), path)

  /** The stream batch fence (−1 = never maintained by a stream; a store
    * kind without a fence always reads −1). */
  def lastBatch(spark: SparkSession, path: String): Long =
    params(spark, path).get(fenceField).fold(-1L)(_.asInstanceOf[Long])

  /** Roll every table AND params back to `epoch` as one journaled
    * revert ([[SegSwap.rollbackTo]]): history-preserving, redo-able,
    * delta-proportional, loud past the retention horizon. The stream
    * fence reverts with the rows it fenced, so batches after the
    * revert point re-apply instead of being skipped. */
  def rollbackTo(spark: SparkSession, path: String, epoch: Long): Unit =
    SegSwap.rollbackTo(spark, path, epoch,
      tables(params(spark, path)).map(t => t.name -> t.schema),
      dirTables = Seq("params"))

  /** Publish the store AS OF `epoch` to `dst` as a fresh standalone
    * store — readable, continuable, no inherited history
    * ([[SegSwap.exportSnapshot]]): the model-versioning release step. */
  def exportAt(spark: SparkSession, path: String, epoch: Long,
      dst: String): Unit =
    SegSwap.exportSnapshot(spark, path, epoch, dst,
      tables(params(spark, path)).map(_.name),
      dirTables = "params" +: frozenDirs)

  /** Journaled COMPACTION: [[relayout]] under the store's own layout —
    * one contiguous file per bucket, content-invariant. */
  def compact(spark: SparkSession, path: String): Unit =
    relayout(spark, path, Nil)

  /** Journaled RE-BUCKETING, the one body for every store: under the
    * writer lease and after recover, each table's live rows are
    * re-hashed under the params record with `layout`'s fields replaced
    * and streamed straight to `seg_staging` (lazy frames — safe, live
    * files retire only after the journal lands); old buckets outside
    * the new layout journal "empty", destination buckets come from the
    * staged dirs, and the rewritten record (every other field, the
    * stream fence included, as it was) installs atomically with the
    * data through the journal's `dir` entry — a crash can never leave
    * readers deriving buckets with the wrong layout. `check` runs the
    * store's own preconditions against the current record. */
  protected def relayout(spark: SparkSession, path: String,
      layout: Seq[(String, Any)], check: Params => Unit = _ => ()): Unit =
    SegSwap.withWriterLease(spark, path) { lease =>
      val fs = SegSwap.fsOf(spark, path)
      SegSwap.recover(spark, path) // writer entry: live dirs are truth
      val p = params(spark, path)
      check(p)
      val p2 = p.updated(layout: _*)
      val staged = tables(p).zip(tables(p2)).collect {
        case (t, t2) if t.rebuckets =>
          (t.name, SegSwap.resolvedTable(spark, path, t.name, t.schema)
            .withColumn("_b", t2.bucket), SegSwap.liveBuckets(fs, path, t.name))
      }
      SegSwap.commit(spark, path, staged, dirSwaps = Seq(
        "params" -> ((dst: String) => writeParams(spark, dst, p2))),
        fence = Some(lease), augmentFromStaging = true)
    }
}

object SegStore {

  /** One bucketed table: its schema (with `_b`) and the bucket a row
    * takes under the declaring params record. A table whose buckets are
    * placed by content rather than by a layout field (the ANN lists,
    * one bucket per coarse list) sets `rebuckets = false`: relayout
    * leaves it as it is. */
  final case class Table(name: String, schema: StructType, bucket: Column,
      rebuckets: Boolean = true)

  /** A store's params record: its scalar fields in file order. A field
    * a store needs but the record lacks (and no default covers) fails
    * loudly, naming the store. */
  final class Params private[operators] (val fields: Seq[(String, Any)],
      what: String, path: String, defaults: Map[String, Any]) {
    def get(n: String): Option[Any] =
      fields.collectFirst { case (`n`, v) => v }.orElse(defaults.get(n))
    private def need(ns: Seq[String]): Unit = {
      val missing = ns.filter(get(_).isEmpty)
      require(missing.isEmpty,
        s"$what: store at $path has an incompatible params layout " +
          s"(missing ${missing.mkString(",")}) — written by an older " +
          "build; re-init the store")
    }
    def apply(n: String): Any = { need(Seq(n)); get(n).get }
    def int(n: String): Int = apply(n).asInstanceOf[Int]
    def long(n: String): Long = apply(n).asInstanceOf[Long]
    def double(n: String): Double = apply(n).asInstanceOf[Double]
    def bool(n: String): Boolean = apply(n).asInstanceOf[Boolean]
    def str(n: String): String = apply(n).asInstanceOf[String]
    /** The bucket count of a single-`b` store. */
    def b: Int = int("b")
    /** The schema of `table` recorded at init (its `<table>Ddl` field),
      * parsed once per record. */
    def ddl(table: String): StructType =
      ddls.getOrElseUpdate(table, StructType.fromDDL(str(s"${table}Ddl")))
    private[this] val ddls =
      scala.collection.concurrent.TrieMap.empty[String, StructType]
    /** The `want` fields as one row (all checked at once). */
    def row(want: Seq[String]): org.apache.spark.sql.Row = {
      need(want)
      org.apache.spark.sql.Row.fromSeq(want.map(get(_).get))
    }
    /** The record with `kv`'s fields replaced in place; each keeps its
      * type, so the file keeps its type tags. */
    def updated(kv: (String, Any)*): Params = {
      kv.foreach { case (n, v) =>
        require(apply(n).getClass == v.getClass,
          s"$what: params field '$n' is ${apply(n).getClass.getSimpleName}, " +
            s"not ${v.getClass.getSimpleName}")
      }
      val m = kv.toMap
      new Params(fields.map { case (n, v) => n -> m.getOrElse(n, v) },
        what, path, defaults)
    }
  }

  /** The family's hash bucket: `pmod(xxhash64(cs), b)` as an int. */
  def hashBucket(b: Int, cs: Column*): Column =
    pmod(xxhash64(cs: _*), lit(b.toLong)).cast("int")

  /** Literal bucket predicate — stays a partition-pruning filter. */
  def inBuckets(bs: Set[Int]): Column =
    if (bs.isEmpty) lit(false)
    else col("_b").isin(bs.toSeq.map(Integer.valueOf): _*)

  /** Every store kind, for [[StoreTxn]]'s manifest recovery. */
  lazy val family: Seq[SegStore] = Seq(graft.core.SegmentedStateStore,
    DupSpansStore, LmCountsStore, DedupClusterStore, LineDedupStore,
    DecontamStore, TfidfStore, SemanticDedupStore, KeyedUpsertStore,
    Similarity.IvfStore, Pq.IvfPqStore, TiledMatrixStore)
}
