package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.StructType

/** The MAINTAINED TILING — the durable static side of a 24/7 ONE2MUL
  * (blocked GIM-V) stream maintainer, closing the one member round 13
  * deferred with a design analysis (PLANS round-13 note): the blocked
  * continuation's pruning key is the TILE, but the natural stream-delta
  * key is the COLUMN (a producer replaces a column's cell set — the
  * scalar maintainer's contract), and ONE bucketing cannot serve both.
  * This store holds BOTH keyings of the same matrix, maintained
  * together in one journaled commit:
  *
  *  - `cells`  (i, j, v)        bucketed by hash(j)  — the delta
  *    contract's table: a micro-batch's changed columns locate their
  *    OLD cells through a j-bucket-pruned read, O(delta), exactly the
  *    ANN locator's role ([[Similarity]]'s `loc`: nid→cid there,
  *    column→tiles here);
  *  - `tiles`  (tid, jb, cells) bucketed by hash(tid) — the compressed
  *    ONE2MUL static the incremental loop reads tile-pruned
  *    ([[graft.core.StaticSource]]); `cells` is the tile's bag, the
  *    reference's blocked GIM-V form (blocking job
  *    `incr-hadoop-0.1/src/examples/.../MatrixVector.java:93-147`,
  *    grouped zip-join consumption `MapTask.java:800-815`);
  *  - `tidx`   (jb, tid)        bucketed by hash(jb) — the tile index:
  *    the loop's `backProject` (a moved x[idx] re-dirties the tiles
  *    whose column block contains idx) discovers tile ids from a
  *    jb-bucket-pruned read instead of a corpus-wide tile scan.
  *
  * Per batch, every read and every rewrite is delta-proportional: the
  * changed columns' old cells (pruned by j), the touched tiles' bags
  * (pruned by tid), the changed blocks' index rows (pruned by jb), and
  * the commit rewrites exactly those buckets of each table. A batch's
  * surgery is REPLAY-IDEMPOTENT by algebra (a bag rewrite replaces the
  * changed columns' cells; applying it to an already-patched bag is a
  * no-op), and the `lastBatch` fence rides the params dir through the
  * same journal as the three tables — the family's exactly-once
  * contract ([[KeyedUpsertStore]], [[SegSwap]]).
  *
  * Reference analog: the one-off static distribution re-run with a
  * scale-factor partition count (`JobClient.java:912-957`,
  * `StaticDataPartitioner.java:30-54`) — here the "distribution job"
  * is incremental and keeps two derived keyings of the static current
  * instead of re-partitioning the world.
  */
object TiledMatrixStore extends SegStore("tiledmat", "tiledmat") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  private val cellsSchema = StructType.fromDDL(
    "i BIGINT, j BIGINT, v DOUBLE, _b INT")
  private val tilesSchema = StructType.fromDDL(
    "tid BIGINT, jb BIGINT, cells ARRAY<STRUCT<i: BIGINT, j: BIGINT, " +
      "v: DOUBLE>>, _b INT")
  private val tidxSchema = StructType.fromDDL(
    "jb BIGINT, tid BIGINT, _b INT")

  /** Tile id packing — DELEGATES to
    * [[graft.algorithms.IncrementalMatVec.tileId]] (the preserved kvs'
    * provenance key is computed there; the store's frontier tids here —
    * one definition, no desync channel: a packing change that reached
    * only one side would make the frontier-to-kvs tid join silently
    * match nothing). */
  private def tidOf(i: Column, j: Column, blockSize: Int): Column =
    graft.algorithms.IncrementalMatVec.tileId(i, j, blockSize)

  private def jbOf(j: Column, blockSize: Int): Column =
    (j / blockSize).cast("long")

  /** The family's pin-before-hash rule: xxhash64 is type-sensitive. */
  private def keyBucket(c: Column, b: Int): Column =
    hashBucket(b, c.cast("long"))

  protected def tables(p: Params): Seq[Table] = Seq(
    Table("cells", cellsSchema, keyBucket(col("j"), p.int("bc"))),
    Table("tiles", tilesSchema, keyBucket(col("tid"), p.int("bt"))),
    Table("tidx", tidxSchema, keyBucket(col("jb"), p.int("bi"))))

  /** Lay the matrix out as the three keyings (params — carrying the
    * batch fence, initialized to −1 — last). Bucket counts by DATA
    * (the family rule): `tidx` rows are two longs, so it defaults far
    * thinner than the cell tables. */
  def init(spark: SparkSession, path: String, m: DataFrame,
      blockSize: Int, cellBuckets: Int = 32, tileBuckets: Int = 32,
      idxBuckets: Int = 8): Unit = {
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val cells = m.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("double"))
    val tiles = cells
      .groupBy(tidOf(col("i"), col("j"), blockSize).as("tid"),
        jbOf(col("j"), blockSize).as("jb"))
      .agg(collect_list(struct(col("i"), col("j"), col("v"))).as("cells"))
      .withColumn("_b", keyBucket(col("tid"), tileBuckets))
    // cells and tiles derive independently from the source — overlap
    // their writes (§2.6); tidx projects the just-written tiles, so it
    // stays after
    graft.util.Par.foreach(Seq(
      SegSwap.stageBuckets(cells.withColumn("_b",
        keyBucket(col("j"), cellBuckets)), s"$path/cells"),
      SegSwap.stageBuckets(tiles, s"$path/tiles")))
    // the index projects the JUST-WRITTEN tiles (two thin columns,
    // column-pruned) — re-deriving it from `cells` would re-run the
    // blocking groupBy as a second full corpus scan+shuffle
    SegSwap.writeBuckets(spark.read.parquet(s"$path/tiles")
      .select(col("jb"), col("tid"))
      .withColumn("_b", keyBucket(col("jb"), idxBuckets)), s"$path/tidx")
    SegSwap.writeParamsTo(spark, s"$path/params", Seq(
      "blockSize" -> blockSize, "bc" -> cellBuckets, "bt" -> tileBuckets,
      "bi" -> idxBuckets, "lastBatch" -> -1L))
  }

  /** Read-side handle: the tile-keyed and block-keyed views as
    * [[graft.core.StaticSource]]s (partition-pruned, journal-resolved),
    * params snapshotted at [[open]] — the [[KeyedUpsertStore
    * .ReadHandle]] contract (single fenced writer; layout fields never
    * change after init). */
  final class Handle private[TiledMatrixStore] (spark: SparkSession,
      path: String, p: Params,
      resolve: (String, StructType) => DataFrame) {
    def blockSize: Int = p.int("blockSize")
    def lastBatch: Long = p.long("lastBatch")

    private def table(name: String, schema: StructType): DataFrame =
      resolve(name, schema)

    /** The ONE2MUL static: (tid, jb, cells) pruned by tid bucket. */
    val tilesSource: graft.core.StaticSource = new graft.core.StaticSource {
      def nBuckets: Int = p.int("bt")
      def bucketOf(c: Column): Column = keyBucket(c, nBuckets)
      def pruned(bs: Set[Int]): DataFrame =
        table("tiles", tilesSchema).filter(inBuckets(bs)).drop("_b")
      def all: DataFrame = table("tiles", tilesSchema).drop("_b")
    }

    /** The tile index: (jb, tid) pruned by jb bucket — backProject's
      * discovery read. */
    val idxSource: graft.core.StaticSource = new graft.core.StaticSource {
      def nBuckets: Int = p.int("bi")
      def bucketOf(c: Column): Column = keyBucket(c, nBuckets)
      def pruned(bs: Set[Int]): DataFrame =
        table("tidx", tidxSchema).filter(inBuckets(bs)).drop("_b")
      def all: DataFrame = table("tidx", tidxSchema).drop("_b")
    }

    private[TiledMatrixStore] def cellsTable: DataFrame =
      table("cells", cellsSchema)
    private[TiledMatrixStore] def params: Params = p

    /** The current cell relation (journal-resolved). */
    def cells: DataFrame = cellsTable.drop("_b")
  }

  def open(spark: SparkSession, path: String): Handle =
    new Handle(spark, path, params(spark, path),
      (n, s) => SegSwap.resolvedTable(spark, path, n, s))

  /** EPOCH-PINNED read handle — the tiling AS OF `epoch`
    * ([[graft.operators.Pq.probeIvfPqIndexAt]]'s family pattern):
    * every table resolves through the snapshot layer
    * ([[SegSwap.snapshotTable]] — retired buckets of later commits +
    * still-live untouched dirs), and the params (blockSize, bucket
    * counts, the `lastBatch` fence) come from the SAME epoch's commit,
    * so a layout migration (rebucket) after `epoch` cannot desync the
    * handle's bucket hashing from the files it reads. Yesterday's
    * tiling under yesterday's fence — the as-of read the state store
    * already had ([[graft.core.SegmentedStateStore.snapshotAt]]) and
    * the tiling lacked (round-14 verdict missing #2). */
  def openAt(spark: SparkSession, path: String, epoch: Long): Handle = {
    new Handle(spark, path, paramsAt(spark, path, epoch),
      (n, s) => SegSwap.snapshotTable(spark, path, n, s, epoch))
  }

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]) of any subset of
    * the three keyings (pass 0 to keep a table's current count) — the
    * lifecycle op a 24/7 maintainer needs as the corpus outgrows the
    * init-time counts; the `lastBatch` stream fence survives it. */
  def rebucket(spark: SparkSession, path: String, cellBuckets: Int = 0,
      tileBuckets: Int = 0, idxBuckets: Int = 0): Unit =
    relayout(spark, path, Seq("bc" -> cellBuckets, "bt" -> tileBuckets,
      "bi" -> idxBuckets).filter(_._2 > 0))

  /** One micro-batch's SURGERY, computed once (materialized leaves) and
    * consumed twice — by the state continuation's overlays (the fixed
    * apply order shows the loop the post-delta tiling while the store
    * still holds pre-batch rows) and by [[applyDelta]]'s commit.
    *
    *  - `chgCols`  the replaced columns (patch ∪ removed)
    *  - `chgJbs`   their column blocks
    *  - `touched`  tile ids whose bags change (old cells' tiles ∪
    *    patch cells' tiles — the continuation's initial frontier)
    *  - `newBags`  the touched tiles' post-delta bags (empty tiles
    *    absent — a removal that empties a tile deletes it)
    *  - `newIdx`   the changed blocks' post-delta (jb, tid) rows
    */
  /** A batch's prepared surgery. Carries the three touched-bucket sets
    * (and the chgJbs count) gathered inside the frames' own
    * materialization jobs, so [[applyDelta]] pays no bucket-set collect
    * jobs of its own (guide §1.2); `bSig` records the (bc, bt, bi) the
    * sets were derived under — a mismatch (a rebucket slipped between
    * prepare and apply) falls back to recomputing them. */
  final case class Delta(chgCols: DataFrame, chgJbs: DataFrame,
      touched: DataFrame, newBags: DataFrame, newIdx: DataFrame,
      cbs: Set[Int], tbs: Set[Int], ibs: Set[Int], nChgJbs: Long,
      nTouched: Long, bSig: (Int, Int, Int), rels: Seq[() => Unit]) {
    def release(): Unit = {
      Seq(newBags, newIdx).foreach(_.unpersist(blocking = false))
      rels.foreach(_.apply())
    }
  }

  /** Compute a batch's [[Delta]] from the PRE-batch store: every read
    * is bucket-pruned (j buckets for the old cells, tid buckets for
    * the old bags, jb buckets for the old index rows) — O(delta), never
    * O(corpus). `patch` carries the replaced columns' ENTIRE new cell
    * sets (i, j, v); `removedCols` the columns deleted outright. */
  def prepareDelta(spark: SparkSession, path: String, patch: DataFrame,
      removedCols: DataFrame): Delta = {
    // single-column REQUIRED (the StaticSource.Overlay guard, round-11
    // advice): a caller handing the raw D rows (i, j, v, op) would
    // silently bind the all-NULL `i` as the removal key — deletions
    // become a no-op while the fence still advances
    require(removedCols.columns.length == 1,
      "TiledMatrixStore.prepareDelta: removedCols must carry exactly " +
        s"the column key, got (${removedCols.columns.mkString(", ")}) — " +
        "select the 'j' column before calling")
    val h = open(spark, path)
    val p = h.params
    val bs = h.blockSize
    val (bc, bt, bi) = (p.int("bc"), p.int("bt"), p.int("bi"))
    val pc = patch.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("double"))
    // each prepared frame's bucket set (and chgJbs' count) rides the
    // frame's own materialization job — no separate collect jobs here
    // or in applyDelta (guide §1.2)
    val chgP = GraftSqlShim.pin(
      pc.select(col("j"))
        .unionByName(removedCols
          .select(col(removedCols.columns.head).cast("long").as("j")))
        .distinct().withColumn("_cb", keyBucket(col("j"), bc)),
      Seq("_cb"))
    val chg = chgP.leaf.drop("_cb")
    val cb = chgP.sets.head
    val jbsP = GraftSqlShim.pin(
      chg.select(jbOf(col("j"), bs).as("jb")).distinct()
        .withColumn("_ib", keyBucket(col("jb"), bi)), Seq("_ib"))
    val chgJbs = jbsP.leaf.drop("_ib")
    val ib = jbsP.sets.head
    // the locator read: the changed columns' OLD cells, pruned by j
    val oldCells = h.cellsTable.filter(inBuckets(cb))
      .join(chg.select(col("j").as("_cj")), col("j") === col("_cj"),
        "left_semi")
    // bag surgery: replace the changed columns' cells inside the
    // touched tiles' bags (idempotent — re-applying to an already
    // patched bag replaces the same cells with the same cells)
    val touchedP = GraftSqlShim.pin(
      oldCells.select(tidOf(col("i"), col("j"), bs).as("tid"))
        .unionByName(pc.select(tidOf(col("i"), col("j"), bs).as("tid")))
        .distinct().withColumn("_tb", keyBucket(col("tid"), bt)),
      Seq("_tb"))
    val touched = touchedP.leaf.drop("_tb")
    val tb = touchedP.sets.head
    val oldBags = h.tilesSource.pruned(tb)
      .join(touched.select(col("tid").as("_ct")), col("tid") === col("_ct"),
        "left_semi")
    val keep = oldBags
      .select(col("tid"), col("jb"), explode(col("cells")).as("_c"))
      .select(col("tid"), col("jb"), col("_c.i").as("i"),
        col("_c.j").as("j"), col("_c.v").as("v"))
      .join(chg.select(col("j").as("_cj")), col("j") === col("_cj"),
        "left_anti")
    val add = pc.select(tidOf(col("i"), col("j"), bs).as("tid"),
      jbOf(col("j"), bs).as("jb"), col("i"), col("j"), col("v"))
    val newBags = keep.unionByName(add)
      .groupBy(col("tid"), col("jb"))
      .agg(collect_list(struct(col("i"), col("j"), col("v"))).as("cells"))
      .localCheckpoint(true)
    // index surgery: the changed blocks' post-delta tile sets — kept
    // untouched tiles of those blocks plus the touched tiles that
    // remain non-empty (disjoint by construction, no distinct needed);
    // ib was fused into chgJbs' materialization above
    val keepIdx = h.idxSource.pruned(ib)
      .join(chgJbs.select(col("jb").as("_cb")), col("jb") === col("_cb"),
        "left_semi")
      .join(touched.select(col("tid").as("_ct")), col("tid") === col("_ct"),
        "left_anti")
    val newIdx = keepIdx.select(col("jb"), col("tid"))
      .unionByName(newBags.select(col("jb"), col("tid")))
      .localCheckpoint(true)
    Delta(chg, chgJbs, touched, newBags, newIdx, cb, tb, ib, jbsP.rows,
      touchedP.rows, (bc, bt, bi),
      Seq(chgP.release, jbsP.release, touchedP.release))
  }

  /** Apply batch `batchId` AT MOST ONCE: the three tables' touched
    * buckets and the fence install through ONE journaled swap (the
    * [[Similarity.applyListsDelta]] shape — lists+loc there, three
    * keyings here). `delta` must be [[prepareDelta]]'s output for this
    * exact (patch, removedCols) against the pre-batch store. */
  def applyDelta(spark: SparkSession, path: String, patch: DataFrame,
      delta: Delta, batchId: Long): Option[StorePolicy.ContinueAdvice] =
    SegSwap.withWriterLease(spark, path) { lease =>
      SegSwap.recover(spark, path)
      val p = params(spark, path)
      val (bc, bt, bi) = (p.int("bc"), p.int("bt"), p.int("bi"))
      if (batchId <= p.long("lastBatch")) None
      else {
        val pc = patch.select(col("i").cast("long"), col("j").cast("long"),
          col("v").cast("double"))
        // the prepared sets are exact for the params they were derived
        // under; recompute only if a rebucket slipped in between
        val (cbs, tbs, ibs) =
          if (delta.bSig == ((bc, bt, bi))) (delta.cbs, delta.tbs, delta.ibs)
          else (
            delta.chgCols.select(keyBucket(col("j"), bc).as("_b"))
              .distinct().collect().map(_.getInt(0)).toSet,
            delta.touched.select(keyBucket(col("tid"), bt).as("_b"))
              .distinct().collect().map(_.getInt(0)).toSet,
            delta.chgJbs.select(keyBucket(col("jb"), bi).as("_b"))
              .distinct().collect().map(_.getInt(0)).toSet)
        val fenceSwap = Seq("params" -> ((dst: String) =>
          writeParams(spark, dst, p.updated("lastBatch" -> batchId))))
        if (cbs.isEmpty) {
          // an effectively-empty batch still records its fence
          SegSwap.commit(spark, path, Nil, dirSwaps = fenceSwap,
            fence = Some(lease))
          None
        } else {
          val cellsNext = readTable(spark, path, p, "cells").filter(inBuckets(cbs))
            .join(delta.chgCols.select(col("j").as("_cj")),
              col("j") === col("_cj"), "left_anti")
            .unionByName(pc.withColumn("_b", keyBucket(col("j"), bc)))
          val tilesNext = readTable(spark, path, p, "tiles").filter(inBuckets(tbs))
            .join(delta.touched.select(col("tid").as("_ct")),
              col("tid") === col("_ct"), "left_anti")
            .unionByName(delta.newBags
              .withColumn("_b", keyBucket(col("tid"), bt)))
          val idxNext = readTable(spark, path, p, "tidx").filter(inBuckets(ibs))
            .join(delta.chgJbs.select(col("jb").as("_cb")),
              col("jb") === col("_cb"), "left_anti")
            .unionByName(delta.newIdx
              .withColumn("_b", keyBucket(col("jb"), bi)))
          SegSwap.commit(spark, path,
            Seq(("cells", cellsNext, cbs), ("tiles", tilesNext, tbs),
              ("tidx", idxNext, ibs)),
            dirSwaps = fenceSwap, fence = Some(lease))
          Some(StorePolicy.advise("tiledmat", tbs.size,
            SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path,
              "tiles").size))
        }
      }
    }
}
