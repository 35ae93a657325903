package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim

import graft.core.Pins

/** Similarity search over an embedding column (array<float|double>).
  *
  * Two paths, same results contract (query_id, neighbor_id, cosine):
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *    every vector; one map-side pass + a top-k per query. The baseline,
  *    and the right plan whenever |queries| is small.
  *  - [[lshBucketTopK]] — scale path: random-hyperplane LSH buckets both
  *    sides; only same-bucket pairs are scored, so the cross product
  *    never materializes. Approximate (recall < 1), tested against the
  *    brute-force oracle.
  *
  * Cosine is computed with the native codegen'd [[graft.functions.DotProduct]]
  * expression — no UDF, no interpreted HOF fallback on the scoring path.
  */
object Similarity {

  /** dot(a,b) via the native codegen'd expression
    * [[graft.functions.DotProduct]] (index-order fold — bit-identical to
    * the zip_with+aggregate HOF formulation and the SQL oracle, but it
    * stays inside whole-stage codegen instead of falling back to
    * interpreted lambdas). Callers must register it on the session. */
  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.dot_product(a, b)

  private def norm(a: org.apache.spark.sql.Column) = sqrt(dot(a, a))

  /** Cosine that tolerates zero-norm vectors: `try_divide` yields NULL
    * where plain `/` would raise DIVIDE_BY_ZERO under ANSI mode (Spark
    * 4's default) — one degenerate embedding must not kill a corpus-wide
    * job. NULL cosines sort LAST under the descending rank windows
    * (Spark's desc = nulls last), so zero vectors never displace real
    * neighbors. */
  private[operators] def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Exact top-k cosine neighbors of each query vector.
    *
    * @param vectors (id, vec) all vectors
    * @param queries (id, vec) query subset — must be broadcast-sized
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id").as("nid"), col("vec").cast("array<double>").as("nvec"))
    val q = queries.select(col("id").as("qid"), col("vec").cast("array<double>").as("qvec"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine(col("qvec"), col("nvec")).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "nid", "cosine", "rk")
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d component =
    * sin(p·10007 + d·97) — reproducible everywhere, no RNG state. */
  private def planeComponent(p: Int, d: org.apache.spark.sql.Column) =
    sin(lit(p * 10007).cast("double") + d.cast("double") * 97.0)

  /** Sign-random-projection bucket id from `planes` hyperplanes. */
  def srpBucket(vec: org.apache.spark.sql.Column, planes: Int): org.apache.spark.sql.Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x * planeComponent(p, d)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: score only same-bucket pairs (optionally with a
    * few rotated bucketings to boost recall). */
  def lshBucketTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, tables: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id").as("nid"), col("vec").cast("array<double>").as("nvec"))
    val q = queries.select(col("id").as("qid"), col("vec").cast("array<double>").as("qvec"))
    def withBuckets(df: DataFrame, vecCol: String, out: String) =
      df.select(col("*"), explode(array((0 until tables).map { t =>
        // table t uses planes [t*planes, (t+1)*planes)
        (0 until planes).map { p =>
          val proj = aggregate(
            zip_with(col(vecCol), sequence(lit(0), size(col(vecCol)) - 1),
              (x, d) => x * planeComponent(t * planes + p, d)),
            lit(0.0), (acc, v2) => acc + v2)
          when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _) + lit(t.toLong << 32)
      }: _*)).as(out))
    val vb = withBuckets(v, "nvec", "bucket")
    val qb = withBuckets(q, "qvec", "bucket")
    val scored = vb.join(broadcast(qb), "bucket")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine(col("qvec"), col("nvec")).as("cosine"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "nid", "cosine", "rk")
  }

  /** IVF (inverted-file) approximate top-k — the index-backed scale path.
    *
    * Index build: the `nlist` coarse centroids are driver-collected
    * (O(nlist), same contract as the KMeans center cycle) and inlined
    * as an array literal, so assigning every vector to its nearest
    * centroid (cosine, ties to the lowest centroid id) is a single
    * projection over one corpus scan — no corpus×nlist row blowup and
    * no shuffle at all in the build. At scale the lists are built once,
    * written bucketed by `cid`, and reused across query batches.
    *
    * Probe: each query scores the centroids only (`nlist` dots), keeps
    * its `nprobe` nearest lists, and exact cosine runs over just those
    * lists' members — ~nprobe/nlist of the corpus instead of all of it.
    * Probes are broadcast, so scoring is a map-side join against the
    * lists.
    *
    * Centroids default to the `nlist` lowest-id vectors (deterministic
    * and oracle-reproducible, mirroring the KMeans pinned init); pass a
    * trained centroid frame (id, vec) for better recall. With
    * `nprobe == nlist` every list is probed and the result equals
    * [[bruteForceTopK]] exactly (spec-covered).
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 256, nprobe: Int = 8,
      centroids: Option[DataFrame] = None,
      centroidFoldLimit: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id").as("nid"), col("vec").cast("array<double>").as("nvec"))
    val cents = normalizedCentroids(v, centroids, nlist)
    probeLists(assignToLists(v, cents, centroidFoldLimit), cents,
      queries, k, nprobe, pruneScan = false)
  }

  /** Build the IVF index ON DISK — as a member of the [[SegSwap]]
    * store family: inverted lists as Parquet partitioned by the bucket
    * column `_b` (= the list id — one directory per list, so a probe's
    * list filter is partition pruning and a query batch physically
    * reads only the ~nprobe/nlist of the corpus it probes), the frozen
    * centroid table as a plain dir, and a params completeness marker.
    * Family membership is the point: updates commit through the SHARED
    * journaled swap, so the index gets epochs, retirement, snapshot
    * reads, [[ivfRollbackTo]], [[ivfExportAt]], [[StoreTxn]]
    * participation, and [[Forget]] purges with zero bespoke crash
    * machinery (this store's own journal — the round-7 original —
    * is retired; its contract lives on in [[SegSwap]]). */
  def buildIvfIndex(vectors: DataFrame, path: String, nlist: Int = 256,
      centroids: Option[DataFrame] = None, centroidFoldLimit: Int = 64,
      locBuckets: Int = 0): Unit = {
    val spark = vectors.sparkSession
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val v = vectors.select(col("id").cast("long").as("nid"),
      col("vec").cast("array<double>").as("nvec"))
    // centroids may be a lazy read of THIS index's centroid dir (the
    // frozen-quantizer rebuild-in-place shape): pin the driver-small
    // frame before the overwrite write targets the path it reads
    val cents = normalizedCentroids(v, centroids, nlist)
      .localCheckpoint(true)
    SegSwap.writeTable(cents, s"$path/centroids")
    val assigned = assignToLists(v, cents, centroidFoldLimit)
      .withColumn("_b", col("cid").cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // locBuckets = 0 → size by the build corpus (the count reads the
    // frame the two writes below materialize anyway)
    val locB = if (locBuckets > 0) locBuckets else autoLocB(assigned.count())
    SegSwap.writeBuckets(assigned, s"$path/lists")
    writeLoc(assigned, s"$path/loc", locB)
    assigned.unpersist(blocking = false)
    SegSwap.writeParamsTo(spark, s"$path/params", ivfParams(-1L, locB))
  }

  /** The LOCATOR table both on-disk ANN stores carry beside their
    * lists: (nid, cid) bucketed by nid-hash, committed through the
    * same journaled swap. It answers the ONE question the lists'
    * cid-partitioning cannot: "which list holds id X?" — so an update
    * locates its removals/replacements with a partition-pruned read of
    * the delta ids' buckets instead of a corpus-wide (cid, nid) column
    * scan. At gate scale the column scan was invisible; at corpus
    * scale it is ~16 bytes × corpus per micro-batch, which is exactly
    * the per-trigger O(corpus) term the 24/7 maintainers exist to
    * avoid (the ScaleBench `stream_ivf` delete leg measured it growing
    * at exp ~0.5 before this table). */
  private[operators] val locSchemaB =
    org.apache.spark.sql.types.StructType.fromDDL(
      "nid BIGINT, cid BIGINT, _b INT")

  /** Locator bucket count sized by DATA, not by a fixed dir count —
    * the two-sided provisioning rule the `upsert_rebucket` probe
    * measured: a loc row is 16 B, so a ~1M-row bucket is ~16 MB of
    * parquet — far under any executor budget, while per-commit DIR
    * overhead (journal entry + file create per touched bucket) is the
    * dominant cost at small corpora (a fixed 64 cost the gate-scale
    * IVF update a measured ~+2 s per commit on a 2 000-row corpus).
    * max(4, ceil(rows/1e6)) capped at 65536: gate corpora get 4 dirs,
    * a 10^10-row corpus gets 10 000 × 16 MB buckets. A long-lived
    * maintainer whose corpus outgrows the build-time sizing migrates
    * with [[ivfRebucketLoc]] — sizing is a default, not a cage. */
  private[operators] def autoLocB(rows: Long): Int =
    math.min(65536L, math.max(4L, (rows + 999999L) / 1000000L)).toInt

  /** xxhash64 is TYPE-sensitive (hash(7: int) != hash(7L)), so the
    * bucket hash pins its input to the store's BIGINT nid type first —
    * the family's pin-before-hash rule ([[SegSwap.castToPinned]] in
    * the content stores): a removal frame handed in with int ids must
    * land in the same buckets the long-keyed build wrote, or the
    * locate silently misses and a Forget purge no-ops. */
  private[operators] def locBucket(c: org.apache.spark.sql.Column,
      b: Int): org.apache.spark.sql.Column =
    SegStore.hashBucket(b, c.cast("long"))

  private def writeLoc(assigned: DataFrame, dst: String, b: Int): Unit =
    SegSwap.writeBuckets(assigned.select(col("nid"), col("cid"))
      .withColumn("_b", locBucket(col("nid"), b)), dst)

  /** The on-disk ANN index stores' layout ([[SegStore]]): `lists`
    * partitioned by coarse list id (placed by the frozen quantizer, so
    * never rebucketed — re-granulating it is a retrain, i.e. a
    * rebuild), the nid-hash `loc` locator, and the frozen quantizer
    * dirs. */
  private[graft] class IvfIndexStore(kind: String,
      listsSchema: org.apache.spark.sql.types.StructType, frozen: Seq[String],
      override protected val defaults: Map[String, Any] = Map.empty)
      extends SegStore(kind, kind) {
    protected def tables(p: SegStore.Params): Seq[SegStore.Table] = Seq(
      SegStore.Table("lists", listsSchema, col("cid").cast("int"),
        rebuckets = false),
      SegStore.Table("loc", locSchemaB, locBucket(col("nid"), p.int("locB"))))
    override protected def frozenDirs: Seq[String] = frozen

    /** Journaled locator RE-BUCKETING ([[SegStore.relayout]]): `locB`
      * freezes at build, so under a long-lived maintainer the corpus
      * outgrows it and per-batch locator rewrites erode toward
      * O(corpus/locB) (the round's `upsert_rebucket` erosion, on the
      * locator). The stream batch fence carries forward, so a rebucket
      * BETWEEN micro-batches preserves replay-skip semantics. */
    def rebucketLoc(spark: org.apache.spark.sql.SparkSession, path: String,
        newLocB: Int): Unit =
      relayout(spark, path, Seq("locB" -> newLocB))
  }

  private[graft] object IvfStore
      extends IvfIndexStore("ivf", listsSchemaB, Seq("centroids"))

  /** [[IvfIndexStore.rebucketLoc]] for the raw IVF index. */
  def ivfRebucketLoc(spark: org.apache.spark.sql.SparkSession,
      path: String, newLocB: Int): Unit =
    IvfStore.rebucketLoc(spark, path, newLocB)

  /** The IVF store's params row: the lists DDL, the locator bucket
    * count, and the stream batch fence (−1 = never maintained by a
    * stream). The fence rides the params DIR through the shared
    * journaled swap — recorded atomically with the lists it fences,
    * reverted by [[ivfRollbackTo]] with the rows (the
    * [[KeyedUpsertStore]] contract on the similarity surface). */
  private def ivfParams(lastBatch: Long, locB: Int): Seq[(String, Any)] =
    Seq("listsDdl" -> listsSchemaB.toDDL, "lastBatch" -> lastBatch,
      "locB" -> locB)

  /** The index's stream fence: the last micro-batch id applied by a
    * [[updateIvfIndex]] call that carried one (−1 = none yet). */
  def ivfLastBatch(spark: org.apache.spark.sql.SparkSession, path: String): Long =
    IvfStore.lastBatch(spark, path)

  /** Probe a [[buildIvfIndex]] index: same results contract as
    * [[ivfTopK]] with the same centroids/nprobe, but the list scan
    * carries a literal `_b IN (probed)` predicate, so Parquet
    * partition pruning skips every unprobed list's files (the probed
    * cid set is driver-collected — O(queries·nprobe), and queries are
    * broadcast-sized by the ANN contract). Reads are journal-resolved
    * ([[SegSwap.resolvedTable]]) — a committed-but-uninstalled update
    * is visible without mutating anything, so probes never race a
    * writer's staging. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = spark.read.parquet(s"$path/centroids")
    val lists = SegSwap.resolvedTable(spark, path, "lists", listsSchemaB)
    probeLists(lists, cents, queries, k, nprobe, pruneScan = true)
  }

  /** The on-disk index's current commit epoch (0 = as-built). */
  def ivfEpoch(spark: org.apache.spark.sql.SparkSession, path: String): Long =
    IvfStore.currentEpoch(spark, path)

  /** Probe the index AS OF `epoch` — yesterday's ANN results under
    * yesterday's lists (the quantizer is frozen, so centroids need no
    * epoch): the family as-of read on the similarity surface. */
  def probeIvfIndexAt(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int, epoch: Long): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = spark.read.parquet(s"$path/centroids")
    val lists = SegSwap.snapshotTable(spark, path, "lists", listsSchemaB, epoch)
    probeLists(lists, cents, queries, k, nprobe, pruneScan = true)
  }

  /** Roll the index back to `epoch` as one journaled revert — the
    * family contract ([[SegSwap.rollbackTo]]): delta-proportional,
    * history-preserving, redo-able, loud past the horizon. */
  def ivfRollbackTo(spark: org.apache.spark.sql.SparkSession, path: String,
      epoch: Long): Unit =
    IvfStore.rollbackTo(spark, path, epoch)

  /** Publish the index AS OF `epoch` to `dst` as a fresh standalone
    * index (lists + frozen quantizer + params) — the family's
    * model-versioning release step on the ANN surface. */
  def ivfExportAt(spark: org.apache.spark.sql.SparkSession, path: String,
      epoch: Long, dst: String): Unit =
    IvfStore.exportAt(spark, path, epoch, dst)

  /** Incrementally maintain an on-disk [[buildIvfIndex]] index over a
    * vector delta — the incremental thesis (F27–F31,
    * `incr-hadoop-0.1/src/mapred/.../ReduceTask.java:3504-3691`'s
    * preserve-then-continue claim) applied to the similarity surface.
    *
    * The coarse quantizer is FROZEN: the centroid table is part of the
    * index identity (re-training the quantizer is a rebuild, not an
    * update), so added vectors are assigned under the STORED centroids
    * and the updated index equals a full [[buildIvfIndex]] over the
    * post-delta corpus with the same centroids (spec-enforced). A
    * removed id that seeded a centroid leaves the quantizer intact —
    * only its list row goes.
    *
    * Only TOUCHED lists are rewritten, and nothing else is even read:
    *  - locating removals scans the (cid, nid) columns only — parquet
    *    column pruning never materializes the vectors (the heavy
    *    column) for the corpus-wide membership probe;
    *  - the rewrite reads just the touched cid partitions (partition
    *    pruning over the literal touched set, delta-bounded);
    *  - new list content is staged to a scratch dir and swapped in with
    *    per-partition renames, so untouched list files keep their exact
    *    bytes and mtimes, and a list emptied by the delta has its
    *    directory deleted — the retired-dir hygiene of
    *    [[graft.core.IncrementalJob]]'s segment compaction.
    *
    * An added id already present in the index REPLACES its old row (its
    * old list counts as touched via the same locate scan as a removal).
    *
    * The swap is the FAMILY's ([[SegSwap.commit]]): staged content is
    * written first, one atomically-renamed journal is the commit
    * point, the replaced list dirs are RETIRED for the snapshot
    * horizon (so the update is epoch'd, as-of-probeable,
    * [[ivfRollbackTo]]-able, and [[StoreTxn]]/[[Forget]]-compatible),
    * and an emptied list journals "empty" and rolls forward to a
    * retire-without-replace. Writer-leased and epoch-fenced end to
    * end.
    *
    * `batchId` (stream maintainers — [[graft.streaming.StreamMaintain
    * .ivfBatch]]): apply AT MOST ONCE per micro-batch id. The fence is
    * read inside the writer lease and recorded atomically with the
    * swap (riding the params dir); a replayed batch returns None
    * without touching a list. */
  def updateIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      addedVecs: DataFrame, removedIds: DataFrame,
      centroidFoldLimit: Int = 64,
      batchId: Option[Long] = None): Option[StorePolicy.ContinueAdvice] = {
    graft.functions.GraftFunctions.register(spark)
    SegSwap.withWriterLease(spark, path) { lease =>
      SegSwap.recover(spark, path) // install any pending swap first
      // EXACTLY-ONCE under a stream maintainer: `batchId` is checked
      // against the stored fence INSIDE the writer lease (no window
      // between check and commit), applied at most once, and recorded
      // through the same journaled swap as the lists it fences — a
      // checkpoint-replayed micro-batch is skipped outright, never
      // re-applied (re-applying an upsert is harmless here, but the
      // skip keeps replay O(params read) instead of O(touched lists)).
      // one params read serves fence + locB (per-trigger hot path:
      // each readParamsRow is a full driver job against the tiny file)
      val pr = SegSwap.readParamsRow(spark, path,
        Seq("lastBatch", "locB"), "ivf")
      if (batchId.exists(_ <= pr.getLong(0))) None
      else applyIvfDelta(spark, path, addedVecs, removedIds,
        centroidFoldLimit, batchId, lease, pr.getInt(1))
    }
  }

  private def applyIvfDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, addedVecs: DataFrame, removedIds: DataFrame,
      centroidFoldLimit: Int, batchId: Option[Long], lease: Long,
      locB: Int): Option[StorePolicy.ContinueAdvice] = {
    val cents = spark.read.parquet(s"$path/centroids")
    val added = addedVecs.select(col("id").cast("long").as("nid"),
      col("vec").cast("array<double>").as("nvec"))
    val assigned = assignToLists(added, cents, centroidFoldLimit)
      .withColumn("_b", col("cid").cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // replace semantics: an incoming id evicts its existing row
    val gone = removedIds
      .select(col(removedIds.columns.head).cast("long").as("_rid"))
      .unionByName(added.select(col("nid").as("_rid")))
    val advice = applyListsDelta(spark, path, assigned, gone,
      listsSchemaB, locB, ivfParams(_, locB), batchId, lease, "ivf")
    assigned.unpersist(blocking = false)
    advice
  }

  /** The ONE touched-list swap shared by every on-disk ANN store
    * variant (raw IVF here, IVF-PQ in [[Pq]]): `assigned` is the
    * delta's new list rows (any schema with `nid`, `cid` and the `_b`
    * list column), `gone` the single-column `_rid` frame of evicted
    * ids. Removals are located through the LOCATOR table — a
    * partition-pruned read of the delta ids' nid-hash buckets (O(delta
    * buckets), never a corpus scan) — then just the touched cid
    * partitions rewrite, the locator's touched buckets rewrite with
    * them, and the optional stream fence (via `paramsFor`) records
    * atomically with the swap — the fence advances even on an
    * effect-free batch ("applied" means RECORDED, so a later replay is
    * a params read, never a locate). */
  private[operators] def applyListsDelta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      assigned: DataFrame, gone: DataFrame,
      schema: org.apache.spark.sql.types.StructType, locB: Int,
      paramsFor: Long => Seq[(String, Any)], batchId: Option[Long],
      lease: Long, adviseKind: String)
      : Option[StorePolicy.ContinueAdvice] = {
    val lists = SegSwap.resolvedTable(spark, path, "lists", schema)
    val loc = SegSwap.resolvedTable(spark, path, "loc", locSchemaB)
    // the delta ids' locator buckets: O(delta) driver ints
    val goneB = gone
      .select(locBucket(col("_rid"), locB).as("_b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val locPruned = loc.filter(SegStore.inBuckets(goneB))
    // which lists hold the evicted ids — a pruned locator read, not a
    // corpus-wide (cid, nid) column scan
    val locatedB = locPruned
      .join(gone, col("nid") === col("_rid"), "left_semi")
      .select(col("cid").cast("int").as("_b")).distinct()
    // O(touched lists) driver rows — bounded by the delta, not the corpus
    val touched = locatedB
      .unionByName(assigned.select("_b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val fenceSwap = batchId.toSeq.map(b => "params" -> ((dst: String) =>
      SegSwap.writeParamsTo(spark, dst, paramsFor(b))))
    if (touched.isEmpty) {
      if (fenceSwap.nonEmpty)
        SegSwap.commit(spark, path, Nil, dirSwaps = fenceSwap,
          fence = Some(lease))
      None
    } else {
      val next = lists.filter(SegStore.inBuckets(touched))
        .join(gone, col("nid") === col("_rid"), "left_anti")
        .unionByName(assigned)
      // locator roll-forward: the delta ids' buckets rewrite minus the
      // evicted ids plus the new assignments (assigned ids ⊆ gone, so
      // their buckets ⊆ goneB — one touched set covers both row flows)
      val locNext = locPruned
        .join(gone, col("nid") === col("_rid"), "left_anti")
        .unionByName(assigned.select(col("nid"), col("cid"))
          .withColumn("_b", locBucket(col("nid"), locB)))
      SegSwap.commit(spark, path,
        Seq(("lists", next, touched), ("loc", locNext, goneB)),
        dirSwaps = fenceSwap, fence = Some(lease))
      Some(StorePolicy.advise(adviseKind, touched.size,
        SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "lists").size))
    }
  }

  private[operators] val listsSchemaB =
    org.apache.spark.sql.types.StructType.fromDDL(
      "nid BIGINT, nvec ARRAY<DOUBLE>, cid BIGINT, _b INT")

  private[operators] def normalizedCentroids(v: DataFrame, centroids: Option[DataFrame],
      nlist: Int): DataFrame = centroids
    .map(_.select(col("id").as("cid"), col("vec").cast("array<double>").as("cvec")))
    .getOrElse(v.orderBy("nid").limit(nlist)
      .select(col("nid").as("cid"), col("nvec").as("cvec")))

  /** Zero-norm guard: cosine with a zero vector is 0/0 — ANSI mode
    * (Spark 4 default) raises DIVIDE_BY_ZERO and non-ANSI yields NaN,
    * whose comparisons are all false: either way an unguarded
    * strict-max fold drops the vector from the index (cid −1),
    * breaking the nprobe==nlist ≡ brute-force equivalence. try_divide
    * + coalesce pins the score to −2 (below any real cosine), so a
    * zero-norm vector deterministically lands in the lowest-cid list
    * and a zero-norm CENTROID never attracts a nonzero vector. */
  private def cosOrFloor(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    coalesce(cosine(a, b), lit(-2.0))

  /** Nearest-centroid assignment → (cid, nid, nvec).
    *
    * Centroids are driver-collected (O(nlist), the same contract as the
    * KMeans center cycle). Up to `centroidFoldLimit` they are inlined
    * as an array literal, so the assignment is a single projection: a
    * fold over nlist struct elements per row — no corpus x nlist row
    * blowup, no shuffle at all in the build. The literal fold's
    * expression tree is O(nlist·dim), which blows the 64KB codegen
    * method limit at trained-index sizes (nlist ≥ ~1k), so above the
    * limit assignment switches to a broadcast nested-loop join +
    * max_by argmax: corpus × nlist pairs stream through codegen, the
    * map-side partial max_by collapses them to ONE row per vector
    * before the (only) shuffle. Tie-breaking matches the fold exactly:
    * max over (c, −cid) == earliest max in ascending-cid order ==
    * lowest cid. */
  private[operators] def assignToLists(v: DataFrame, cents: DataFrame,
      centroidFoldLimit: Int): DataFrame = {
    val centRows = cents.orderBy("cid").collect()
    require(centRows.nonEmpty, "ivf: empty centroid set")
    if (centRows.length <= centroidFoldLimit) {
      val centLit = array(centRows.map { r =>
        struct(lit(r.getLong(0)).as("cid"),
          typedLit(r.getSeq[Double](1).toArray).as("cvec"))
      }.toIndexedSeq: _*)
      def nearest(vecCol: org.apache.spark.sql.Column) = aggregate(
        centLit,
        struct(lit(-3.0).as("c"), lit(-1L).as("cid")),
        (acc, ce) => {
          val c = cosOrFloor(vecCol, ce("cvec"))
          when(c > acc("c"), struct(c.as("c"), ce("cid").as("cid"))).otherwise(acc)
        })
      v.select(nearest(col("nvec"))("cid").as("cid"), col("nid"), col("nvec"))
    } else
      v.crossJoin(broadcast(cents))
        .select(col("nid"), col("nvec"), col("cid"),
          cosOrFloor(col("nvec"), col("cvec")).as("c"))
        .groupBy("nid")
        .agg(max_by(col("cid"), struct(col("c"), (-col("cid")).as("nc"))).as("cid"),
          first(col("nvec")).as("nvec"))
        .select(col("cid"), col("nid"), col("nvec"))
  }

  /** Probe the nprobe nearest lists per query and exact-score their
    * members (queries are small by the same contract as
    * [[bruteForceTopK]] — the probe window is cheap). With `pruneScan`,
    * the probed cid set is collected and applied as a literal IN filter
    * so a partitioned on-disk list scan prunes unprobed lists. */
  private def probeLists(lists: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, pruneScan: Boolean): DataFrame = {
    val q = queries.select(col("id").as("qid"), col("vec").cast("array<double>").as("qvec"))
    val pw = Window.partitionBy("qid").orderBy(col("c").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("qvec"), col("cid"), cosine(col("qvec"), col("cvec")).as("c"))
      .withColumn("rk", row_number().over(pw)).filter(col("rk") <= nprobe)
      .select(col("cid"), col("qid"), col("qvec"))
    val listSide =
      if (!pruneScan) lists
      else {
        val probedCids = probes.select("cid").distinct().collect().map(_.getLong(0))
        // on-disk lists are partitioned by `_b` (= cid): the literal IN
        // on the partition column is what prunes unprobed lists' FILES;
        // in-memory frames (no _b) prune rows on cid alone
        if (lists.columns.contains("_b"))
          lists.filter(col("_b").isin(probedCids.map(c =>
            Integer.valueOf(c.toInt)): _*))
        else
          lists.filter(col("cid").isin(probedCids.map(java.lang.Long.valueOf): _*))
      }
    // each vector lives in exactly one list, so no distinct is needed
    val scored = listSide.join(broadcast(probes), "cid")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine(col("qvec"), col("nvec")).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "nid", "cosine", "rk")
  }

  /** Embedding-cosine near-dup pairs within a blocking column.
    *
    * Blocks of at most `maxBlock` vectors are compared all-pairs
    * (exact). Larger blocks — the quadratic corner at corpus scale,
    * e.g. one dominant language/label — are sub-bucketed with
    * axis-aligned sign-LSH: table t hashes the signs of `planes`
    * consecutive components, and only same-(block, table, signature)
    * pairs are scored. Sign tests on stored doubles are exact integer
    * comparisons, so the oracle reproduces the bucketing bit-for-bit
    * (unlike trig-based hyperplanes). Candidates from either path are
    * confirmed with exact cosine ≥ threshold.
    *
    * Returns an EAGERLY materialized catalog-visible cache; the vector
    * cache the computation needs internally is released before
    * returning, so `unpersist()` on the returned frame is the only
    * handle a caller needs (the library cache-release contract —
    * [[Pipeline.cleanCorpus]], `PreservedState.release`). */
  def embeddingNearDups(vectors: DataFrame, blockCol: String, threshold: Double,
      maxBlock: Int = 48, planes: Int = 4, tables: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col(blockCol).as("blk"), col("id").as("id"),
      col("vec").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = v.groupBy("blk").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlock).select("blk")

    // exact all-pairs inside small blocks
    val small = v.join(broadcast(big), Seq("blk"), "left_anti")
    val exactPairs = small.select(col("blk"), col("id").as("a"))
      .join(small.select(col("blk"), col("id").as("b")), "blk")
      .filter(col("a") < col("b")).select("a", "b")

    // sign-LSH sub-buckets inside big blocks: table t = sign bits of
    // components [t·planes, (t+1)·planes)
    def sig(t: Int) = (0 until planes).map { p =>
      when(col("v")(t * planes + p) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bigV = v.join(broadcast(big), Seq("blk"))
      .select(col("blk"), col("id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), sig(t).as("sig"))): _*)).as("ts"))
      .select(col("blk"), col("id"), col("ts.t"), col("ts.sig"))
    val lshPairs = bigV.select(col("blk"), col("t"), col("sig"), col("id").as("a"))
      .join(bigV.select(col("blk"), col("t"), col("sig"), col("id").as("b")),
        Seq("blk", "t", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct()

    val cands = exactPairs.unionByName(lshPairs)
    val out = cands
      .join(v.select(col("id").as("a"), col("v").as("va")), "a")
      .join(v.select(col("id").as("b"), col("v").as("vb")), "b")
      .select(col("a"), col("b"),
        // try_divide: a zero-norm member of a block yields NULL cosine
        // (never ≥ threshold) instead of an ANSI DIVIDE_BY_ZERO abort
        cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    v.unpersist(blocking = false)
    out
  }

  /** SemDeDup-style semantic deduplication (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): coarse-cluster the embeddings,
    * then inside each cluster drop every vector that has a LOWER-id
    * cluster-mate with cosine similarity above `tau`. This is the
    * order-independent "dominated" variant of the paper's
    * keep-one-per-duplicate-group rule — a drop decision depends only
    * on the pair set, never on a greedy scan order, so the result is
    * deterministic and declaratively reproducible. The keep-exactly-one
    * guarantee holds for CLIQUES only: a mutually-similar group keeps
    * its lowest id. On a transitive chain a~b~c with cos(a,c) ≤ tau,
    * both b and c are dropped — c's only >tau neighbor (b) is itself
    * dropped, so chain members can vanish with NO surviving
    * near-duplicate above tau. That is more aggressive than
    * per-group-keep-one on chains, which is the conservative direction
    * for dedup (may lose a borderline original, never keeps a
    * duplicate).
    *
    * Returns (id, cid, keep) for EVERY input vector (keep ∈ {0, 1}) so
    * callers can either filter or audit per-cluster drop rates. The
    * frame comes back EAGER and persisted with every internal cache
    * released, so `unpersist()` on it is the only handle a caller
    * needs (the library cache-release contract, as
    * [[embeddingNearDups]]).
    * Threshold comparisons use the ROUNDED cosine (6 digits) compared
    * STRICTLY against `tau`, so last-ulp noise between engines cannot
    * flip a decision. Boundary semantics: the effective threshold is
    * `round(cos, 6) > tau` — a true cosine in (tau, tau + 5e-7] rounds
    * down to tau and the pair is KEPT, and a `tau` not representable
    * at 6 decimals shifts the boundary to its 6-digit neighborhood.
    *
    * Scale shape: assignment is the shared IVF coarse-quantizer path
    * (literal fold ≤ `centroidFoldLimit`, broadcast + partial-max_by
    * argmax above it — no corpus×nlist blowup); the pair scan is ONE
    * self-join keyed by cid, so total work is Σ|cluster|², bounded by
    * the quantizer granularity — at corpus scale nlist grows with n
    * (the paper uses k = O(√n)) keeping clusters ~constant-sized, and
    * the dominated-set is deduplicated map-side before the final join.
    * Pass trained `centroids` (e.g. [[graft.algorithms.KMeans.run]])
    * for real corpora; the default lowest-id quantizer is the same
    * pinned-seed contract as [[ivfTopK]].
    */
  /** Preserved SemDeDup state for incremental maintenance
    * ([[preserveSemanticDedup]]/[[continueSemanticDedup]]): the FROZEN
    * normalized quantizer, the (cid, nid, nvec) assignment table, and
    * the (id, cid, keep) output. A keep decision depends ONLY on pairs
    * within its own cluster under the frozen quantizer, so a ±vector
    * delta re-decides exactly the clusters it touches — the
    * updateIvfIndex frozen-quantizer thesis on the dedup surface. */
  final case class SemanticDedupState(cents: DataFrame, assign: DataFrame,
      out: DataFrame, tau: Double, centroidFoldLimit: Int,
      release: () => Unit = () => ())

  /** Run SemDeDup once and keep the state ([[semanticDedup]]'s
    * semantics — same assignment path, same rounded-cosine boundary —
    * with the internals preserved instead of released). */
  def preserveSemanticDedup(vectors: DataFrame, nlist: Int, tau: Double,
      centroids: Option[DataFrame] = None,
      centroidFoldLimit: Int = 64): SemanticDedupState = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id").as("nid"),
      col("vec").cast("array<double>").as("nvec"))
    // the quantizer freezes at preserve time (k rows, driver-small)
    val cents = GraftSqlShim.pin(
      normalizedCentroids(v, centroids, nlist))
    val assign = GraftSqlShim.pin(
      assignToLists(v, cents.leaf, centroidFoldLimit))
    val out = GraftSqlShim.pin(keepFor(assign.leaf, tau))
    SemanticDedupState(cents.leaf, assign.leaf, out.leaf, tau, centroidFoldLimit,
      () => { cents.release(); assign.release(); out.release() })
  }

  /** keep ∈ {0,1} for every row of `assign` (cid, nid, nvec) against
    * its own cluster-mate pairs: the ONE dominance definition shared by
    * the batch operator, the preserve pass, and the continuation's
    * affected-cluster re-decide (keep depends only on within-cluster
    * pairs, which is what makes the per-cluster re-decide exact). */
  private[operators] def keepFor(assign: DataFrame, tau: Double): DataFrame = {
    val dominated = assign
      .select(col("cid"), col("nid").as("ida"), col("nvec").as("va"))
      .join(assign.select(col("cid"), col("nid").as("idb"),
        col("nvec").as("vb")), "cid")
      .filter(col("ida") < col("idb"))
      .filter(round(cosine(col("va"), col("vb")), 6) > tau)
      .select(col("idb").as("nid")).distinct()
    assign.join(dominated.withColumn("_dom", lit(1)), Seq("nid"), "left")
      .select(col("nid").as("id"), col("cid"),
        when(col("_dom").isNotNull, lit(0)).otherwise(lit(1)).as("keep"))
  }

  /** Roll the state forward over a ±vector delta (upsert contract: an
    * incoming id evicts its existing row) under the FROZEN quantizer:
    * the delta assigns against the preserved centroids, only the
    * clusters that gained or lost a member re-run the dominance scan
    * (Σ|affected cluster|² work), and every other cluster's keep bits
    * carry over untouched. EXACT vs [[semanticDedup]] on the
    * post-delta vectors with the same centroids (gate + spec). */
  def continueSemanticDedup(state: SemanticDedupState,
      addedVecs: DataFrame, removedIds: DataFrame): SemanticDedupState =
      Pins.scope { pins =>
    val rem = pins(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedVecs.select(col("id").as("_rid"))).distinct())
    val addAssign = pins(assignToLists(
      addedVecs.select(col("id").as("nid"),
        col("vec").cast("array<double>").as("nvec")),
      state.cents, state.centroidFoldLimit))
    // affected clusters: those losing a member (evicted rows' cids)
    // or gaining one — O(delta) cids, broadcast-sized by nature
    val affCids = pins(state.assign
      .join(rem, col("nid") === col("_rid"), "left_semi").select("cid")
      .unionByName(addAssign.select("cid")).distinct())
    val assignNext = GraftSqlShim.pin(state.assign
      .join(rem, col("nid") === col("_rid"), "left_anti")
      .unionByName(addAssign))
    val recomputed = keepFor(
      assignNext.leaf.join(affCids, Seq("cid"), "left_semi"), state.tau)
    val outNext = GraftSqlShim.pin(state.out
      .join(rem, col("id") === col("_rid"), "left_anti")
      .join(affCids, Seq("cid"), "left_anti")
      .unionByName(recomputed.select("id", "cid", "keep")))
    // cents carry over FROZEN; their release stays with the original
    // state's thunk (call state.release() after the chain is done)
    SemanticDedupState(state.cents, assignNext.leaf, outNext.leaf, state.tau,
      state.centroidFoldLimit, () => { assignNext.release(); outNext.release() })
  }

  def semanticDedup(vectors: DataFrame, nlist: Int, tau: Double,
      centroids: Option[DataFrame] = None,
      centroidFoldLimit: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id").as("nid"),
      col("vec").cast("array<double>").as("nvec"))
    val cents = normalizedCentroids(v, centroids, nlist)
    // assign feeds both sides of keepFor's cid self-join AND its final
    // keep join; unpersisted, the nearest-centroid argmax (a crossJoin
    // + shuffle when nlist > centroidFoldLimit) would run up to 3x
    val assign = assignToLists(v, cents, centroidFoldLimit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ONE dominance definition ([[keepFor]]) — shared verbatim with
    // the preserve pass and the incremental continuation, so the
    // rounded-cosine boundary contract lives in exactly one place
    val out = keepFor(assign, tau)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager + release internals, the embeddingNearDups contract: the
    // caller holds only the (id, cid, keep) frame, never the vectors
    out.count()
    assign.unpersist(blocking = false)
    out
  }
}
