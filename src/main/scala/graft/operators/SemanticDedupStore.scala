package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** SEGMENTED durable form of [[Similarity.SemanticDedupState]] — the
  * round-9 verdict's missing-#1 ("SemDeDup assignments live in session
  * caches") closed with the family's journaled touched-bucket layout
  * ([[SegSwap]]; siblings [[DupSpansStore]], [[LmCountsStore]],
  * [[DedupClusterStore]], [[graft.core.SegmentedStateStore]]):
  *
  *  - `cents/` — the FROZEN coarse quantizer (cid, cvec), written at
  *    init and never rewritten: the quantizer is part of the store's
  *    identity (re-training is a rebuild, not a continuation — the
  *    [[Similarity.updateIvfIndex]] contract);
  *  - `assign(cid, nid, nvec, _b)` — the assignment table, bucketed by
  *    `_b = pmod(xxhash64(cid), B)`. CLUSTER-bucketed, not doc-
  *    bucketed, because the continuation's unit of recomputation is
  *    the cluster: a keep decision depends only on within-cluster
  *    pairs, so a ±vector delta re-decides exactly the clusters that
  *    gained or lost a member — and with cid bucketing those clusters'
  *    rows (the rows the rewrite must read AND the rows keepFor must
  *    scan) live in exactly the touched buckets, a pruned read;
  *  - `out(id, cid, keep, _b)` — the decision table, same bucketing
  *    (an id's out row lives with its cluster, so evictions and
  *    re-decides stay inside the touched buckets too).
  *
  * Locating a REMOVED id's cluster scans the live assign table's
  * (cid, nid) columns only — parquet column pruning never reads the
  * vectors for the corpus-wide membership probe (the updateIvfIndex
  * locate shape). Everything else is delta-proportional:
  * Σ|affected cluster|² dominance work, touched-bucket rewrites,
  * untouched bucket files keep their exact bytes and mtimes
  * (spec-asserted).
  *
  * Semantics are [[Similarity.continueSemanticDedup]]'s verbatim — the
  * dominance rule is the ONE shared [[Similarity.keepFor]] and the
  * assignment path the shared [[Similarity.assignToLists]], so
  * store ≡ in-memory ≡ batch cannot drift. Crash contract and writer
  * lease are [[SegSwap]]'s (single fenced writer, non-destructive
  * readers, roll-forward after the atomically-renamed journal).
  *
  * EXACT: after [[continueAt]], [[keeps]] equals
  * [[Similarity.semanticDedup]] over the post-delta vectors under the
  * stored quantizer (gate `q_incr_semantic_dedup_seg` under the same
  * full-recompute oracle as `q_incr_semantic_dedup`, plus the
  * store-vs-in-memory twin spec).
  */
object SemanticDedupStore extends SegStore("semdedup", "semdedup") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  protected def tables(p: Params): Seq[Table] =
    Seq("assign", "out").map(t => Table(t, p.ddl(t), hashBucket(p.b, col("cid"))))

  override protected def frozenDirs: Seq[String] = Seq("cents")

  /** Base pass: freeze the quantizer, assign, decide, lay both tables
    * out bucket-partitioned (params last — the completeness marker).
    * `nBuckets` trades rewrite granularity against file count; at
    * corpus scale nlist grows with n (the SemDeDup paper's k = O(√n)),
    * so B should sit well below nlist to keep real bytes per bucket. */
  def init(spark: SparkSession, path: String, vectors: DataFrame,
      nlist: Int, tau: Double, centroids: Option[DataFrame] = None,
      centroidFoldLimit: Int = 64, nBuckets: Int = 32): Unit = Pins.scope { pins =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val v = vectors.select(col("id").as("nid"),
      col("vec").cast("array<double>").as("nvec"))
    val cents = pins(
      Similarity.normalizedCentroids(v, centroids, nlist))
    SegSwap.writeTable(cents, s"$path/cents")
    // assign feeds its own write, both sides of keepFor's self-join and
    // the keep join — one materialization
    val assign = pins(
      Similarity.assignToLists(v, cents, centroidFoldLimit)
        .withColumn("_b", hashBucket(nBuckets, col("cid"))))
    val out = Similarity.keepFor(assign.drop("_b"), tau)
      .withColumn("_b", hashBucket(nBuckets, col("cid")))
    var ddl = Map.empty[String, String]
    Seq("assign" -> assign, "out" -> out).foreach { case (n, df) =>
      ddl += n -> df.schema.toDDL
      SegSwap.writeBuckets(df, s"$path/$n")
    }
    SegSwap.writeParamsTo(spark, s"$path/params", Seq(
      "tau" -> tau, "foldLimit" -> centroidFoldLimit, "b" -> nBuckets,
      "idDdl" -> v.schema("nid").dataType.sql,
      "assignDdl" -> ddl("assign"), "outDdl" -> ddl("out")))
  }

  /** The post-delta decisions (`id, cid, keep` —
    * [[Similarity.semanticDedup]]'s contract). Journal-resolved,
    * never mutating; consume before the next writer commit. */
  def keeps(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    readTable(spark, path, p, "out").drop("_b")
  }

  /** The stored frozen quantizer (cid, cvec). */
  def centroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cents")

  /** Roll the store forward over a ±vector delta (upsert contract: an
    * incoming id evicts its existing row) under the FROZEN quantizer.
    * Only the affected clusters' buckets rewrite; only their pairs
    * re-score. Single fenced writer; crash-safe via the shared
    * journal. */
  def continueAt(spark: SparkSession, path: String, addedVecs: DataFrame,
      removedIds: DataFrame): StorePolicy.ContinueAdvice = {
   val advice = SegSwap.withWriterLease(spark, path)(lease => Pins.scope { pins =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    val B = p.b
    val cents = pins(spark.read.parquet(s"$path/cents"))
    val added = SegSwap.castToPinned(
      addedVecs.select(col("id").as("nid"),
        col("vec").cast("array<double>").as("nvec")),
      "nid", p.str("idDdl"), "semdedup continueAt addedVecs")
    // replace semantics: an incoming id evicts its existing row
    val rem = pins(SegSwap.castToPinned(
        removedIds.select(col(removedIds.columns.head).as("_rid")),
        "_rid", p.str("idDdl"), "semdedup continueAt removedIds")
      .unionByName(added.select(col("nid").as("_rid"))).distinct())
    val addAssign = pins(
      Similarity.assignToLists(added, cents, p.int("foldLimit")))

    // affected clusters: those losing a member (located via a
    // column-pruned (cid, nid) scan — the vectors are never read for
    // the membership probe) or gaining one. O(delta) cids.
    val assignLive = readTable(spark, path, p, "assign")
    // touched buckets — O(delta) driver ints; every evicted row and
    // every fresh row lives in an affected cluster's bucket. The set
    // rides the affCids leaf's own materialization job (guide §1.2)
    val affP = pins.pin(assignLive.select("cid", "nid")
      .join(rem, col("nid") === col("_rid"), "left_semi").select("cid")
      .unionByName(addAssign.select("cid")).distinct()
      .withColumn("_cb", hashBucket(B, col("cid"))), Seq("_cb"))
    val affCids = affP.leaf.drop("_cb")
    val tb = affP.sets.head
    if (tb.nonEmpty) {
      val assignNextT = pins(assignLive.filter(inBuckets(tb))
        .join(rem, col("nid") === col("_rid"), "left_anti")
        .unionByName(addAssign.withColumn("_b",
          hashBucket(B, col("cid")))))
      // re-decide ONLY the affected clusters (Σ|affected|² pairs): all
      // their post-delta rows live in the staged leaf by construction
      val recomputed = Similarity.keepFor(
        assignNextT.join(affCids, Seq("cid"), "left_semi").drop("_b"),
        p.double("tau"))
      // out rewrite: unaffected clusters sharing a touched bucket pass
      // through; affected clusters' old decisions (removed ids'
      // included — their cluster is affected by definition) are
      // replaced wholesale by the re-decide
      val outNextT = pins(readTable(spark, path, p, "out")
        .filter(inBuckets(tb))
        .join(affCids, Seq("cid"), "left_anti")
        .unionByName(recomputed.withColumn("_b",
          hashBucket(B, col("cid")))))
      SegSwap.commit(spark, path, Seq(
        ("assign", assignNextT, tb), ("out", outNextT, tb)),
        fence = Some(lease))
    }
    val liveB = math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "out").size)
    StorePolicy.advise("semdedup", tb.size, liveB)
   })
   advice
  }

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]); the frozen
    * quantizer has no bucket axis and stays as it is. */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))
}
