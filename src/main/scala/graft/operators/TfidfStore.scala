package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SEGMENTED durable form of [[TfidfState]] — corpus TF-IDF statistics
  * on the family's journaled touched-bucket layout ([[SegSwap]]),
  * closing the second half of the round-9 verdict's missing-#1 ("TF-IDF
  * tf/dfreq tables use wholesale parquet read/write"):
  *
  *  - `tf(doc_id, token, tf, _b)` — the per-doc contribution bag,
  *    DOC-bucketed (`pmod(xxhash64(doc_id), B)`): a ±doc delta evicts
  *    and inserts whole documents' rows, so only the delta ids'
  *    buckets rewrite, and the departing contributions (needed to
  *    decrement document frequencies) come from a PRUNED scan of
  *    exactly those buckets;
  *  - `dfreq(token, df, _b)` — vocabulary-sized document frequencies,
  *    TOKEN-bucketed: only tokens the delta touches can change df, so
  *    only their buckets rewrite (the kvs-merge shape);
  *  - `N` (total corpus doc count) rides the `params` table through
  *    the journal's whole-dir entry — it must install ATOMICALLY with
  *    the tables (a crash between would skew every idf).
  *
  * [[tfidf]] derives the weight `tf · ln(N/df)` lazily from the stored
  * tables through the same arithmetic as [[Pipeline.tfidf]] /
  * [[IncrementalTfidf.tfidfOf]], so `init + continueAt*` equals a full
  * recompute over the post-delta corpus bit-for-bit (gate
  * `q_incr_tfidf_seg` under the same full-recompute oracle as
  * `q_incr_tfidf`, plus the store-vs-in-memory twin spec). Delta
  * contract matches [[IncrementalTfidf.continueTfidf]]: removed ids
  * must be present, added ids fresh. Single fenced writer
  * ([[SegSwap.withWriterLease]]); crash contract is the family's.
  */
object TfidfStore extends SegStore("tfidf", "tfidfstore") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  protected def tables(p: Params): Seq[Table] = Seq(
    Table("tf", p.ddl("tf"), hashBucket(p.b, col("doc_id"))),
    Table("dfreq", p.ddl("dfreq"), hashBucket(p.b, col("token"))),
    Table("docs", p.ddl("docs"), hashBucket(p.b, col("doc_id"))))

  /** The TF-IDF rows AS OF `epoch` — same columns and arithmetic as
    * [[tfidf]], with EVERY input (tf, dfreq, and the corpus size N in
    * params) resolved at that epoch, so the as-of weights are exactly
    * what [[tfidf]] returned when the epoch was current. Readable for
    * the retention horizon, or for as long as a pin covers it
    * ([[SegSwap.pinEpoch]]). */
  def tfidfAt(spark: SparkSession, path: String, epoch: Long): DataFrame = {
    val p = paramsAt(spark, path, epoch)
    readTableAt(spark, path, p, "tf", epoch).drop("_b")
      .join(readTableAt(spark, path, p, "dfreq", epoch).drop("_b"), "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf") * log(lit(p.long("n").toDouble) / col("df"))).as("tfidf"))
  }

  /** Tokenize + count once, lay tf/dfreq out bucket-partitioned
    * (params — carrying N, the completeness marker — last). The
    * `docs` MEMBERSHIP table (one (doc_id) row per corpus document,
    * doc-bucketed) exists because tf alone cannot witness membership:
    * a token-less document counts in N but has no tf rows, and exact N
    * maintenance — absent-immune removals (a re-sent deletion list
    * must not decrement twice) AND empty-doc removals — needs a
    * presence record for every id. */
  def init(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, nBuckets: Int = 32): Unit = {
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val intern = new IncrMat.Tracker
    val tf = intern.mat(IncrementalTfidf.tfOf(docs, idCol, textCol)
      .withColumn("_b", hashBucket(nBuckets, col("doc_id"))))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("_b", hashBucket(nBuckets, col("token")))
    val members = docs.select(col(idCol).as("doc_id")).distinct()
      .withColumn("_b", hashBucket(nBuckets, col("doc_id")))
    var ddl = Map.empty[String, String]
    // tf is a materialized leaf, so the three writes are independent
    // scans over cached blocks / the docs source — overlap them (§2.6)
    graft.util.Par.foreach(
      Seq("tf" -> tf, "dfreq" -> dfreq, "docs" -> members).map {
        case (n, df) =>
          ddl += n -> df.schema.toDDL
          SegSwap.stageBuckets(df, s"$path/$n")
      })
    SegSwap.writeParamsTo(spark, s"$path/params", Seq(
      "b" -> nBuckets, "n" -> docs.count(),
      "idDdl" -> docs.schema(idCol).dataType.sql, "tfDdl" -> ddl("tf"),
      "dfreqDdl" -> ddl("dfreq"), "docsDdl" -> ddl("docs"),
      "lastBatch" -> -1L))
    intern.releaseAll()
  }

  /** The TF-IDF rows the store represents — same columns and
    * arithmetic as [[Pipeline.tfidf]]. Journal-resolved, never
    * mutating; consume before the next writer commit. */
  def tfidf(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    readTable(spark, path, p, "tf").drop("_b")
      .join(readTable(spark, path, p, "dfreq").drop("_b"), "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf") * log(lit(p.long("n").toDouble) / col("df"))).as("tfidf"))
  }

  /** Roll the store forward over a ±document delta
    * ([[IncrementalTfidf.continueTfidf]]'s contract: removed ids
    * present, added ids fresh): the delta's doc buckets of `tf` and
    * the delta vocabulary's token buckets of `dfreq` rewrite; N rides
    * the params dir-swap through the same journal. */
  def continueAt(spark: SparkSession, path: String, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String, textCol: String)
      : StorePolicy.ContinueAdvice =
    continueImpl(spark, path, addedDocs, removedIds, idCol, textCol,
      batchId = None).get

  /** [[continueAt]] fenced by a stream micro-batch id — applied AT
    * MOST ONCE per `batchId` (None on a replayed batch), the fence
    * riding the params dir-swap the continuation already commits (N
    * lives there), reverted with the rows by [[rollbackTo]]: the
    * [[graft.streaming.StreamMaintain]] exactly-once contract on the
    * corpus-statistics surface. */
  def continueBatch(spark: SparkSession, path: String,
      addedDocs: DataFrame, removedIds: DataFrame, idCol: String,
      textCol: String, batchId: Long): Option[StorePolicy.ContinueAdvice] =
    continueImpl(spark, path, addedDocs, removedIds, idCol, textCol,
      Some(batchId))

  private def continueImpl(spark: SparkSession, path: String,
      addedDocs: DataFrame, removedIds: DataFrame, idCol: String,
      textCol: String, batchId: Option[Long])
      : Option[StorePolicy.ContinueAdvice] = {
   val advice = SegSwap.withWriterLease(spark, path) { lease =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    if (batchId.exists(_ <= p.long("lastBatch"))) None
    else continueBody(spark, path, addedDocs, removedIds, idCol,
      textCol, batchId, p, lease)
   }
   advice
  }

  private def continueBody(spark: SparkSession, path: String,
      addedDocs: DataFrame, removedIds: DataFrame, idCol: String,
      textCol: String, batchId: Option[Long], p: Params, lease: Long)
      : Option[StorePolicy.ContinueAdvice] = {
    val B = p.b
    val intern = new IncrMat.Tracker
    val added = SegSwap.castToPinned(addedDocs, idCol, p.str("idDdl"),
      "tfidfstore continueAt addedDocs")
    // the delta's ids, distinct per side (a duplicate-immune removal
    // set), with their doc buckets: the tf/docs rewrite set `td` rides
    // this job. Derived from the added IDS (not tfAdded): a token-less
    // added doc has no tf rows but its membership row must still land
    // in a journaled bucket.
    val (ids, idSets) = intern.matStats(SegSwap.castToPinned(
        removedIds.select(col(removedIds.columns.head).as("_id")),
        "_id", p.str("idDdl"), "tfidfstore continueAt removedIds")
      .withColumn("_rm", lit(true))
      .unionByName(added.select(col(idCol).as("_id"), lit(false).as("_rm")))
      .distinct().withColumn("_b", hashBucket(B, col("_id"))), Seq("_b"))
    val td = idSets.head
    val rem = ids.filter(col("_rm")).select(col("_id").as("_rid"))
    val addedIds = ids.filter(!col("_rm"))
      .select(col("_id").as("doc_id"), col("_b"))
    val tfAdded = intern.mat(IncrementalTfidf.tfOf(added, idCol, textCol)
      .withColumn("_b", hashBucket(B, col("doc_id"))))

    // tf rewrite: the delta ids' buckets; departing bags from ONE
    // pruned scan feeding both the rewrite and the df decrement.
    val tfLive = readTable(spark, path, p, "tf")
    val (tfOldT, relOld) = IncrMat.matWithHandle(
      tfLive.filter(inBuckets(td)))
    val tfNextT = intern.mat(tfOldT
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(tfAdded))

    // df merge for touched tokens only: +1 per added doc containing
    // the token, −1 per removed doc that did; tokens at df 0 leave
    val dfAdd = tfAdded.groupBy("token").agg(count(lit(1)).as("_plus"))
    val dfSub = intern.mat(tfOldT
      .join(rem, col("doc_id") === col("_rid"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("_minus")))
    relOld()
    // N moves by the MEMBERSHIP change of the td buckets, the two leaf
    // counts: it decrements by the removed ids actually PRESENT, not by
    // the request size — tf/df bags are naturally absent-immune
    // (nothing to evict), but a blind `- rem.count()` would silently
    // skew every tfidf weight when a deletion list is re-sent (the
    // Forget crash window's documented recovery is exactly "re-run the
    // sweep"). Presence comes from the membership table, never tf — a
    // token-less document counts in N yet has no tf rows.
    val (docsOldT, nOld) = intern.matCounted(
      readTable(spark, path, p, "docs").filter(inBuckets(td)))
    val (docsNextT, nNext) = intern.matCounted(docsOldT
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(addedIds))
    // the touched token-bucket set (ts) rides the same job
    val (touchedRaw, touchedSets) = intern.matStats(
      dfAdd.select("token").unionByName(dfSub.select("token")).distinct()
        .withColumn("_tkb", hashBucket(B, col("token"))), Seq("_tkb"))
    val touched = touchedRaw.drop("_tkb")
    val ts = touchedSets.head
    val dfreqLive = readTable(spark, path, p, "dfreq")
    val mergedTouched = touched
      .join(dfreqLive.filter(inBuckets(ts)).drop("_b"), Seq("token"), "left")
      .join(dfAdd, Seq("token"), "left")
      .join(dfSub, Seq("token"), "left")
      .select(col("token"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("_plus"), lit(0L))
          - coalesce(col("_minus"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val dfreqNextT = intern.mat(dfreqLive.filter(inBuckets(ts))
      .join(touched, Seq("token"), "left_anti")
      .unionByName(mergedTouched.withColumn("_b",
        hashBucket(B, col("token")))))

    val n2 = p.long("n") - nOld + nNext
    val liveB = math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "tf").size)
    SegSwap.commit(spark, path, Seq(
      ("tf", tfNextT, td), ("dfreq", dfreqNextT, ts),
      ("docs", docsNextT, td)),
      dirSwaps = Seq("params" -> ((dst: String) =>
        writeParams(spark, dst, p.updated("n" -> n2,
          "lastBatch" -> batchId.getOrElse(p.long("lastBatch")))))),
      fence = Some(lease))
    intern.releaseAll()
    Some(StorePolicy.advise("tfidfstore", td.size, liveB))
  }

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))
}
