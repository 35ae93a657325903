package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Pins

/** Incrementally-maintained bigram language model — the
  * [[Pipeline.lmScoreAgainst]] frozen model kept CURRENT as the
  * reference corpus evolves, without ever retraining from scratch.
  * The second user of the segmented durable-store pattern
  * ([[SegSwap]]; [[DupSpansStore]] is the first), instantiating the
  * reference's preserve-then-continue thesis (F27–F31) on the model
  * surface:
  *
  *  - `unidoc(doc_id, w, n, _b)` / `bidoc(doc_id, a, b, n, _b)` —
  *    per-document count contributions, doc-hash-bucketed: the MRBGraph
  *    contribution bags that make REMOVALS possible (subtracting a
  *    departed document needs its counts, not its text, and reading
  *    them prunes to the delta's buckets);
  *  - `uni(w, cw, _b)` / `bi(a, b, cab, _b)` — the aggregated model,
  *    token-hash-bucketed: a delta changes only the counts of tokens
  *    it contains, so only those buckets rewrite (one full-outer merge
  *    per table over the touched buckets — the kvs-merge shape).
  *
  * [[scoreAgainst]] reads the aggregated tables and scores any corpus
  * through the SAME [[Pipeline.lmScoreFromCounts]] core as the batch
  * variants, so `init + continueAt*` ≡ `lmScoreAgainst(post-delta
  * corpus, …)` exactly (gate `q_incr_lm_score` + spec). Single
  * concurrent writer; crash-safe via the [[SegSwap]] journal. */
object LmCountsStore extends SegStore("lmcounts", "lmcounts") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  /** Doc-side bucketing is pluggable exactly as in [[DupSpansStore]]:
    * `hash` scatters uniformly, `range` (numeric ids, width `span`)
    * keeps id-locality — an append-shaped crawl shard's contiguous ids
    * land in FRESH contribution buckets, so the unidoc/bidoc rewrites
    * touch O(|delta|) rows no matter how big the stored model. The
    * AGGREGATE tables (`uni`/`bi`) stay token-hash-bucketed in either
    * mode — their touch set is the delta's token set by construction,
    * not its id range. */
  private def docBucket(c: Column, p: Params): Column =
    if (p.str("mode") == "range")
      floor(c.cast("bigint") / lit(p.long("span"))).cast("int")
    else hashBucket(p.b, c)

  protected def tables(p: Params): Seq[Table] = Seq(
    Table("unidoc", p.ddl("unidoc"), docBucket(col("doc_id"), p)),
    Table("bidoc", p.ddl("bidoc"), docBucket(col("doc_id"), p)),
    Table("uni", p.ddl("uni"), hashBucket(p.b, col("w"))),
    Table("bi", p.ddl("bi"), hashBucket(p.b, col("a"), col("b"))))

  /** Per-doc contribution tables for a corpus (shared by init and the
    * continuation's arrival side — one definition, no drift). */
  private def uniDocOf(docs: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    Pipeline.lmToksOf(docs, idCol, textCol)
      .select(col("doc_id"), explode(col("_toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      .withColumn("_b", docBucket(col("doc_id"), p))

  private def biDocOf(docs: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    Pipeline.lmBigramsOf(Pipeline.lmToksOf(docs, idCol, textCol))
      .groupBy("doc_id", "_a", "_b").agg(count(lit(1)).as("n"))
      .select(col("doc_id"), col("_a").as("a"), col("_b").as("b"),
        col("n"))
      .withColumn("_b", docBucket(col("doc_id"), p))

  /** Train once: derive contributions and aggregates, lay them out as
    * bucket-partitioned Parquet. */
  def init(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, nBuckets: Int = 64,
      bucketMode: String = "hash", rangeSpan: Long = 0L): Unit = Pins.scope { pins =>
    require(bucketMode == "hash" || bucketMode == "range",
      s"lmcounts: unknown bucketMode '$bucketMode'")
    require(bucketMode == "hash" || rangeSpan > 0,
      "lmcounts: range bucketing needs a positive rangeSpan")
    require(bucketMode == "hash" || docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"lmcounts: range bucketing needs a numeric id column, " +
        s"got ${docs.schema(idCol).dataType.sql}")
    graft.functions.GraftFunctions.register(spark)
    // remove the completeness marker FIRST when re-initing over an
    // existing path (crash mid-init must read as incomplete)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val p0 = Seq("b" -> nBuckets, "mode" -> bucketMode, "span" -> rangeSpan,
      "idDdl" -> docs.schema(idCol).dataType.sql)
    val dp = newParams(path, p0)
    val unidoc = pins(uniDocOf(docs, idCol, textCol, dp))
    val bidoc = pins(biDocOf(docs, idCol, textCol, dp))
    val uni = pins(unidoc.groupBy("w").agg(sum(col("n")).as("cw"))
      .withColumn("_b", hashBucket(nBuckets, col("w"))))
    val bi = pins(bidoc.groupBy("a", "b")
      .agg(sum(col("n")).as("cab"))
      .withColumn("_b", hashBucket(nBuckets, col("a"), col("b"))))
    // all four tables are materialized leaves: independent writes to
    // distinct dirs — overlap them (guide §2.6)
    graft.util.Par.foreach(
      Seq("unidoc" -> unidoc, "bidoc" -> bidoc, "uni" -> uni,
          "bi" -> bi).map { case (n, df) =>
        SegSwap.stageBuckets(df, s"$path/$n")
      })
    SegSwap.writeParamsTo(spark, s"$path/params", p0 ++ Seq(
      "unidocDdl" -> unidoc.schema.toDDL, "bidocDdl" -> bidoc.schema.toDDL,
      "uniDdl" -> uni.schema.toDDL, "biDdl" -> bi.schema.toDDL,
      "lastBatch" -> -1L))
  }

  /** Roll the model forward over a ±document delta (upsert contract:
    * an incoming id evicts its existing contributions). Rewrites only
    * the delta's doc buckets of the contribution tables and the
    * delta's token buckets of the aggregates. Returns the
    * [[StorePolicy]] continue-vs-rebuild advice; range-mode stores
    * auto-respan once shard appends sprawl the contribution dirs past
    * `autoRespanFactor ×` the provisioned budget (0 disables). */
  def continueAt(spark: SparkSession, path: String, addedDocs0: DataFrame,
      removedIds0: DataFrame, idCol: String, textCol: String,
      autoRespanFactor: Int = 4): StorePolicy.ContinueAdvice =
    continueImpl(spark, path, addedDocs0, removedIds0, idCol, textCol,
      autoRespanFactor, batchId = None).get

  /** [[continueAt]] fenced by a stream micro-batch id — applied AT
    * MOST ONCE per `batchId` (None on a replayed batch), the fence
    * recorded in params atomically with the swap and reverted with the
    * rows by [[rollbackTo]]. */
  def continueBatch(spark: SparkSession, path: String,
      addedDocs0: DataFrame, removedIds0: DataFrame, idCol: String,
      textCol: String, batchId: Long,
      autoRespanFactor: Int = 4): Option[StorePolicy.ContinueAdvice] =
    continueImpl(spark, path, addedDocs0, removedIds0, idCol, textCol,
      autoRespanFactor, Some(batchId))

  private def continueImpl(spark: SparkSession, path: String,
      addedDocs0: DataFrame, removedIds0: DataFrame, idCol: String,
      textCol: String, autoRespanFactor: Int,
      batchId: Option[Long]): Option[StorePolicy.ContinueAdvice] = {
   val advice = SegSwap.withWriterLease(spark, path) { lease =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    if (batchId.exists(_ <= p.long("lastBatch"))) None
    else Pins.scope { pins =>
    // pin the delta's id dtype to the init corpus's before bucketing
    val addedDocs = SegSwap.castToPinned(addedDocs0, idCol, p.str("idDdl"),
      "continueAt addedDocs")
    val removedIds = SegSwap.castToPinned(removedIds0,
      removedIds0.columns.head, p.str("idDdl"), "continueAt removedIds")
    // the touched doc-bucket set (td) rides the rem leaf's own
    // materialization job (guide §1.2 — no separate collect)
    val remP = pins.pin(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid"))).distinct()
      .withColumn("_tdb", docBucket(col("_rid"), p)), Seq("_tdb"))
    val rem = remP.leaf.drop("_tdb")
    val addUni = pins(uniDocOf(addedDocs, idCol, textCol, p))
    val addBi = pins(biDocOf(addedDocs, idCol, textCol, p))
    val td = remP.sets.head

    // contribution rewrites + count deltas from ONE pruned scan each:
    // departures are the stored bags of evicted docs (negated),
    // arrivals the delta's fresh bags
    def roll(doc: String, agg: String, keys: Seq[String],
        add: DataFrame): Seq[(String, DataFrame, Set[Int])] = {
      val live = readTable(spark, path, p, doc)
      // the old-contribution scan releases as soon as its two
      // derivatives are materialized — with a scattered delta it is
      // corpus-width, and holding it through the staged writes starved
      // execution memory at 100x (the DupSpansStore peak-memory lesson)
      val old = pins.pin(live.filter(inBuckets(td)))
      val nextT = pins(old.leaf
        .join(rem, col("doc_id") === col("_rid"), "left_anti")
        .unionByName(add))
      val kcols = keys.map(col)
      // the touched token-bucket set (tb) rides the delta's own job
      val deltaP = pins.pin(old.leaf
        .join(rem, col("doc_id") === col("_rid"), "left_semi")
        .select(kcols :+ (-col("n")).as("_d"): _*)
        .unionByName(add.select(kcols :+ col("n").as("_d"): _*))
        .groupBy(kcols: _*).agg(sum(col("_d")).as("_d"))
        .filter(col("_d") =!= 0)
        .withColumn("_tkb", hashBucket(p.b, kcols: _*)), Seq("_tkb"))
      val delta = deltaP.leaf.drop("_tkb")
      old.release()
      val tb = deltaP.sets.head
      val cnt = if (agg == "uni") "cw" else "cab"
      val aggNextT = pins(readTable(spark, path, p, agg)
        .filter(inBuckets(tb))
        .join(delta, keys, "full")
        .select(kcols :+
          (coalesce(col(cnt), lit(0L)) + coalesce(col("_d"), lit(0L)))
            .as(cnt): _*)
        .filter(col(cnt) > 0)
        .withColumn("_b", hashBucket(p.b, kcols: _*)))
      Seq((doc, nextT, td), (agg, aggNextT, tb))
    }
    val liveB = math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "unidoc").size)
    SegSwap.commit(spark, path,
      roll("unidoc", "uni", Seq("w"), addUni) ++
        roll("bidoc", "bi", Seq("a", "b"), addBi),
      dirSwaps = batchId.toSeq.map(b => "params" -> ((dst: String) =>
        writeParams(spark, dst, p.updated("lastBatch" -> b)))),
      fence = Some(lease))
    Some(StorePolicy.advise("lmcounts", td.size, liveB))
    }
   }
   if (advice.isDefined) locally {
     val p = params(spark, path)
     if (p.str("mode") == "range")
       StorePolicy.autoRespanIfSprawled(spark, path, "unidoc", p.b,
         autoRespanFactor) { live =>
         rebucket(spark, path, p.b, "range",
           p.long("span") * ((live + p.b - 1) / p.b))
       }
   }
   advice
  }

  /** Score any corpus against the store's CURRENT model — the same
    * contract as [[Pipeline.lmScoreAgainst]] with the stored counts as
    * the train side. */
  def scoreAgainst(spark: SparkSession, path: String, score: DataFrame,
      idCol: String, textCol: String, k: Double = 0.5,
      maxNll: Double = 3.5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val p = params(spark, path)
    // readers never mutate: an uninstalled commit is resolved through
    // the journal by readTable ([[SegSwap.resolvedTable]])
    Pipeline.lmScoreFromCounts(
      readTable(spark, path, p, "uni")
        .select(col("w").as("_a"), col("cw").as("_cw")),
      readTable(spark, path, p, "bi")
        .select(col("a").as("_a"), col("b").as("_b"),
          col("cab").as("_cab")),
      score, idCol, textCol, k, maxNll)
  }

  /** Score any corpus against the model AS OF `epoch` — MODEL
    * VERSIONING on the quality filter: reproduce yesterday's keep/drop
    * decisions exactly, or A/B a delta's effect on a fixed audit set,
    * without rolling the store back. Counts AND params resolve at the
    * epoch ([[SegStore.readTableAt]] / [[SegStore.paramsAt]]);
    * readable for the retention horizon, or while a pin covers it. */
  def scoreAgainstAt(spark: SparkSession, path: String, score: DataFrame,
      idCol: String, textCol: String, epoch: Long, k: Double = 0.5,
      maxNll: Double = 3.5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val p = paramsAt(spark, path, epoch)
    Pipeline.lmScoreFromCounts(
      readTableAt(spark, path, p, "uni", epoch)
        .select(col("w").as("_a"), col("cw").as("_cw")),
      readTableAt(spark, path, p, "bi", epoch)
        .select(col("a").as("_a"), col("b").as("_b"),
          col("cab").as("_cab")),
      score, idCol, textCol, k, maxNll)
  }

  /** Journaled RE-BUCKETING of the doc-bucket layout (nBuckets /
    * hash↔range / rangeSpan) — the same lifecycle operation as
    * [[DupSpansStore.rebucket]]: without it a range-mode store's
    * contribution-bucket count grows with every shard append forever.
    * All four tables rewrite (the aggregate tables' token-hash depends
    * on `b` too) and the NEW params install atomically with the data
    * through the journal's whole-dir entry. */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int,
      bucketMode: String = "hash", rangeSpan: Long = 0L): Unit = {
    require(bucketMode == "hash" || bucketMode == "range",
      s"lmcounts: unknown bucketMode '$bucketMode'")
    require(bucketMode == "hash" || rangeSpan > 0,
      "lmcounts: range bucketing needs a positive rangeSpan")
    relayout(spark, path, Seq("b" -> nBuckets, "mode" -> bucketMode,
      "span" -> rangeSpan), p => require(bucketMode == "hash" ||
        StructType.fromDDL(s"x ${p.str("idDdl")}").head.dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"lmcounts: range bucketing needs a numeric id, store has ${p.str("idDdl")}"))
  }
}
