package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** SEGMENTED durable duplicated-span state — the engineered answer to
  * the measured [[IncrementalDupSpans]] limitation (PERF_NOTES round-8
  * tail): that continuation re-materializes the corpus-width span /
  * frequency / score leaves wholesale, so its cost is
  * delta-INDEPENDENT (43.7 s at a 10% delta vs 31.4 s preserve at
  * 100×) and never beats a rebuild.
  *
  * Here every state table lives as Parquet PARTITIONED by a key-hash
  * bucket (`_b`), and a continuation REWRITES ONLY TOUCHED BUCKETS:
  *
  *  - `spans(doc_id, pos, s, _b)`, `ntoks(doc_id, n_tokens, _b)` and
  *    `out(doc_id, …, keep, _b)` are doc-bucketed
  *    (`pmod(xxhash64(doc_id), B)`) — a ±doc delta touches at most
  *    |delta| buckets of `spans`/`ntoks`, and `out` additionally the
  *    buckets of flip-affected documents;
  *  - `dfreq(s, nd, _b)` is span-bucketed (`pmod(s, B)` — `s` is
  *    already a 64-bit xxhash64 digest, [[IncrementalDupSpans.spansOf]])
  *    — only spans the delta adds or removes can change `nd`, so only
  *    their buckets rewrite.
  *
  * Untouched bucket directories are never read for the rewrite and
  * never written: their files keep their exact bytes and mtimes
  * (spec-asserted), which is what makes the continuation
  * delta-proportional — the corpus-width tables are SCANNED only where
  * semantically required (the flipped-span membership probe, a
  * column-pruned broadcast semi-join with no shuffle write), never
  * re-materialized. This is [[Similarity.updateIvfIndex]]'s
  * touched-partition discipline applied to the preserve/continue state
  * of [[graft.core.IncrementalJob]] (whose in-memory segment store
  * pioneered the bucket-set bookkeeping; reference analog: the
  * preserved MRBGraph state files of
  * `incr-hadoop-0.1/src/mapred/.../ReduceTask.java:3504-3691`, which
  * an incremental job rewrites per reduce partition, not wholesale).
  *
  * The multi-table swap is CRASH-SAFE with the same journal contract
  * as the IVF index (single concurrent writer): all touched partitions
  * are staged first, then one atomically-renamed journal records every
  * (table, bucket, staged|empty) decision, and only then are live
  * directories retired and staged ones renamed in. A crash before the
  * journal rolls back (live state untouched); after, rolls forward.
  * The swap machinery is [[SegSwap]], shared with [[LmCountsStore]].
  *
  * EXACT: after [[continueAt]] the store's `out` equals
  * [[Pipeline.dupSpanStats]] over the post-delta corpus (gate
  * `q_incr_dup_spans_seg` + spec), with the shared span-digest
  * derivation so incr ≡ batch cannot drift.
  */
object DupSpansStore extends SegStore("dupspans", "dupspans") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  /** Doc-side bucketing is PLUGGABLE because it decides which deltas
    * are cheap: `hash` scatters uniformly (bounded buckets, but a
    * scattered delta of ≥B distinct ids touches every bucket), while
    * `range` (numeric ids, width `rangeSpan`) keeps id-locality — a
    * new crawl shard's contiguous ids land in FRESH buckets, so an
    * append rewrites O(|delta|) rows no matter how big the corpus.
    * That is the ingest-partitioned layout every date/shard-partitioned
    * lakehouse table uses, expressed on the bucket axis. */
  private def docBucket(c: Column, p: Params): Column =
    if (p.str("mode") == "range")
      // exact for |id| < 2^53 (the double-division horizon); ingest
      // ids beyond that should range-bucket on a narrower key
      floor(c.cast("bigint") / lit(p.long("span"))).cast("int")
    else hashBucket(p.b, c)
  private def spanBucket(c: Column, b: Int): Column =
    pmod(c, lit(b.toLong)).cast("int")

  /** The doc-bucketed tables (`text`/`cut` only on `withCut` stores),
    * then the span-bucketed `dfreq`. Params also carry the window and
    * threshold, the id column's pinned DDL (bucket hashes are dtype-
    * sensitive — see [[SegSwap.castToPinned]]) and each table's exact
    * DDL (explicit-schema reads keep a fully-drained table readable
    * and the partition column's type pinned — the
    * [[Similarity.probeIvfIndex]] lesson). */
  protected def tables(p: Params): Seq[Table] =
    (Seq("spans", "ntoks", "out") ++
      (if (p.bool("withCut")) Seq("text", "cut") else Nil))
      .map(t => Table(t, p.ddl(t), docBucket(col("doc_id"), p))) :+
      Table("dfreq", p.ddl("dfreq"), spanBucket(col("s"), p.b))

  /** Batch pass: derive spans / token counts / span frequencies /
    * scores once ([[Pipeline.dupSpanStats]] semantics) and lay them
    * out as bucket-partitioned Parquet. `nBuckets` trades rewrite
    * granularity against file count — at 100 TB one bucket should hold
    * O(executor-task) bytes, so thousands; the default suits the test
    * scales. */
  def init(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, w: Int = 8, maxFrac: Double = 0.5,
      nBuckets: Int = 64, bucketMode: String = "hash",
      rangeSpan: Long = 0L, withCut: Boolean = false): Unit = {
    require(bucketMode == "hash" || bucketMode == "range",
      s"dupspans: unknown bucketMode '$bucketMode'")
    require(bucketMode == "hash" || rangeSpan > 0,
      "dupspans: range bucketing needs a positive rangeSpan")
    require(bucketMode == "hash" || docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"dupspans: range bucketing needs a numeric id column, " +
        s"got ${docs.schema(idCol).dataType.sql} — a non-numeric id " +
        "would cast to NULL and land every row in the default partition")
    graft.functions.GraftFunctions.register(spark)
    // params (the completeness marker) go FIRST when re-initing over an
    // existing path: a crash mid-init must read as incomplete, never as
    // old params over half-overwritten tables
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val p0 = newParams(path, Seq("w" -> w, "maxFrac" -> maxFrac,
      "b" -> nBuckets, "mode" -> bucketMode, "span" -> rangeSpan,
      "idDdl" -> docs.schema(idCol).dataType.sql, "withCut" -> withCut))
    val intern = new IncrMat.Tracker
    val spans = intern.mat(
      IncrementalDupSpans.spansOf(docs, idCol, textCol, w)
        .withColumn("_b", docBucket(col("doc_id"), p0)))
    val ntoks = intern.mat(
      IncrementalDupSpans.ntoksOf(docs, idCol, textCol)
        .withColumn("_b", docBucket(col("doc_id"), p0)))
    val dfreq = intern.mat(spans.select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("nd"))
      .withColumn("_b", spanBucket(col("s"), nBuckets)))
    val dup = dfreq.filter(col("nd") >= 2).select("s")
    val out = IncrementalDupSpans.scoreFor(
        spans.drop("_b"), ntoks.drop("_b"), dup, w, maxFrac)
      .withColumn("_b", docBucket(col("doc_id"), p0))
    // cut maintenance (withCut): the store additionally keeps the raw
    // text (re-cutting a flip-affected doc needs its tokens, not just
    // its spans) and the cut output, both doc-bucketed
    val textT = docs.select(col(idCol).as("doc_id"),
        col(textCol).as("text"))
      .withColumn("_b", docBucket(col("doc_id"), p0))
    val cutT = if (!withCut) None else Some(
      IncrementalDupSpans.cutFor(textT.drop("_b"), spans.drop("_b"),
        dup, w).withColumn("_b", docBucket(col("doc_id"), p0)))
    // repartition on the bucket key first: without it every shuffle
    // task opens a writer per bucket it sees (tasks × buckets small
    // files); with it each bucket is one task's contiguous write —
    // the file-count hygiene a 100 TB store needs, and measurably
    // cheaper swaps at test scale
    val tables = Seq("spans" -> spans, "ntoks" -> ntoks,
        "dfreq" -> dfreq, "out" -> out) ++
      (if (withCut) Seq("text" -> textT, "cut" -> cutT.get) else Nil)
    // every table derives from materialized leaves (or the source) —
    // independent writes to distinct dirs, overlapped (§2.6)
    graft.util.Par.foreach(tables.map { case (n, df) =>
      SegSwap.stageBuckets(df, s"$path/$n")
    })
    // params last: their presence marks a complete init
    val ddl = tables.map { case (n, df) => n -> df.schema.toDDL }.toMap
    SegSwap.writeParamsTo(spark, s"$path/params", p0.fields ++
      Seq("spans", "ntoks", "dfreq", "out", "text", "cut").map(n =>
        s"${n}Ddl" -> ddl.getOrElse(n, "")) :+ ("lastBatch" -> -1L))
    intern.releaseAll()
  }

  /** The post-delta scores (`doc_id, n_tokens, n_covered, dup_frac,
    * keep` — [[Pipeline.dupSpanStats]]'s contract). */
  def scores(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    // readers never mutate: an uninstalled commit is resolved through
    // the journal by readTable ([[SegSwap.resolvedTable]])
    readTable(spark, path, p, "out").drop("_b")
  }

  /** Scores for a specific id set, reading ONLY those ids' buckets —
    * the doc-axis analog of [[Similarity.probeIvfIndex]]'s pruned
    * probe: the bucket literals are derived from the ids driver-side
    * (O(ids) work), so parquet partition pruning skips every other
    * bucket's files (spec-asserted via the scanned file set). */
  def scoresFor(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    val p = params(spark, path)
    val idsD = SegSwap.castToPinned(
      ids.select(col(ids.columns.head).as("doc_id")),
      "doc_id", p.str("idDdl"), "scoresFor")
    val bs = idsD.select(docBucket(col("doc_id"), p).as("_b"))
      .distinct().collect().map(_.getInt(0)).toSet
    readTable(spark, path, p, "out").filter(inBuckets(bs))
      .join(idsD, Seq("doc_id"), "left_semi").drop("_b")
  }

  /** Time-travel read: the scores table AS OF `epoch` — the
    * [[graft.core.SegmentedStateStore.snapshotAt]] twin on this store
    * (same [[SegSwap.snapshotTable]] resolution from retired + live
    * buckets, same retention horizon and loud past-horizon failure). */
  def scoresAt(spark: SparkSession, path: String, epoch: Long): DataFrame = {
    // params AS OF the same epoch (not live) — the family's end-to-end
    // as-of contract: data and the metadata that decodes it resolve
    // from the same commit (symmetry with cutsAt / TfidfStore.tfidfAt)
    val p = paramsAt(spark, path, epoch)
    readTableAt(spark, path, p, "out", epoch).drop("_b")
  }

  /** The post-delta ExactSubstr CUT output (`doc_id, clean, n_kept,
    * n_removed` — [[Pipeline.cutDupSpans]]'s contract). Only on stores
    * initialized `withCut = true`. */
  def cuts(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    require(p.bool("withCut"),
      s"dupspans: store at $path was initialized without cut maintenance")
    readTable(spark, path, p, "cut").drop("_b")
  }

  /** The cut output AS OF `epoch` ([[SegSwap.snapshotTable]] —
    * readable for the retention horizon, or while a pin covers it):
    * the exact training text a PAST corpus state shipped, without
    * rolling the store back. Only on stores initialized
    * `withCut = true` at that epoch. */
  def cutsAt(spark: SparkSession, path: String, epoch: Long): DataFrame = {
    val p = paramsAt(spark, path, epoch)
    require(p.bool("withCut"),
      s"dupspans: store at $path had no cut maintenance at epoch $epoch")
    readTableAt(spark, path, p, "cut", epoch).drop("_b")
  }

  /** Roll the store forward over a ±document delta (upsert contract:
    * an incoming id evicts its existing rows), rewriting only touched
    * buckets. Single concurrent writer — enforced by the epoch-fenced
    * writer lease ([[SegSwap.withWriterLease]]); crash-safe (see class
    * doc). IDEMPOTENT under replay: the state is a pure function of
    * the corpus and the upsert replaces rather than accumulates, so a
    * stream maintainer re-delivering a micro-batch re-pays compute but
    * lands on the identical state — no batch-id fence is needed here,
    * unlike the history-dependent rank loop
    * ([[graft.streaming.StreamMaintain]]).
    *
    * LIFECYCLE POLICY ([[StorePolicy]]): returns the continue-vs-
    * rebuild advice (touched-bucket fraction against the measured
    * crossover); on RANGE-mode stores, auto-respans — outside the
    * continuation's lease; the rebucket takes its own — once shard
    * appends sprawl the live bucket-dir count past `autoRespanFactor ×`
    * the provisioned budget (0 disables). Hash-mode stores have a
    * fixed bucket set and self-compacting swaps (every touched dir is
    * replaced with one fresh file), so nothing auto-triggers there. */
  def continueAt(spark: SparkSession, path: String, addedDocs0: DataFrame,
      removedIds0: DataFrame, idCol: String, textCol: String,
      autoRespanFactor: Int = 4): StorePolicy.ContinueAdvice =
    continueImpl(spark, path, addedDocs0, removedIds0, idCol, textCol,
      autoRespanFactor, batchId = None).get

  /** [[continueAt]] fenced by a stream micro-batch id. The fence is a
    * COST optimization here, not a correctness requirement — this
    * continuation is replay-idempotent by the upsert contract (the
    * class doc's note stands) — but with it a checkpoint-replayed
    * micro-batch costs a params read instead of a full affected-set
    * recompute, and the maintainer surface stays uniform across the
    * family. Recorded atomically with the swap; reverted with the rows
    * by [[rollbackTo]]. */
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
    else {
    val B = p.b
    val intern = new IncrMat.Tracker

    // the delta's id dtype is pinned to the init corpus's before any
    // bucket hash ([[SegSwap.castToPinned]] — int vs long ids would
    // otherwise bucket differently and strand stale rows)
    val addedDocs = SegSwap.castToPinned(addedDocs0, idCol, p.str("idDdl"),
      "continueAt addedDocs")
    val removedIds = SegSwap.castToPinned(removedIds0,
      removedIds0.columns.head, p.str("idDdl"), "continueAt removedIds")

    // replace semantics: an incoming id evicts its existing rows; the
    // touched-bucket set (td) rides the same materialization job
    val (remRaw, remSets) = intern.matStats(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid"))).distinct()
      .withColumn("_tdb", docBucket(col("_rid"), p)), Seq("_tdb"))
    val rem = remRaw.drop("_tdb")
    val addSpans = intern.mat(
      IncrementalDupSpans.spansOf(addedDocs, idCol, textCol, p.int("w"))
        .withColumn("_b", docBucket(col("doc_id"), p)))
    val addNtoks = intern.mat(
      IncrementalDupSpans.ntoksOf(addedDocs, idCol, textCol)
        .withColumn("_b", docBucket(col("doc_id"), p)))

    // ---- doc-bucketed rewrites: spans + ntoks -------------------------
    // touched doc buckets — O(delta) driver ints, fused above
    val td = remSets.head
    val spansLive = readTable(spark, path, p, "spans")
    val ntoksLive = readTable(spark, path, p, "ntoks")
    // the OLD touched rows feed both the rewrite and the frequency
    // delta; one pruned scan, materialized before its files are
    // retired. Released EARLY (not at end-of-call): at 1000x corpus
    // the sum of all live leaves OOM'd a 48 GiB heap — peak leaf
    // memory must track the pipeline stage, not the whole call
    val (spansOldT, relSpansOld) = IncrMat.matWithHandle(
      spansLive.filter(inBuckets(td)))
    val spansNextT = intern.mat(spansOldT
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(addSpans))
    val ntoksNextT = intern.mat(ntoksLive.filter(inBuckets(td))
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(addNtoks))

    // ---- span-bucketed rewrite: dfreq ---------------------------------
    // only delta-touched spans can change nd (departing −1, arriving +1)
    val depart = spansOldT
      .join(rem, col("doc_id") === col("_rid"), "left_semi")
      .select("doc_id", "s").distinct()
      .groupBy("s").agg((-count(lit(1))).as("_d"))
    val arrive = addSpans.select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("_d"))
    // the touched span-bucket set (ts) rides the delta's own
    // materialization job
    val (deltaRaw, deltaSets) = intern.matStats(depart.unionByName(arrive)
      .groupBy("s").agg(sum(col("_d")).as("_d"))
      .filter(col("_d") =!= 0)
      .withColumn("_tsb", spanBucket(col("s"), B)), Seq("_tsb"))
    val delta = deltaRaw.drop("_tsb")
    relSpansOld() // everything derived from the old rows is materialized
    val ts = deltaSets.head
    val dfreqLive = readTable(spark, path, p, "dfreq")
    // merged materialized ONCE: the rewrite and the flip set both
    // derive from it (the IncrementalDupSpans lesson), and it reads
    // only the touched dfreq buckets. It is the WIDEST leaf of the
    // continuation (all touched spans' frequencies), so its
    // derivatives materialize immediately and it releases here — not
    // at end-of-call (the 1000x peak-memory lesson above)
    val (merged, relMerged) = IncrMat.matWithHandle(
      dfreqLive.filter(inBuckets(ts))
        .join(delta, Seq("s"), "full")
        .select(col("s"),
          coalesce(col("nd"), lit(0L)).as("_nd1"),
          (coalesce(col("nd"), lit(0L)) + coalesce(col("_d"), lit(0L)))
            .as("_nd2")))
    val dfreqNextT = intern.mat(merged.filter(col("_nd2") > 0)
      .select(col("s"), col("_nd2").as("nd"),
        spanBucket(col("s"), B).as("_b")))
    // duplicated status flipped — only delta-touched spans can
    // (elsewhere nd1 == nd2); delta-bounded, so broadcast below
    val flipped = intern.mat(merged
      .filter((col("_nd1") >= 2) =!= (col("_nd2") >= 2)).select("s"))
    relMerged()

    // ---- affected documents + re-score --------------------------------
    // membership probe over the post-delta span table: untouched
    // buckets are READ (column-pruned, map-side broadcast semi-join —
    // no shuffle write), touched buckets come from the staged leaf.
    // When nothing flipped (pure upserts of original text), the probe
    // is skipped outright — the flip set is a cached leaf, so the
    // emptiness check is free, and the corpus-width scan with it
    val spansPost = spansLive.filter(!inBuckets(td)).unionByName(spansNextT)
    val addedIds = addedDocs.select(col(idCol).as("doc_id"))
    // guarded broadcast (the IncrementalJob frontier pattern): the
    // flip set is usually delta-small, but a delta that duplicates or
    // un-duplicates a large slice of the corpus can flip millions of
    // spans — forcing those into every task's heap is its own OOM, so
    // past the guard the planner gets a plain key-partitioned semi-join
    val flippedN = flipped.count() // cached leaf — a cheap local scan
    val flipProbe = if (flippedN <= 4000000L) broadcast(flipped) else flipped
    // the affected ids' bucket set (ab) rides the same job
    val (affRaw, affSets) = intern.matStats(
      (if (flippedN == 0L) addedIds.distinct()
       else spansPost
        .join(flipProbe, Seq("s"), "left_semi")
        .select("doc_id").distinct()
        .unionByName(addedIds).distinct())
      .withColumn("_ab", docBucket(col("doc_id"), p)), Seq("_ab"))
    val affected = affRaw.drop("_ab")
    val ab = affSets.head
    val ntoksPost = ntoksLive.filter(!inBuckets(td)).unionByName(ntoksNextT)
    val dupPost = dfreqLive.filter(!inBuckets(ts) && col("nd") >= 2)
      .select("s")
      .unionByName(dfreqNextT.filter(col("nd") >= 2).select("s"))
    val rescored = IncrementalDupSpans.scoreFor(
      spansPost.filter(inBuckets(ab))
        .join(affected, Seq("doc_id"), "left_semi").drop("_b"),
      ntoksPost.filter(inBuckets(ab))
        .join(affected, Seq("doc_id"), "left_semi").drop("_b"),
      dupPost, p.int("w"), p.double("maxFrac"))
    // out rewrites the buckets holding affected ∪ removed docs
    val ao = ab ++ td
    val evict = affected
      .unionByName(rem.select(col("_rid").as("doc_id"))).distinct()
    val outNextT = intern.mat(readTable(spark, path, p, "out")
      .filter(inBuckets(ao))
      .join(evict, Seq("doc_id"), "left_anti")
      .unionByName(rescored.withColumn("_b",
        docBucket(col("doc_id"), p))))

    // ---- cut maintenance (withCut stores) ------------------------------
    // re-CUT exactly the affected documents against the post-delta dup
    // set (the [[IncrementalDupSpans.cutFor]] core shared with the
    // batch operator): their text comes from the store's text table —
    // a pruned read of the affected buckets — merged with the delta's
    val cutTables = if (!p.bool("withCut")) Nil else {
      val textLive = readTable(spark, path, p, "text")
      val addText = addedDocs.select(col(idCol).as("doc_id"),
          col(textCol).as("text"))
        .withColumn("_b", docBucket(col("doc_id"), p))
      val textNextT = intern.mat(textLive.filter(inBuckets(td))
        .join(rem, col("doc_id") === col("_rid"), "left_anti")
        .unionByName(addText))
      val textPost = textLive.filter(!inBuckets(td)).unionByName(textNextT)
      val recut = IncrementalDupSpans.cutFor(
        textPost.filter(inBuckets(ab))
          .join(affected, Seq("doc_id"), "left_semi").drop("_b"),
        spansPost.filter(inBuckets(ab))
          .join(affected, Seq("doc_id"), "left_semi").drop("_b"),
        dupPost, p.int("w"))
      val cutNextT = intern.mat(readTable(spark, path, p, "cut")
        .filter(inBuckets(ao))
        .join(evict, Seq("doc_id"), "left_anti")
        .unionByName(recut.withColumn("_b",
          docBucket(col("doc_id"), p))))
      Seq(("text", textNextT, td), ("cut", cutNextT, ao))
    }

    // ---- stage, journal, swap ([[SegSwap]]) ---------------------------
    // advice denominator: the store's LIVE doc-bucket footprint
    // (meaningful in both hash and range modes), taken before the swap
    val liveDocBuckets = math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "out").size)
    SegSwap.commit(spark, path, Seq(
      ("spans", spansNextT, td), ("ntoks", ntoksNextT, td),
      ("dfreq", dfreqNextT, ts), ("out", outNextT, ao)) ++ cutTables,
      dirSwaps = batchId.toSeq.map(b => "params" -> ((dst: String) =>
        writeParams(spark, dst, p.updated("lastBatch" -> b)))),
      fence = Some(lease))
    intern.releaseAll()
    Some(StorePolicy.advise("dupspans", (td ++ ao).size, liveDocBuckets))
    }
   }
   if (advice.isDefined) locally {
     val p = params(spark, path)
     if (p.str("mode") == "range")
       StorePolicy.autoRespanIfSprawled(spark, path, "out", p.b,
         autoRespanFactor) { live =>
         // scale the span so the live dirs collapse back to ~b
         rebucket(spark, path, p.b, "range",
           p.long("span") * ((live + p.b - 1) / p.b))
       }
   }
   advice
  }

  /** Journaled RE-BUCKETING — the segmented-store lifecycle operation:
    * migrate the doc-bucket layout (nBuckets / hash↔range / rangeSpan)
    * in ONE crash-safe swap. Content-invariant: every table's rows are
    * re-hashed into the new layout, old bucket dirs outside it are
    * journaled "empty" (deleted on roll-forward), and the NEW params
    * install atomically with the data through a `dir` journal line —
    * a crash can never leave readers deriving buckets with the wrong
    * B. This is how an operator bounds range-mode bucket growth (a
    * year of shard appends → re-span), fixes an under-provisioned
    * nBuckets, or flips an append-shaped store to hash once its ids
    * stop being contiguous. */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int,
      bucketMode: String = "hash", rangeSpan: Long = 0L): Unit = {
    require(bucketMode == "hash" || bucketMode == "range",
      s"dupspans: unknown bucketMode '$bucketMode'")
    require(bucketMode == "hash" || rangeSpan > 0,
      "dupspans: range bucketing needs a positive rangeSpan")
    relayout(spark, path, Seq("b" -> nBuckets, "mode" -> bucketMode,
      "span" -> rangeSpan), p => require(bucketMode == "hash" ||
        StructType.fromDDL(s"x ${p.str("idDdl")}").head.dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"dupspans: range bucketing needs a numeric id, store has ${p.str("idDdl")}"))
  }
}
