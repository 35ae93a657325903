package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** SEGMENTED durable form of [[LineDedupState]] — boilerplate line
  * dedup on the family's journaled touched-bucket layout ([[SegSwap]]),
  * completing the round-9 verdict's missing-#1 family sweep:
  *
  *  - `lines(doc_id, pos, line, _b)` — the exploded line table,
  *    DOC-bucketed: a ±doc delta rewrites only the delta ids' buckets,
  *    and departing rows (the df decrement) come from a pruned scan of
  *    exactly those buckets;
  *  - `dfreq(line, nd, _b)` — per-line document frequencies,
  *    LINE-bucketed: only delta-touched lines can change nd, so only
  *    their buckets rewrite;
  *  - `out(doc_id, clean, n_kept, n_removed, _b)` — the cleaned
  *    output, doc-bucketed: rewrites the buckets of flip-affected
  *    documents plus the delta's own.
  *
  * The FLIP subtlety is [[IncrementalLineDedup]]'s: a delta can push a
  * line's document frequency across `maxDocs` in either direction,
  * changing the cleaned text of UNTOUCHED documents containing it.
  * The flip membership probe is the one corpus-width scan (column-
  * pruned, guarded-broadcast semi-join — the [[DupSpansStore]]
  * pattern), skipped outright when nothing flipped; recleaning runs
  * the shared [[IncrementalLineDedup.cleanFor]] core over exactly the
  * affected documents. Untouched bucket files keep their exact bytes
  * and mtimes (spec-asserted).
  *
  * EXACT: after [[continueAt]], [[cleaned]] equals
  * [[Pipeline.dedupLines]] over the post-delta corpus (gate
  * `q_incr_line_dedup_seg` under the same full-recompute oracle as
  * `q_incr_line_dedup`, plus the store-vs-in-memory twin spec).
  * Single fenced writer; the family crash contract.
  */
object LineDedupStore extends SegStore("linededup", "linededup") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  protected def tables(p: Params): Seq[Table] = Seq(
    Table("lines", p.ddl("lines"), hashBucket(p.b, col("doc_id"))),
    Table("dfreq", p.ddl("dfreq"), hashBucket(p.b, col("line"))),
    Table("out", p.ddl("out"), hashBucket(p.b, col("doc_id"))))

  /** Explode + count + clean once ([[Pipeline.dedupLines]] semantics
    * via the shared cores), lay all three tables out bucket-
    * partitioned (params last — the completeness marker). */
  def init(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, maxDocs: Long, sep: String = "\n",
      nBuckets: Int = 32): Unit = Pins.scope { pins =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val lines = pins(
      IncrementalLineDedup.linesOf(docs, idCol, textCol, sep)
        .withColumn("_b", hashBucket(nBuckets, col("doc_id"))))
    val dfreq = pins(lines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("nd"))
      .withColumn("_b", hashBucket(nBuckets, col("line"))))
    val out = IncrementalLineDedup.cleanFor(lines.drop("_b"),
        dfreq.drop("_b"), maxDocs, sep)
      .withColumn("_b", hashBucket(nBuckets, col("doc_id")))
    var ddl = Map.empty[String, String]
    Seq("lines" -> lines, "dfreq" -> dfreq, "out" -> out).foreach {
      case (n, df) =>
        ddl += n -> df.schema.toDDL
        SegSwap.writeBuckets(df, s"$path/$n")
    }
    SegSwap.writeParamsTo(spark, s"$path/params", Seq(
      "maxDocs" -> maxDocs, "sep" -> sep, "b" -> nBuckets,
      "idDdl" -> docs.schema(idCol).dataType.sql,
      "linesDdl" -> ddl("lines"), "dfreqDdl" -> ddl("dfreq"),
      "outDdl" -> ddl("out")))
  }

  /** The post-delta cleaned output (`doc_id, clean, n_kept, n_removed`
    * — [[Pipeline.dedupLines]]'s contract). Journal-resolved, never
    * mutating; consume before the next writer commit. */
  def cleaned(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    readTable(spark, path, p, "out").drop("_b")
  }

  /** Roll the store forward over a ±document delta (upsert contract:
    * an incoming id evicts its existing rows —
    * [[IncrementalLineDedup.continueLines]]'s semantics verbatim).
    * Single fenced writer; crash-safe via the shared journal. */
  def continueAt(spark: SparkSession, path: String, addedDocs0: DataFrame,
      removedIds0: DataFrame, idCol: String, textCol: String)
      : StorePolicy.ContinueAdvice = {
   val advice = SegSwap.withWriterLease(spark, path)(lease => Pins.scope { pins =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    val B = p.b
    val addedDocs = SegSwap.castToPinned(addedDocs0, idCol, p.str("idDdl"),
      "linededup continueAt addedDocs")
    val removedIds = SegSwap.castToPinned(removedIds0,
      removedIds0.columns.head, p.str("idDdl"), "linededup continueAt removedIds")
    // replace semantics: an incoming id evicts its existing rows; the
    // touched-bucket set (td) rides the same materialization job
    val remP = pins.pin(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid"))).distinct()
      .withColumn("_tdb", hashBucket(B, col("_rid"))), Seq("_tdb"))
    val rem = remP.leaf.drop("_tdb")
    val addLines = pins(
      IncrementalLineDedup.linesOf(addedDocs, idCol, textCol, p.str("sep"))
        .withColumn("_b", hashBucket(B, col("doc_id"))))

    // ---- doc-bucketed rewrite: lines ----------------------------------
    val td = remP.sets.head
    val linesLive = readTable(spark, path, p, "lines")
    // ONE pruned scan feeds the rewrite and the df decrement; released
    // as soon as both derivatives are materialized (the family's
    // peak-leaf-memory rule)
    val linesOld = pins.pin(
      linesLive.filter(inBuckets(td)))
    val linesNextT = pins(linesOld.leaf
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(addLines))

    // ---- line-bucketed rewrite: dfreq ---------------------------------
    val depart = linesOld.leaf
      .join(rem, col("doc_id") === col("_rid"), "left_semi")
      .select("doc_id", "line").distinct()
      .groupBy("line").agg((-count(lit(1))).as("_d"))
    val arrive = addLines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("_d"))
    // the touched line-bucket set (ts) rides the delta's own job
    val deltaP = pins.pin(depart.unionByName(arrive)
      .groupBy("line").agg(sum(col("_d")).as("_d"))
      .filter(col("_d") =!= 0)
      .withColumn("_tlb", hashBucket(B, col("line"))), Seq("_tlb"))
    val delta = deltaP.leaf.drop("_tlb")
    linesOld.release()
    val ts = deltaP.sets.head
    val dfreqLive = readTable(spark, path, p, "dfreq")
    // merged materialized ONCE (rewrite + flip set both derive from
    // it), reading only the touched dfreq buckets
    val merged = pins.pin(
      dfreqLive.filter(inBuckets(ts))
        .join(delta, Seq("line"), "full")
        .select(col("line"),
          coalesce(col("nd"), lit(0L)).as("_nd1"),
          (coalesce(col("nd"), lit(0L)) + coalesce(col("_d"), lit(0L)))
            .as("_nd2")))
    val dfreqNextT = pins(merged.leaf.filter(col("_nd2") > 0)
      .select(col("line"), col("_nd2").as("nd"),
        hashBucket(B, col("line")).as("_b")))
    // boilerplate status flipped — only delta-touched lines can
    // (elsewhere nd1 == nd2); delta-bounded
    val flipped = pins(merged.leaf
      .filter((col("_nd1") > p.long("maxDocs")) =!= (col("_nd2") > p.long("maxDocs")))
      .select("line"))
    merged.release()

    // ---- affected documents + reclean ---------------------------------
    // flip membership probe over the post-delta line table: skipped
    // when nothing flipped; guarded broadcast otherwise (a delta that
    // flips a corpus-wide boilerplate line flips millions of rows)
    val linesPost = linesLive.filter(!inBuckets(td)).unionByName(linesNextT)
    val addedIds = addedDocs.select(col(idCol).as("doc_id"))
    val flippedN = flipped.count() // cached leaf — cheap local scan
    val flipProbe = if (flippedN <= 4000000L) broadcast(flipped) else flipped
    // the affected ids' bucket set (ab) rides the same job
    val affP = pins.pin(
      (if (flippedN == 0L) addedIds.distinct()
       else linesPost
        .join(flipProbe, Seq("line"), "left_semi")
        .select("doc_id").distinct()
        .unionByName(addedIds).distinct())
      .withColumn("_ab", hashBucket(B, col("doc_id"))), Seq("_ab"))
    val affected = affP.leaf.drop("_ab")
    val ab = affP.sets.head
    val dfreqPost = dfreqLive.filter(!inBuckets(ts)).drop("_b")
      .unionByName(dfreqNextT.drop("_b"))
    val recleaned = IncrementalLineDedup.cleanFor(
      linesPost.filter(inBuckets(ab))
        .join(affected, Seq("doc_id"), "left_semi").drop("_b"),
      dfreqPost, p.long("maxDocs"), p.str("sep"))
    val ao = ab ++ td
    val evict = affected
      .unionByName(rem.select(col("_rid").as("doc_id"))).distinct()
    val outNextT = pins(readTable(spark, path, p, "out")
      .filter(inBuckets(ao))
      .join(evict, Seq("doc_id"), "left_anti")
      .unionByName(recleaned.withColumn("_b",
        hashBucket(B, col("doc_id")))))

    val liveB = math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "out").size)
    SegSwap.commit(spark, path, Seq(
      ("lines", linesNextT, td), ("dfreq", dfreqNextT, ts),
      ("out", outNextT, ao)), fence = Some(lease))
    StorePolicy.advise("linededup", ao.size, liveB)
   })
   advice
  }

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))
}
