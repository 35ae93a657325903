package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** SEGMENTED durable form of [[DecontamState]] — benchmark
  * decontamination shingle tables on the family's journaled
  * touched-bucket layout ([[SegSwap]]), the last stop of the round-9
  * verdict's missing-#1 family sweep:
  *
  *  - `shingles(id, sh, _b)` — corpus-side w-shingles, DOC-bucketed
  *    (`pmod(xxhash64(id), B)`): the expensive tokenize+shingle
  *    derivation preserved durably, a ±doc delta rewriting only the
  *    delta ids' buckets;
  *  - `evalsh(eid, sh, _b)` — eval-side per-ITEM shingles,
  *    item-bucketed the same way (per-item rows keep eval removals
  *    exact — dropping an item cannot take out a shingle another item
  *    still contributes).
  *
  * No flip logic exists on this surface (containment is memoryless per
  * shingle), so a continuation is two independent touched-bucket
  * rewrites; the contamination probe ([[contaminatedIds]]) is the one
  * corpus-width scan — a column-pruned semi-join against the
  * broadcast-sized eval shingle set, exactly the batch operator's
  * plan. Untouched bucket files keep their exact bytes and mtimes
  * (spec-asserted).
  *
  * EXACT: after [[continueAt]], [[decontaminated]] equals
  * [[Pipeline.decontaminate]] over the post-delta inputs (gate
  * `q_incr_decontaminate_seg` under the same full-recompute oracle as
  * `q_incr_decontaminate`, plus the store-vs-in-memory twin spec).
  * Upsert contract on BOTH sides ([[IncrementalDecontam]]'s). Single
  * fenced writer; the family crash contract.
  */
object DecontamStore extends SegStore("decontam", "decontamstore") {
  import SegStore.{Params, Table, hashBucket, inBuckets}

  protected def tables(p: Params): Seq[Table] = Seq(
    Table("shingles", p.ddl("shingles"), hashBucket(p.b, col("id"))),
    Table("evalsh", p.ddl("evalsh"), hashBucket(p.b, col("eid"))))

  /** ONE shingle derivation with the in-memory twin
    * ([[IncrementalDecontam]]) and the batch operator — w-shingles of
    * the whitespace tokens. */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
      w: Int, outId: String): DataFrame =
    df.select(col(idCol).as(outId),
      explode(graft.functions.GraftFunctions
        .word_shingles(tokens(col(textCol)), w)).as("sh"))

  /** Shingle both sides once, lay them out bucket-partitioned (params
    * last — the completeness marker). */
  def init(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      w: Int = 3, nBuckets: Int = 32): Unit = {
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val sh = shingled(corpus, idCol, textCol, w, "id")
      .withColumn("_b", hashBucket(nBuckets, col("id")))
    val ev = shingled(evalSet, evalIdCol, evalTextCol, w, "eid")
      .withColumn("_b", hashBucket(nBuckets, col("eid")))
    var ddl = Map.empty[String, String]
    Seq("shingles" -> sh, "evalsh" -> ev).foreach { case (n, df) =>
      ddl += n -> df.schema.toDDL
      SegSwap.writeBuckets(df, s"$path/$n")
    }
    SegSwap.writeParamsTo(spark, s"$path/params", Seq(
      "w" -> w, "b" -> nBuckets, "idDdl" -> corpus.schema(idCol).dataType.sql,
      "evalIdDdl" -> evalSet.schema(evalIdCol).dataType.sql,
      "shinglesDdl" -> ddl("shingles"), "evalshDdl" -> ddl("evalsh")))
  }

  /** Corpus ids sharing at least one w-shingle with any eval item —
    * a column-pruned scan of the corpus shingle table against the
    * (eval-sized, broadcastable) eval shingle set. Journal-resolved,
    * never mutating; consume before the next writer commit. */
  def contaminatedIds(spark: SparkSession, path: String): DataFrame = {
    val p = params(spark, path)
    // same plan as the in-memory twin ([[IncrementalDecontam
    // .contaminatedIds]]): the planner broadcasts the eval side when
    // its size estimate allows (eval sets are benchmark-sized by the
    // operator contract)
    readTable(spark, path, p, "shingles")
      .join(readTable(spark, path, p, "evalsh").select("sh"),
        Seq("sh"), "left_semi")
      .select("id").distinct()
  }

  /** The surviving corpus: `corpus` anti-joined with the contaminated
    * set — [[Pipeline.decontaminate]]'s contract over the store. */
  def decontaminated(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String): DataFrame =
    corpus.join(contaminatedIds(spark, path).select(col("id").as("_cid")),
      corpus(idCol) === col("_cid"), "left_anti")

  /** Roll the store forward over a TWO-SIDED ±delta (corpus docs and
    * eval items; upsert contract on both — an incoming id evicts its
    * existing rows). Only the delta ids' buckets rewrite, on whichever
    * sides the delta touches. Single fenced writer; crash-safe via the
    * shared journal. */
  def continueAt(spark: SparkSession, path: String,
      addedDocs: DataFrame, removedDocIds: DataFrame,
      addedEval: DataFrame, removedEvalIds: DataFrame,
      idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String)
      : StorePolicy.ContinueAdvice = {
   val advice = SegSwap.withWriterLease(spark, path) { lease =>
    graft.functions.GraftFunctions.register(spark)
    SegSwap.recover(spark, path)
    val p = params(spark, path)
    val B = p.b
    val intern = new IncrMat.Tracker

    /** One side's touched-bucket rewrite: evict rem rows from their
      * (pruned) buckets, install the delta's fresh shingles. */
    def roll(table: String, keyCol: String, added: DataFrame,
        addedIdCol: String, addedTextCol: String, removed: DataFrame,
        what: String, pinDdl: String): Option[(String, DataFrame, Set[Int])] = {
      val addedP = SegSwap.castToPinned(added, addedIdCol, pinDdl,
        s"decontamstore continueAt $what added")
      val removedP = SegSwap.castToPinned(
        removed.select(col(removed.columns.head).as("_rid")), "_rid",
        pinDdl, s"decontamstore continueAt $what removed")
      // the touched-bucket set (td) rides the rem leaf's own job
      val (remRaw, remSets) = intern.matStats(removedP
        .unionByName(addedP.select(col(addedIdCol).as("_rid"))).distinct()
        .withColumn("_tdb", hashBucket(B, col("_rid"))), Seq("_tdb"))
      val rem = remRaw.drop("_tdb")
      val td = remSets.head
      if (td.isEmpty) None else {
        val live = readTable(spark, path, p, table)
        val nextT = intern.mat(live.filter(inBuckets(td))
          .join(rem, col(keyCol) === col("_rid"), "left_anti")
          .unionByName(
            shingled(addedP, addedIdCol, addedTextCol, p.int("w"), keyCol)
              .withColumn("_b", hashBucket(B, col(keyCol)))))
        Some((table, nextT, td))
      }
    }
    val touched =
      roll("shingles", "id", addedDocs, idCol, textCol, removedDocIds,
        "corpus", p.str("idDdl")).toSeq ++
      roll("evalsh", "eid", addedEval, evalIdCol, evalTextCol,
        removedEvalIds, "eval", p.str("evalIdDdl")).toSeq
    val liveB = math.max(1,
      SegSwap.liveBuckets(SegSwap.fsOf(spark, path), path, "shingles").size)
    if (touched.nonEmpty)
      SegSwap.commit(spark, path, touched, fence = Some(lease))
    intern.releaseAll()
    StorePolicy.advise("decontamstore",
      touched.flatMap(_._3).toSet.size, liveB)
   }
   advice
  }

  /** Journaled RE-BUCKETING ([[SegStore.relayout]]). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit =
    relayout(spark, path, Seq("b" -> nBuckets))
}
