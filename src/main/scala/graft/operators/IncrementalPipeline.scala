package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.storage.StorageLevel

import graft.core.Pins
import graft.functions.TextFunctions.tokens

/** Preserved state of a composed corpus clean
  * ([[Pipeline.cleanCorpusByComponents]] semantics: quality floor →
  * language filter → exact dedup (lowest id per identical text) →
  * component-transitive near-dup drop):
  *
  *  - `groups(g1, g2, glen, id)` — the exact-dedup contribution bag:
  *    one row per KEPT doc, keyed by the dual-salted content
  *    fingerprint (+ length) the scale-safe exact dedup groups by
  *    ([[Dedup.exact]]'s fingerprint, 128+ bits — birthday-safe at
  *    10⁹⁺ docs). The MRBGraph kvs of the dedup layer: re-reducing a
  *    group is `min(id)` over its bag.
  *  - `survivors(id)` — current exact-dedup representatives (the
  *    dedup layer's out table).
  *  - `dedup` — the near-dup layer's [[DedupClusterState]] (band table
  *    + component labels) over the SURVIVOR docs.
  *
  * The cleaning parameters (`minQuality`, `lang`; the pairing params
  * live in the nested dedup state) are PART OF the state: preserved
  * survivors are only valid under the filter they were computed with,
  * so continuations run under the preserve-time parameters and they
  * survive `write`/`read`.
  *
  * `release()` frees all backing caches (three catalog-visible persists
  * plus the nested state's).
  */
final case class CleanState(groups: DataFrame, survivors: DataFrame,
    dedup: DedupClusterState, minQuality: Double, lang: String,
    release: () => Unit = () => ()) {
  /** Materialize the full pipeline state as Parquet (F27 durable
    * chaining), nested dedup state and parameters included. */
  def write(path: String): Unit = {
    groups.write.mode("overwrite").parquet(s"$path/groups")
    survivors.write.mode("overwrite").parquet(s"$path/survivors")
    dedup.write(s"$path/dedup")
    groups.sparkSession.createDataFrame(Seq((minQuality, lang)))
      .toDF("minQuality", "lang")
      .write.mode("overwrite").parquet(s"$path/params")
  }
}

object CleanState {
  def read(spark: org.apache.spark.sql.SparkSession, path: String): CleanState = {
    val p = spark.read.parquet(s"$path/params").collect()(0)
    CleanState(
      spark.read.parquet(s"$path/groups"),
      spark.read.parquet(s"$path/survivors"),
      DedupClusterState.read(spark, s"$path/dedup"),
      p.getDouble(0), p.getString(1))
  }
}

/** Preserved corpus TF-IDF state ([[IncrementalTfidf]]):
  * `tf(doc_id, token, tf)` — the per-doc contribution bag (corpus-sized,
  * columnar); `dfreq(token, df)` — vocabulary-sized document
  * frequencies; `n` — total corpus document count (empty docs included,
  * matching [[Pipeline.tfidf]]'s N). */
final case class TfidfState(tf: DataFrame, dfreq: DataFrame, n: Long,
    release: () => Unit = () => ()) {
  def write(path: String): Unit = {
    tf.write.mode("overwrite").parquet(s"$path/tf")
    dfreq.write.mode("overwrite").parquet(s"$path/dfreq")
    tf.sparkSession.createDataFrame(Seq(Tuple1(n))).toDF("n")
      .write.mode("overwrite").parquet(s"$path/n")
  }
}

object TfidfState {
  def read(spark: org.apache.spark.sql.SparkSession, path: String): TfidfState =
    TfidfState(
      spark.read.parquet(s"$path/tf"),
      spark.read.parquet(s"$path/dfreq"),
      spark.read.parquet(s"$path/n").collect()(0).getLong(0))
}

/** Incremental corpus TF-IDF maintenance — corpus statistics continued
  * over a ±document delta instead of recomputed (the F28-F31 shape on
  * the statistics surface): the tf bag merges like kvs (drop removed
  * docs' rows, add fresh ones), document frequencies are re-reduced
  * ONLY for tokens the delta touched (vocabulary-keyed merge of ±
  * counts), and N adjusts by the delta's cardinality. The output weight
  * `tf · ln(N/df)` is recomputed lazily from the merged state, so it is
  * bit-identical to a full [[Pipeline.tfidf]] over the post-delta
  * corpus (gate- and spec-enforced).
  *
  * Scale shape: the only corpus-width object is the tf state table
  * (cached/persisted columnar rows, merged by anti-join + union — rows
  * move only for the delta); df merging touches O(|delta vocabulary|)
  * rows; nothing is driver-side except N.
  */
object IncrementalTfidf {

  /** ONE per-doc term-frequency derivation for the in-memory twin and
    * [[TfidfStore]] — the incr ≡ batch oracle depends on no drift. */
  private[operators] def tfOf(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  def preserveTfidf(df: DataFrame, idCol: String, textCol: String): TfidfState = {
    val tf = tfOf(df, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    tf.count()
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    dfreq.count()
    TfidfState(tf, dfreq, df.count(), () => {
      tf.unpersist(blocking = false)
      dfreq.unpersist(blocking = false)
    })
  }

  /** Continue over a delta; returns the chainable next state.
    * `removedIds` must be ids present in the current corpus; added ids
    * must be fresh. */
  def continueTfidf(state: TfidfState, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String, textCol: String): TfidfState =
      Pins.scope { pins =>
    val removed = removedIds.select(col(removedIds.columns.head).as("_rid"))
    val tfAdded = pins(tfOf(addedDocs, idCol, textCol))
    val tfRemoved = state.tf
      .join(removed, col("doc_id") === col("_rid"), "left_semi")
    val tfNext = GraftSqlShim.pin(state.tf
      .join(removed, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(tfAdded))

    // df merge for touched tokens only: +1 per added doc containing the
    // token, −1 per removed doc that did; untouched vocabulary rows
    // pass through, tokens whose df hits 0 leave the table. dfSub and
    // touched are materialized (delta-vocabulary-sized): each feeds two
    // downstream subplans, and dfSub's corpus-width tf-state semi-join
    // must run once, not per reference.
    val dfAdd = tfAdded.groupBy("token").agg(count(lit(1)).as("_plus"))
    val dfSub = pins(tfRemoved.groupBy("token").agg(count(lit(1)).as("_minus")))
    val touched = pins(
      dfAdd.select("token").unionByName(dfSub.select("token")).distinct())
    val mergedTouched = touched
      .join(state.dfreq, Seq("token"), "left")
      .join(dfAdd, Seq("token"), "left")
      .join(dfSub, Seq("token"), "left")
      .select(col("token"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("_plus"), lit(0L))
          - coalesce(col("_minus"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val dfNext = GraftSqlShim.pin(state.dfreq
      .join(touched, Seq("token"), "left_anti")
      .unionByName(mergedTouched))

    // distinct: a duplicated id in removedIds must not decrement N twice
    // (the semi/anti joins above are duplicate-immune; the count is not)
    val nNext = state.n + addedDocs.count() - removed.distinct().count()
    TfidfState(tfNext.leaf, dfNext.leaf, nNext,
      () => { tfNext.release(); dfNext.release() })
  }

  /** The TF-IDF rows the state represents — same columns and arithmetic
    * as [[Pipeline.tfidf]] over the corpus the state tracks. */
  def tfidfOf(state: TfidfState): DataFrame =
    state.tf.join(state.dfreq, "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf") * log(lit(state.n.toDouble) / col("df"))).as("tfidf"))
}

/** Incremental maintenance of a CLEANED corpus over a ±document delta —
  * the reference's chained-incremental mode: stage N's preserved state
  * continues over the delta, and the CHANGE IN ITS OUTPUT becomes stage
  * N+1's input delta (the reference chains incremental jobs the same
  * way its batch pipelines chain full jobs, `ReduceTask.java:3504-3691`
  * re-entered per pass).
  *
  * Stages and their deltas:
  *   1. quality/language filter — per-row, applies to the delta alone;
  *   2. exact dedup — re-reduce ONLY the fingerprint groups touched by
  *      the delta (F29-style merge: drop removed rows, add kept-added
  *      rows, `min(id)` per affected group). The diff between old and
  *      new representatives — promotions after a removed winner,
  *      displacements by a smaller added id, brand-new groups — is the
  *      SURVIVOR delta;
  *   3. near-dup components — [[IncrementalDedup.continueClusters]]
  *      over the survivor delta (recomputes only components reachable
  *      from changed buckets);
  *   4. output — post-delta survivors minus non-minimum component
  *      members, same as the batch composition.
  *
  * Scale shape: stages 2-3 touch O(|delta| + |affected groups| +
  * |affected components|) rows; the only corpus-width work is cached
  * columnar scans of the two state tables. Gate-enforced against a
  * FULL recompute of the composed clean on the post-delta corpus
  * (`q_incr_pipeline_clean`), chained-delta equivalence spec-enforced.
  */
object IncrementalPipeline {

  /** The group bag's key columns are [[Dedup.fingerprintCols]] — ONE
    * fingerprint definition shared with [[Dedup.exact]], renamed to the
    * bag's (g1, g2, glen) schema. */
  private def fingerprinted(df: DataFrame, idCol: String, textCol: String) = {
    val Seq(d1, d2, dl) = Dedup.fingerprintCols(col(textCol))
    df.select(d1.as("g1"), d2.as("g2"), dl.as("glen"), col(idCol).as("id"))
  }

  /** Run the composed clean once and preserve every stage's state.
    * The cleaned output itself is `cleanedDocs(state, corpus)`. */
  def preserveClean(df: DataFrame, idCol: String, textCol: String,
      minQuality: Double, lang: String, maxHamming: Int = 3,
      maxBucket: Int = 4096): CleanState = {
    val kept = Pipeline.keptOnly(df, textCol, minQuality, lang)
    val groups = fingerprinted(kept, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    groups.count()
    val survivors = groups.groupBy("g1", "g2", "glen")
      .agg(min("id").as("id")).select("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    survivors.count()
    val survivorDocs = df
      .join(survivors, df(idCol) === survivors("id"), "left_semi")
    val dedup = IncrementalDedup.preserveClusters(survivorDocs, idCol, textCol,
      maxHamming, maxBucket)
    CleanState(groups, survivors, dedup, minQuality, lang, () => {
      groups.unpersist(blocking = false)
      survivors.unpersist(blocking = false)
      dedup.release()
    })
  }

  /** The cleaned corpus a state represents: survivors minus non-minimum
    * component members, with `corpus` supplying the row payloads. */
  def cleanedDocs(state: CleanState, corpus: DataFrame, idCol: String): DataFrame = {
    val drop = state.dedup.comps.filter(col("id") =!= col("comp"))
      .select(col("id").as("_did"))
    corpus
      .join(state.survivors.select(col("id").as("_sid")),
        corpus(idCol) === col("_sid"), "left_semi")
      .join(drop, corpus(idCol) === col("_did"), "left_anti")
  }

  /** Continue the clean over a document delta; returns the NEXT state
    * (chainable — apply the following delta to it directly).
    *
    * @param corpusAfter the post-delta corpus (base − removed + added):
    *                    supplies the text of PROMOTED representatives
    *                    (old docs that become survivors only now — their
    *                    payloads are not in the delta)
    * @param addedDocs   new documents (fresh ids)
    * @param removedIds  single-column frame of ids to remove
    */
  def continueClean(state: CleanState, corpusAfter: DataFrame,
      addedDocs: DataFrame, removedIds: DataFrame, idCol: String,
      textCol: String): CleanState = Pins.scope { pins =>
    val removed = removedIds
      .select(col(removedIds.columns.head).as("_rid"))

    // Stage 1+2a: fingerprint the KEPT part of the delta (under the
    // STATE's preserve-time filter); merge the group bag (drop removed
    // rows, add the fresh ones).
    val newRows = pins(fingerprinted(
      Pipeline.keptOnly(addedDocs, textCol, state.minQuality, state.lang),
      idCol, textCol))
    val groupsNext = GraftSqlShim.pin(state.groups
      .join(removed, col("id") === col("_rid"), "left_anti")
      .unionByName(newRows))

    // Stage 2b: re-reduce ONLY groups touched by the delta. Removed
    // docs' group keys come from the preserved bag (the whole point of
    // keeping it); added docs' from their fresh rows.
    val affectedKeys = pins(newRows.select("g1", "g2", "glen")
      .unionByName(state.groups
        .join(removed, col("id") === col("_rid"), "left_semi")
        .select("g1", "g2", "glen"))
      .distinct())
    // Both representative sets feed TWO anti-joins each (survAdd and
    // survDel) — materialized once (affected-group-sized) so the
    // corpus-width bag scans behind them run once, not twice.
    val newReps = pins(groupsNext.leaf
      .join(affectedKeys, Seq("g1", "g2", "glen"), "left_semi")
      .groupBy("g1", "g2", "glen").agg(min("id").as("id")).select("id"))
    // old representatives of the affected groups = survivors lying in
    // an affected group's OLD bag (removed winners included)
    val oldReps = pins(state.groups
      .join(affectedKeys, Seq("g1", "g2", "glen"), "left_semi")
      .join(state.survivors.select(col("id").as("_sid")),
        col("id") === col("_sid"), "left_semi")
      .select("id"))
    // survivor delta: promotions/displacements/new groups vs demotions/
    // removals — stage 3's input delta
    val survAdd = pins(newReps.join(oldReps.select(col("id").as("_oid")),
      col("id") === col("_oid"), "left_anti"))
    val survDel = pins(oldReps.join(newReps.select(col("id").as("_nid")),
      col("id") === col("_nid"), "left_anti"))
    val survivorsNext = GraftSqlShim.pin(state.survivors
      .join(survDel.select(col("id").as("_did")),
        col("id") === col("_did"), "left_anti")
      .unionByName(survAdd))

    // Stage 3: continue the near-dup cluster state over the survivor
    // delta. Promoted docs' payloads come from the post-delta corpus.
    val survAddDocs = corpusAfter.join(survAdd.select(col("id").as("_aid")),
      corpusAfter(idCol) === col("_aid"), "left_semi")
    val dedupNext = IncrementalDedup.continueClusters(state.dedup,
      survAddDocs, survDel, idCol, textCol)
    CleanState(groupsNext.leaf, survivorsNext.leaf, dedupNext,
      state.minQuality, state.lang, () => {
        groupsNext.release(); survivorsNext.release(); dedupNext.release()
      })
  }
}

/** Preserved benchmark-decontamination state ([[IncrementalDecontam]]):
  * the corpus and eval-set w-shingle tables.
  *
  *  - `shingles(id, sh)` — one row per (corpus doc, distinct w-shingle).
  *    The expensive part of [[Pipeline.decontaminate]] is exactly this
  *    table's derivation (tokenize + shingle-explode over every
  *    document's text); preserving it means a delta re-shingles ONLY
  *    the delta's text.
  *  - `evalSh(eid, sh)` — the same per benchmark ITEM. Keeping per-item
  *    rows (not a folded distinct-shingle set) makes eval-side removals
  *    exact: dropping an item cannot take out a shingle another item
  *    still contributes (the contamination probe is a semi-join, so the
  *    duplicates are free).
  *
  * The shingle width `w` is part of the state (two tables shingled at
  * different w are not comparable) and survives `write`/`read`.
  */
final case class DecontamState(shingles: DataFrame, evalSh: DataFrame,
    w: Int, release: () => Unit = () => ()) {
  /** Materialize the state as Parquet tables (F27), width included. */
  def write(path: String): Unit = {
    shingles.write.mode("overwrite").parquet(s"$path/shingles")
    evalSh.write.mode("overwrite").parquet(s"$path/eval")
    shingles.sparkSession.createDataFrame(Seq(Tuple1(w))).toDF("w")
      .write.mode("overwrite").parquet(s"$path/params")
  }
}

object DecontamState {
  def read(spark: org.apache.spark.sql.SparkSession, path: String): DecontamState =
    DecontamState(
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/eval"),
      spark.read.parquet(s"$path/params").collect()(0).getInt(0))
}

/** Incremental benchmark decontamination — [[Pipeline.decontaminate]]
  * (exact w-shingle containment) continued over a delta on EITHER side:
  * corpus documents (+/−) or benchmark items (+/−). Benchmarks accrete
  * over a model's life while the training corpus is rebuilt constantly;
  * re-deriving contamination from scratch re-tokenizes and re-shingles
  * 100 TB of unchanged text. With the shingle tables preserved, a
  * continuation shingles only the delta and the contamination probe is
  * a single semi-join of the (compact) corpus shingle table against the
  * (small, broadcastable) eval shingle table — no text is touched.
  *
  * The continuation is EXACT, not approximate: [[decontaminated]] over
  * the rolled-forward state equals the batch operator over the
  * post-delta inputs (spec- and gate-enforced, `q_incr_decontaminate`).
  */
object IncrementalDecontam {

  private def shingled(df: DataFrame, idCol: String, textCol: String,
      w: Int, outId: String): DataFrame =
    df.select(col(idCol).as(outId),
      explode(graft.functions.GraftFunctions
        .word_shingles(tokens(col(textCol)), w)).as("sh"))

  /** Shingle both sides once and preserve the tables. */
  def preserve(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      w: Int = 3): DecontamState = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val sh = GraftSqlShim.pin(shingled(corpus, idCol, textCol, w, "id"))
    val ev = GraftSqlShim.pin(shingled(evalSet, evalIdCol, evalTextCol, w, "eid"))
    DecontamState(sh.leaf, ev.leaf, w, () => { sh.release(); ev.release() })
  }

  /** Roll the state forward over a two-sided delta. Only the delta's
    * text is shingled; untouched rows pass through. An added id already
    * present REPLACES its old rows on either side (same upsert contract
    * as [[Similarity.updateIvfIndex]] — stale shingles of a re-added
    * document must not keep contaminating it). Release the old state
    * once its continuations are done (library cache contract). */
  def continueDecontam(state: DecontamState,
      addedDocs: DataFrame, removedDocIds: DataFrame,
      addedEval: DataFrame, removedEvalIds: DataFrame,
      idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String): DecontamState = {
    graft.functions.GraftFunctions.register(addedDocs.sparkSession)
    // replace semantics: an incoming id evicts its existing rows
    val remD = removedDocIds.select(col(removedDocIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid")))
    val remE = removedEvalIds.select(col(removedEvalIds.columns.head).as("_reid"))
      .unionByName(addedEval.select(col(evalIdCol).as("_reid")))
    val shNext = GraftSqlShim.pin(state.shingles
      .join(remD, col("id") === col("_rid"), "left_anti")
      .unionByName(shingled(addedDocs, idCol, textCol, state.w, "id")))
    val evNext = GraftSqlShim.pin(state.evalSh
      .join(remE, col("eid") === col("_reid"), "left_anti")
      .unionByName(shingled(addedEval, evalIdCol, evalTextCol, state.w, "eid")))
    DecontamState(shNext.leaf, evNext.leaf, state.w,
      () => { shNext.release(); evNext.release() })
  }

  /** Corpus ids sharing at least one w-shingle with any eval item. */
  def contaminatedIds(state: DecontamState): DataFrame =
    state.shingles
      .join(state.evalSh.select("sh"), Seq("sh"), "left_semi")
      .select("id").distinct()

  /** The surviving corpus: `corpus` anti-joined with the contaminated
    * set — the incremental twin of [[Pipeline.decontaminate]]. */
  def decontaminated(state: DecontamState, corpus: DataFrame,
      idCol: String): DataFrame =
    corpus.join(contaminatedIds(state).select(col("id").as("_cid")),
      corpus(idCol) === col("_cid"), "left_anti")
}

/** Preserved boilerplate-line-dedup state ([[IncrementalLineDedup]]):
  *
  *  - `lines(doc_id, pos, line)` — the exploded line table. The
  *    expensive part of [[Pipeline.dedupLines]] is exactly this
  *    derivation (split + posexplode over every document's text);
  *    preserving it means a delta explodes ONLY the delta's text.
  *  - `dfreq(line, nd)` — each line's document frequency. Preserved so
  *    a continuation can detect which lines' boilerplate status
  *    FLIPPED under the delta without a corpus-wide recount.
  *  - `out(doc_id, clean, n_kept, n_removed)` — the previous cleaned
  *    output; unaffected documents pass through untouched.
  *
  * `maxDocs`/`sep` are part of the state (outputs under different
  * ceilings are not comparable) and survive `write`/`read`. */
final case class LineDedupState(lines: DataFrame, dfreq: DataFrame,
    out: DataFrame, maxDocs: Long, sep: String,
    release: () => Unit = () => ()) {
  /** Materialize the state as Parquet tables (F27). */
  def write(path: String): Unit = {
    lines.write.mode("overwrite").parquet(s"$path/lines")
    dfreq.write.mode("overwrite").parquet(s"$path/dfreq")
    out.write.mode("overwrite").parquet(s"$path/out")
    lines.sparkSession.createDataFrame(Seq((maxDocs, sep)))
      .toDF("maxDocs", "sep")
      .write.mode("overwrite").parquet(s"$path/params")
  }
}

object LineDedupState {
  def read(spark: org.apache.spark.sql.SparkSession,
      path: String): LineDedupState = {
    val p = spark.read.parquet(s"$path/params").collect()(0)
    LineDedupState(
      spark.read.parquet(s"$path/lines"),
      spark.read.parquet(s"$path/dfreq"),
      spark.read.parquet(s"$path/out"),
      p.getLong(0), p.getString(1))
  }
}

/** Incremental boilerplate line dedup — [[Pipeline.dedupLines]]
  * continued over a ±document delta. The subtlety this operator exists
  * for: a delta can flip a LINE's boilerplate status (its document
  * frequency crosses `maxDocs` in either direction), which changes the
  * cleaned text of UNTOUCHED documents containing that line. The
  * continuation explodes only the delta's text, merges the
  * document-frequency table, finds the flipped lines (they can only be
  * lines the delta touched), and recleans exactly the documents that
  * contain a flipped line plus the delta's own documents — everything
  * else passes through from the preserved output.
  *
  * The continuation is EXACT: `state.out` after a continuation equals
  * the batch operator over the post-delta corpus (spec- and
  * gate-enforced, `q_incr_line_dedup`).
  */
object IncrementalLineDedup {

  /** ONE line-table derivation for the batch operator
    * ([[Pipeline.dedupLines]]) and both incremental phases — the
    * incr ≡ batch oracle depends on these never drifting. NULL text is
    * coalesced to empty (one empty-string line), so a null-text
    * document still yields a row and survives as a husk on every
    * path. */
  private[operators] def linesOf(df: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))

  /** The reassembly shared by [[Pipeline.dedupLines]], preserve and
    * continuation: clean every document present in `lines` against the
    * `nd > maxDocs` rule ([[linesOf]] guarantees every input document
    * has at least one line). */
  private[operators] def cleanFor(lines: DataFrame, dfreq: DataFrame,
      maxDocs: Long, sep: String): DataFrame = {
    val bad = dfreq.filter(col("nd") > maxDocs).select("line")
    val kept = lines.join(bad, Seq("line"), "left_anti")
    val totals = lines.groupBy("doc_id").agg(count(lit(1)).as("_n_all"))
    val rebuilt = kept.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x("line")), sep).as("clean"),
      count(lit(1)).as("n_kept"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean"), lit("")).as("clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_n_all") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Explode + count once, clean once, preserve all three tables. */
  def preserveLines(df: DataFrame, idCol: String, textCol: String,
      maxDocs: Long, sep: String = "\n"): LineDedupState = {
    val lines = GraftSqlShim.pin(linesOf(df, idCol, textCol, sep))
    val dfreq = GraftSqlShim.pin(
      lines.leaf.select("doc_id", "line").distinct()
        .groupBy("line").agg(count(lit(1)).as("nd")))
    val out = GraftSqlShim.pin(cleanFor(lines.leaf, dfreq.leaf, maxDocs, sep))
    LineDedupState(lines.leaf, dfreq.leaf, out.leaf, maxDocs, sep,
      () => { lines.release(); dfreq.release(); out.release() })
  }

  /** Roll the state forward over a ±document delta. An added id already
    * present REPLACES its old rows (the upsert contract shared with
    * [[IncrementalDecontam.continueDecontam]]). Release the old state
    * once its continuations are done (library cache contract). */
  def continueLines(state: LineDedupState, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String,
      textCol: String): LineDedupState = Pins.scope { pins =>
    // replace semantics: an incoming id evicts its existing rows
    val rem = pins(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid"))).distinct())
    val addLines = pins(linesOf(addedDocs, idCol, textCol, state.sep))
    val linesNext = GraftSqlShim.pin(state.lines
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(addLines))
    // doc-frequency delta: only lines the delta touches can change nd —
    // departing rows count −1 per (doc, line), arriving rows +1
    val depart = state.lines
      .join(rem, col("doc_id") === col("_rid"), "left_semi")
      .select("doc_id", "line").distinct()
      .groupBy("line").agg((-count(lit(1))).as("_d"))
    val arrive = addLines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("_d"))
    val delta = pins(depart.unionByName(arrive)
      .groupBy("line").agg(sum(col("_d")).as("_d"))
      .filter(col("_d") =!= 0))
    // merged table: nd2 = nd + d; a line whose last document left drops
    // out (nd2 = 0), a brand-new line enters. Materialized ONCE — both
    // dfreqNext and the flip set derive from it, and the full-outer is
    // the continuation's one state-width shuffle
    val merged = pins(state.dfreq.join(delta, Seq("line"), "full")
      .select(col("line"),
        coalesce(col("nd"), lit(0L)).as("_nd1"),
        (coalesce(col("nd"), lit(0L)) + coalesce(col("_d"), lit(0L)))
          .as("_nd2")))
    val dfreqNext = GraftSqlShim.pin(merged
      .filter(col("_nd2") > 0).select(col("line"), col("_nd2").as("nd")))
    // flipped = boilerplate status changed; restricted to delta-touched
    // lines by construction (elsewhere nd1 == nd2)
    val flipped = pins(merged
      .filter((col("_nd1") > state.maxDocs) =!= (col("_nd2") > state.maxDocs))
      .select("line"))
    val affectedIds = pins(linesNext.leaf
      .join(flipped, Seq("line"), "left_semi").select("doc_id").distinct()
      .unionByName(addedDocs.select(col(idCol).as("doc_id"))).distinct())
    val recleaned = cleanFor(
      linesNext.leaf.join(affectedIds, Seq("doc_id"), "left_semi"),
      dfreqNext.leaf, state.maxDocs, state.sep)
    val outNext = GraftSqlShim.pin(state.out
      .join(affectedIds.select(col("doc_id").as("_aid"))
          .unionByName(rem.select(col("_rid").as("_aid"))).distinct(),
        col("doc_id") === col("_aid"), "left_anti")
      .unionByName(recleaned))
    LineDedupState(linesNext.leaf, dfreqNext.leaf, outNext.leaf,
      state.maxDocs, state.sep,
      () => { linesNext.release(); dfreqNext.release(); outNext.release() })
  }
}

/** Preserved duplicated-span state ([[IncrementalDupSpans]]): the
  * exploded span table (the expensive tokenize+window derivation),
  * per-document token counts, per-span document frequencies, and the
  * previous scores. `w`/`maxFrac` are part of the state and survive
  * `write`/`read`. */
final case class DupSpanState(spans: DataFrame, ntoks: DataFrame,
    dfreq: DataFrame, out: DataFrame, w: Int, maxFrac: Double,
    release: () => Unit = () => ()) {
  /** Materialize the state as Parquet tables (F27). */
  def write(path: String): Unit = {
    spans.write.mode("overwrite").parquet(s"$path/spans")
    ntoks.write.mode("overwrite").parquet(s"$path/ntoks")
    dfreq.write.mode("overwrite").parquet(s"$path/dfreq")
    out.write.mode("overwrite").parquet(s"$path/out")
    spans.sparkSession.createDataFrame(Seq((w, maxFrac)))
      .toDF("w", "maxFrac")
      .write.mode("overwrite").parquet(s"$path/params")
  }
}

object DupSpanState {
  def read(spark: org.apache.spark.sql.SparkSession,
      path: String): DupSpanState = {
    val p = spark.read.parquet(s"$path/params").collect()(0)
    DupSpanState(
      spark.read.parquet(s"$path/spans"),
      spark.read.parquet(s"$path/ntoks"),
      spark.read.parquet(s"$path/dfreq"),
      spark.read.parquet(s"$path/out"),
      p.getInt(0), p.getDouble(1))
  }
}

/** Incremental duplicated-span scoring — [[Pipeline.dupSpanStats]]
  * continued over a ±document delta. A delta can flip a SPAN's
  * duplicated status (its document frequency crosses the ≥2 line in
  * either direction): removing one copy of a duplicated passage makes
  * the surviving copy original again, and adding a copy of an
  * original passage makes BOTH documents duplicated — in each case an
  * UNTOUCHED document's score changes. The continuation windows only
  * the delta's text, merges the span frequencies, finds the flipped
  * spans (only delta-touched spans can flip), and re-scores exactly
  * the documents containing a flipped span plus the delta itself.
  *
  * EXACT: `state.out` after a continuation equals the batch operator
  * over the post-delta corpus (spec- and gate-enforced,
  * `q_incr_dup_spans`).
  */
object IncrementalDupSpans {

  /** ONE span derivation for the batch operator and both incremental
    * phases (NULL text ≡ empty — no spans, zero tokens). The span is
    * carried as its 64-bit xxhash64 DIGEST, not the ~w-token string:
    * the span table and its frequency sibling are the state-width
    * objects every shuffle/leaf-write moves, and the digest cuts their
    * row size ~5x (measured 80 → ~25 s on the 100x continuation).
    * Batch and incremental hash IDENTICALLY, so incr ≡ batch is exact;
    * vs the string the only divergence is a 64-bit birthday collision
    * falsely marking two spans as one (~1e-5 expected pairs at 20M
    * spans — the standard trade in suffix-array-free ExactSubstr
    * implementations). */
  private[operators] def spansOf(df: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      tokens(coalesce(col(textCol), lit(""))).as("_toks"))
      .select(col("doc_id"),
        when(size(col("_toks")) >= w,
          expr(s"transform(sequence(0, size(_toks) - $w), " +
            s"i -> struct(i as pos, xxhash64(concat_ws(' ', slice(_toks, i + 1, $w))) as s))"))
          .otherwise(array().cast("array<struct<pos:int,s:bigint>>")).as("_sp"))
      .select(col("doc_id"), explode(col("_sp")).as("_e"))
      .select(col("doc_id"), col("_e.pos").as("pos"), col("_e.s").as("s"))

  private[operators] def ntoksOf(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      size(tokens(coalesce(col(textCol), lit("")))).cast("long").as("n_tokens"))

  /** Score every document in `ntoks` against the duplicated-span set:
    * covered positions are the union of [pos, pos+w) over the doc's
    * duplicated spans. */
  private[operators] def scoreFor(spans: DataFrame, ntoks: DataFrame,
      dupSpans: DataFrame, w: Int, maxFrac: Double): DataFrame = {
    val covered = spans.join(dupSpans, Seq("s"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("_ncov"))
    ntoks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("_ncov"), lit(0L)).as("n_covered"))
      .withColumn("dup_frac", round(
        when(col("n_tokens") > 0,
          col("n_covered").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6))
      .withColumn("keep", (col("dup_frac") <= maxFrac).cast("int"))
  }

  /** The ExactSubstr CUT for a document set against a duplicated-span
    * set — ONE definition shared by [[Pipeline.cutDupSpans]] (batch),
    * [[DupSpansStore.init]] (cut maintenance) and
    * [[DupSpansStore.continueAt]] (re-cut of flip-affected docs only):
    * remove every token covered by a span in `dupSpans`, reassemble
    * survivors in original order. `docs` must expose (doc_id, text);
    * `spans` must be exactly [[spansOf]] of those docs. Returns
    * (doc_id, clean, n_kept, n_removed) for EVERY doc in `docs`. */
  private[operators] def cutFor(docs: DataFrame, spans: DataFrame,
      dupSpans: DataFrame, w: Int): DataFrame = {
    val covered = spans.join(dupSpans, Seq("s"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("pos"))
      .distinct()
    val tokpos = docs.select(col("doc_id"),
        posexplode_outer(tokens(coalesce(col("text"), lit("")))))
      .toDF("doc_id", "pos", "tok")
    val kept = tokpos.filter(col("tok").isNotNull)
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id").agg(
        concat_ws(" ", expr("transform(array_sort(" +
          "collect_list(struct(pos, tok))), x -> x.tok)")).as("clean"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"),
        size(tokens(coalesce(col("text"), lit("")))).cast("long")
          .as("_ntok"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean"), lit("")).as("clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_ntok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Window + count + score once, preserve all four tables. */
  def preserveDupSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maxFrac: Double = 0.5): DupSpanState = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val spans = GraftSqlShim.pin(spansOf(df, idCol, textCol, w))
    val ntoks = GraftSqlShim.pin(ntoksOf(df, idCol, textCol))
    val dfreq = GraftSqlShim.pin(
      spans.leaf.select("doc_id", "s").distinct()
        .groupBy("s").agg(count(lit(1)).as("nd")))
    val out = GraftSqlShim.pin(scoreFor(spans.leaf, ntoks.leaf,
      dfreq.leaf.filter(col("nd") >= 2).select("s"), w, maxFrac))
    DupSpanState(spans.leaf, ntoks.leaf, dfreq.leaf, out.leaf, w, maxFrac,
      () => { spans.release(); ntoks.release(); dfreq.release(); out.release() })
  }

  /** Roll the state forward over a ±document delta (upsert contract:
    * an incoming id evicts its existing rows). Release the old state
    * once its continuations are done. */
  def continueDupSpans(state: DupSpanState, addedDocs: DataFrame,
      removedIds: DataFrame, idCol: String,
      textCol: String): DupSpanState = Pins.scope { pins =>
    val rem = pins(removedIds
      .select(col(removedIds.columns.head).as("_rid"))
      .unionByName(addedDocs.select(col(idCol).as("_rid"))).distinct())
    val addSpans = pins(spansOf(addedDocs, idCol, textCol, state.w))
    val spansNext = GraftSqlShim.pin(state.spans
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(addSpans))
    val ntoksNext = GraftSqlShim.pin(state.ntoks
      .join(rem, col("doc_id") === col("_rid"), "left_anti")
      .unionByName(ntoksOf(addedDocs, idCol, textCol)))
    val depart = state.spans
      .join(rem, col("doc_id") === col("_rid"), "left_semi")
      .select("doc_id", "s").distinct()
      .groupBy("s").agg((-count(lit(1))).as("_d"))
    val arrive = addSpans.select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("_d"))
    val delta = pins(depart.unionByName(arrive)
      .groupBy("s").agg(sum(col("_d")).as("_d"))
      .filter(col("_d") =!= 0))
    // materialized ONCE: both dfreqNext and the flip set derive from
    // it — the span table's full-outer is the heaviest state-width
    // shuffle in the continuation and must not run twice
    val merged = pins(state.dfreq.join(delta, Seq("s"), "full")
      .select(col("s"),
        coalesce(col("nd"), lit(0L)).as("_nd1"),
        (coalesce(col("nd"), lit(0L)) + coalesce(col("_d"), lit(0L)))
          .as("_nd2")))
    val dfreqNext = GraftSqlShim.pin(merged
      .filter(col("_nd2") > 0).select(col("s"), col("_nd2").as("nd")))
    // only delta-touched spans can flip (elsewhere nd1 == nd2)
    val flipped = pins(merged
      .filter((col("_nd1") >= 2) =!= (col("_nd2") >= 2)).select("s"))
    val affectedIds = pins(spansNext.leaf
      .join(flipped, Seq("s"), "left_semi").select("doc_id").distinct()
      .unionByName(addedDocs.select(col(idCol).as("doc_id"))).distinct())
    val rescored = scoreFor(
      spansNext.leaf.join(affectedIds, Seq("doc_id"), "left_semi"),
      ntoksNext.leaf.join(affectedIds, Seq("doc_id"), "left_semi"),
      dfreqNext.leaf.filter(col("nd") >= 2).select("s"), state.w, state.maxFrac)
    val outNext = GraftSqlShim.pin(state.out
      .join(affectedIds.select(col("doc_id").as("_aid"))
          .unionByName(rem.select(col("_rid").as("_aid"))).distinct(),
        col("doc_id") === col("_aid"), "left_anti")
      .unionByName(rescored))
    DupSpanState(spansNext.leaf, ntoksNext.leaf, dfreqNext.leaf, outNext.leaf,
      state.w, state.maxFrac, () => {
        spansNext.release(); ntoksNext.release(); dfreqNext.release()
        outNext.release()
      })
  }
}
