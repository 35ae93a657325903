package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.functions.TextFunctions._

/** Deduplication for large text corpora: exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard. Designed for the 100 TB shape: everything is
  * hash-groupBy / bucket-join — no pairwise N² work outside LSH buckets,
  * no driver-side state.
  */
object Dedup {

  /** Exact dedup: group identical payloads, keep the lowest id as the
    * representative. One shuffle on a fixed-width content fingerprint —
    * two independently salted 64-bit digests plus the payload length,
    * never the payload itself. A single 64-bit digest has material
    * birthday-collision odds at ~10⁹⁺ docs (silently merging distinct
    * payloads); 128+ fingerprint bits push that to ~2⁻⁶⁴ per corpus.
    * `verify = true` instead groups by the payload itself (the shuffle
    * then carries one copy of each distinct payload per partition —
    * map-side partial agg collapses repeats first): the belt-and-
    * braces mode the differential spec checks the fingerprint path
    * against. */
  def exact(df: DataFrame, idCol: String, textCol: String,
      verify: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("payload"))
    val grouped =
      if (verify) base.groupBy(col("payload"))
      else base.groupBy(fingerprintCols(col("payload")): _*)
    grouped.agg(min("id").as("keep_id"), count(lit(1)).as("n"))
  }

  /** THE content fingerprint exact dedup groups by — two independently
    * salted 64-bit digests plus the payload length (named digest /
    * digest2 / plen). One definition shared by [[exact]] and the
    * incremental pipeline's group bag ([[IncrementalPipeline]]): a
    * fingerprint-scheme change that touched only one copy would make a
    * preserved group bag silently disagree with fresh delta rows. */
  private[operators] def fingerprintCols(
      payload: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq(xxhash64(payload).as("digest"),
      xxhash64(lit("graft-dedup-salt"), payload).as("digest2"),
      length(payload).as("plen"))

  /** Per-document minhash signature rows (doc_id, seed, mh), seeds
    * 0..numHashes-1. Empty docs drop out (no signature). Token codes are
    * computed ONCE per document (native [[graft.functions.TokenCodes]])
    * and reused across all seeds — the per-seed work is a codegen'd
    * min-fold over longs, not a re-derivation of the char-level hash. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokenCodes(tokens(col(textCol))).as("codes"))
      .filter(size(col("codes")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("seed"),
        col("codes"))
      .select(col("doc_id"), col("seed"),
        graft.functions.GraftFunctions
          .min_seeded_hash(col("codes"), col("seed")).as("mh"))
  }

  /** LSH banding: group the signature into `bands` bands of
    * `numHashes/bands` rows; docs sharing any band bucket are candidate
    * near-dup pairs. The expensive exact-Jaccard check then runs only
    * inside buckets (shingle→minhash→band→bucket-join).
    *
    * `maxBucket` bounds the within-bucket pairing: a degenerate bucket
    * of m docs (e.g. a corpus with thousands of byte-identical pages —
    * they share every band) would otherwise emit m² candidate rows.
    * Buckets larger than `maxBucket` instead star-link every member to
    * the bucket's minimum doc id — O(m) pairs that still connect the
    * whole cluster for downstream union-find dedup (the degenerate case
    * is identical/near-identical docs, where every member passes the
    * Jaccard confirm against the representative). */
  def lshCandidatePairs(signatures: DataFrame, numHashes: Int, bands: Int,
      maxBucket: Int = 4096): DataFrame = {
    val rowsPerBand = numHashes / bands
    // (doc_id, band, bucket) feeds three plan branches (big-bucket
    // aggregate, both sides of the pair join, star join) — persist so
    // the signature aggregation runs once.
    val banded = signatures
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy("doc_id", "band")
      // band key = polynomial combination of the band's minhashes, in seed order
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("seed"), col("mh")))), s => s("mh")),
        lit(0L), (acc, v) => (acc * 131 + v % P) % P).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Oversized buckets are found with a partial-aggregating groupBy
    // (cheaper than a window sort over every bucket) and are typically
    // near-empty, so both the anti-join and the star join broadcast.
    val big = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"), min("doc_id").as("bmin"))
      .filter(col("bsz") > maxBucket)
      .select("band", "bucket", "bmin")
    val small = banded.join(broadcast(big.select("band", "bucket")),
      Seq("band", "bucket"), "left_anti")
    val a = small.select(col("band"), col("bucket"), col("doc_id").as("a"))
    val b = small.select(col("band"), col("bucket"), col("doc_id").as("b"))
    val allPairs = a.join(b, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b")
    val starPairs = banded.join(broadcast(big), Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a"), col("doc_id").as("b"))
    allPairs.unionByName(starPairs).distinct()
  }

  /** Exact token-set Jaccard for given pairs: |A∩B| / |A∪B| over
    * distinct tokens. */
  def jaccardForPairs(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sets = df.select(col(idCol).as("doc_id"),
      array_distinct(tokens(col(textCol))).as("ts"))
    pairs
      .join(sets.withColumnRenamed("doc_id", "a").withColumnRenamed("ts", "ta"), "a")
      .join(sets.withColumnRenamed("doc_id", "b").withColumnRenamed("ts", "tb"), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double")).as("jaccard"))
  }

  /** MinHash-LSH near-dup detection end-to-end: candidates from banding,
    * confirmed by exact Jaccard ≥ `threshold`. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numHashes)
    val cands = lshCandidatePairs(sigs, numHashes, bands)
    jaccardForPairs(cands, df, idCol, textCol)
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash digests (doc_id, simhash). Near-dups = digests within a
    * small Hamming distance; pairing via band-of-bytes joins like LSH. */
  def simhashDigests(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), simhash32(col("toks")).as("simhash"))
  }

  /** 64-bit SimHash digests as two independent 32-bit halves
    * (doc_id, h1, h2) — seeds 1 and 2 of the same hash family, token
    * codes computed once and shared. Two halves instead of one packed
    * long keep every value positive BIGINT on both engines (packing
    * h2 << 32 can overflow signed 64-bit). */
  def simhashDigests64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokenCodes(tokens(col(textCol))).as("codes"))
      .filter(size(col("codes")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash32Seeded(col("codes"), 1L).as("h1"),
        graft.functions.GraftFunctions.simhash32Seeded(col("codes"), 2L).as("h2"))
  }

  /** SimHash near-dup pairs: 16-bit-band join over the 64-bit digest +
    * Hamming filter. The digest splits into 4 bands of 16 bits; by
    * pigeonhole, any pair within Hamming distance `maxHamming` ≤ 3
    * shares at least one band exactly, so the band equi-join finds all
    * such pairs while only joining within 4×65536 buckets — never
    * all-pairs.
    *
    * Candidate volume is still quadratic in the size of a single
    * bucket, so `maxBucket` applies the same star-link cap as
    * [[lshCandidatePairs]]: buckets larger than `maxBucket` link every
    * member to the bucket's minimum doc id (O(m) pairs) instead of
    * pairing exhaustively. The degenerate case is a corpus of
    * (near-)identical digests, where the star still connects the whole
    * cluster for downstream union-find; star pairs that are NOT within
    * `maxHamming` of the representative are dropped by the Hamming
    * confirm — the cap trades recall inside pathological buckets for a
    * hard bound on join volume, and is part of the operator contract. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame =
    simhashNearDupsWithRelease(df, idCol, textCol, maxHamming, maxBucket)._1

  /** [[simhashNearDups]] plus a release thunk freeing the internal
    * digest cache (the one persist the pair plan is built over) — the
    * library cache-release contract for composing callers
    * ([[Pipeline.cleanCorpus]]): call it once the returned pair frame
    * has been fully consumed. The plain overload leaves the
    * catalog-visible cache to the session (`clearCache`), unchanged. */
  def simhashNearDupsWithRelease(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): (DataFrame, () => Unit) = {
    require(maxHamming <= 3, "4 16-bit bands only guarantee recall for distance <= 3")
    // The digest frame feeds four plan branches (both join sides, the
    // big-bucket aggregate, the star join) — persist it so the
    // scan+tokenize+digest pipeline runs once, and the branches re-read
    // three small longs per doc instead of the corpus.
    val digests = simhashDigests64(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = pairsFromBands(explodeBands(digests), maxHamming, maxBucket)
    (pairs, () => digests.unpersist(blocking = false))
  }

  /** (doc_id, h1, h2) digests → the 4-band table (doc_id, h1, h2, band,
    * bv): band b's value is 16 consecutive digest bits. The band table
    * IS the bucket-membership relation — the unit of preserved state for
    * [[IncrementalDedup]] (which buckets a doc occupies decides which
    * pairs it can form). */
  private[operators] def explodeBands(digests: DataFrame): DataFrame =
    digests.select(col("doc_id"), col("h1"), col("h2"),
      explode(array((0 until 4).map { b =>
        val half = if (b < 2) col("h1") else col("h2")
        struct(lit(b).as("band"),
          shiftright(half, (b % 2) * 16).bitwiseAND(lit(65535L)).as("bv"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("h1"), col("h2"), col("bb.band"), col("bb.bv"))

  /** Band table → confirmed near-dup pairs (a, b, hamming ≤ maxHamming).
    * Pure function of bucket membership: the SAME band rows always give
    * the SAME pairs, which is what lets [[IncrementalDedup]] re-run it
    * over just the affected buckets' (full) membership and splice the
    * result into preserved components. Big-bucket star-linking and the
    * Hamming confirm as documented on [[simhashNearDups]]. */
  private[operators] def pairsFromBands(banded: DataFrame, maxHamming: Int,
      maxBucket: Int): DataFrame = {
    // Oversized buckets: same shape as lshCandidatePairs — found with a
    // partial-aggregating groupBy, typically near-empty, broadcast.
    val big = banded.groupBy("band", "bv")
      .agg(count(lit(1)).as("bsz"), min("doc_id").as("bmin"))
      .filter(col("bsz") > maxBucket)
      .select("band", "bv", "bmin")
    val small = banded.join(broadcast(big.select("band", "bv")),
      Seq("band", "bv"), "left_anti")
    val x = small.select(col("band"), col("bv"), col("doc_id").as("a"),
      col("h1").as("ha1"), col("h2").as("ha2"))
    val y = small.select(col("band"), col("bv"), col("doc_id").as("b"),
      col("h1").as("hb1"), col("h2").as("hb2"))
    val allPairs = x.join(y, Seq("band", "bv")).filter(col("a") < col("b"))
      .select("a", "b", "ha1", "ha2", "hb1", "hb2")
    // Star pairs: bmin is the bucket minimum, so (bmin, member) is
    // already (a < b)-ordered; bmin's digests come from its own band
    // row in that very bucket (one broadcast join against the tiny
    // big-bucket list — no digest-table lookup needed).
    val bigD = banded.select(col("band"), col("bv"), col("doc_id").as("bmin"),
      col("h1").as("hm1"), col("h2").as("hm2"))
      .join(broadcast(big), Seq("band", "bv", "bmin"))
    val starPairs = banded.join(broadcast(bigD), Seq("band", "bv"))
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a"), col("doc_id").as("b"),
        col("hm1").as("ha1"), col("hm2").as("ha2"),
        col("h1").as("hb1"), col("h2").as("hb2"))
    allPairs.unionByName(starPairs).distinct()
      .select(col("a"), col("b"),
        (bit_count(col("ha1").bitwiseXOR(col("hb1"))) +
          bit_count(col("ha2").bitwiseXOR(col("hb2")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected near-dup pair list — the
    * step that turns PAIRS (from [[lshCandidatePairs]]/[[simhashNearDups]]/
    * [[ngramJaccardPairs]]) into dedup CLUSTERS: every doc in a
    * component maps to the component's minimum doc id, which downstream
    * dedup keeps as the canonical representative.
    *
    * Min-label propagation with pointer jumping: labels start as
    * self-ids; each round every node takes the min of its own, its
    * neighbors', and its current label's label (the jump — comp's comp,
    * the classic doubling step), so convergence needs O(log diameter)
    * rounds instead of O(diameter); stop when no label moved (the label
    * sum — non-increasing, exact in decimal(38) — stops decreasing) or
    * at `maxIterations`. Near-dup clusters are near-clique-shaped
    * (members are mutually similar) so real corpora converge in a
    * handful of rounds even for chained clusters. Scale shape: labels
    * hash-partitioned by id; per round one edge⨝label shuffle, one
    * label self-join, and a map-side-combining min — no driver-side
    * graph, no N² work. Each round's label leaf frees its predecessor
    * ([[graft.core.Pins]]); the returned frame is a catalog-visible
    * cache.
    *
    * @param pairs (a, b) undirected edges
    * @return (id, comp) for every id appearing in `pairs`; `comp` is
    *         the minimum id of the node's component
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 25,
      numPartitions: Int = 32): DataFrame = Pins.scope { pins =>
    val tPre = System.nanoTime()
    val e = pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
    // The edge table is a checkpointed LEAF, not a persist: every round's
    // plan references it, and a persist keeps the caller's full lineage
    // in the plan — each round (and each cache lookup) then re-analyzes
    // and re-canonicalizes that whole tree, which for a deep caller DAG
    // (the incremental path: band-table semi-join chains) costs seconds
    // of DRIVER time per round while the actual data is a few thousand
    // rows. The leaf truncates lineage to an RDD scan once.
    val undAll = pins.pin(
      e.unionByName(e.select(col("v").as("u"), col("u").as("v"))).distinct())
    val edgeCount = undAll.rows
    val tEdges = System.nanoTime()
    // Size the loop's partitioning to the pair graph, bounded above by
    // numPartitions: the label loop pays its per-round cost in TASKS
    // (O(rounds · partitions) scheduling, not data), and the pair graph
    // is usually orders of magnitude smaller than the corpus it came
    // from (only near-dup docs appear). ~64k edges per partition keeps
    // tasks meaningful; a corpus-scale pair graph still gets the full
    // numPartitions.
    val nParts = math.max(1L, math.min(numPartitions.toLong,
      edgeCount / 65536 + 1)).toInt
    val und = pins(undAll.leaf.repartition(nParts, col("v")))
    undAll.release()
    // the convergence poll (sum of labels) rides each round's
    // materialization job (guide §1.2) — one job per round, not two
    var labelsP = pins.pin(
      und.select(col("u").as("id")).distinct()
        .withColumn("comp", col("id"))
        .repartition(nParts, col("id")), sums = Seq("comp"))
    if (graft.core.IncrementalJob.timingEnabled)
      System.err.println(f"[cc] edges: ${(tEdges - tPre) / 1e9}%.2f s, " +
        f"init labels: ${(System.nanoTime() - tEdges) / 1e9}%.2f s " +
        f"(edges=$edgeCount parts=$nParts)")
    var prevSum = labelsP.sums.head
    var i = 0
    var done = labelsP.rows == 0
    val debugTiming = graft.core.IncrementalJob.timingEnabled
    while (i < maxIterations && !done) {
      val tRound = System.nanoTime()
      i += 1
      val labels = labelsP.leaf
      val viaNbr = und.join(labels, und("v") === labels("id"))
        .select(und("u").as("id"), col("comp"))
      // pointer jump: my label's label (left join — every comp IS a
      // node id, but name-disjoint refs keep the self-join unambiguous)
      val jump = labels
        .join(labels.select(col("id").as("_jid"), col("comp").as("_jcomp")),
          col("comp") === col("_jid"))
        .select(col("id"), col("_jcomp").as("comp"))
      val next = pins.pin(
        labels.unionByName(viaNbr).unionByName(jump)
          .groupBy("id").agg(min("comp").as("comp")), sums = Seq("comp"))
      val s = next.sums.head
      labelsP.release()
      labelsP = next
      if (s == prevSum) done = true else prevSum = s
      if (debugTiming)
        System.err.println(
          f"[cc] round $i: ${(System.nanoTime() - tRound) / 1e9}%.2f s done=$done")
    }
    val out = labelsP.leaf.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** n-gram (word w-shingle) Jaccard near-dup pairs within a blocking
    * key: docs sharing a shingle are candidates (inverted-index join),
    * then exact shingle-set Jaccard ≥ threshold confirms.
    *
    * `maxDf` caps the document frequency of candidate-generating
    * shingles: a shingle shared by m docs yields m² candidate rows in
    * the self-join, so one boilerplate phrase repeated across a corpus
    * is quadratic — the classic 100 TB scale-killer. Shingles with
    * df > maxDf are excluded from candidate generation (they carry no
    * near-dup signal anyway; truly similar docs share many rare
    * shingles). The cap is part of the operator's contract and is
    * mirrored in the oracle SQL. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int, threshold: Double, maxDf: Int = 128): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // The shingle table feeds three plan branches (inverted index + both
    // Jaccard sides); persist it so the tokenize+shingle pass (native
    // WordShingles expression) runs once.
    val sh = df.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions
        .word_shingles(tokens(col(textCol)), w).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // Document frequency via groupBy, NOT count(*) OVER (PARTITION BY s):
    // the window shape shuffles EVERY occurrence of a shingle to one
    // partition before the df filter drops it, so a single boilerplate
    // phrase repeated 10⁸ times stalls one task — the classic hot-key
    // scale-killer. The groupBy partial-aggregates map-side (a hot
    // shingle collapses to one row per input partition before the
    // shuffle), and the handful of shingles OVER the cap is broadcast
    // for an anti-join — the posting list itself never re-shuffles on
    // the hot key at all. (Same restructuring as Pipeline.cleanCorpus's
    // dedup, commit 8c730a5.)
    val hot = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("s")
    val rare = inv.join(broadcast(hot), Seq("s"), "left_anti")
      .select("doc_id", "s")
    val cands = rare.alias("x").join(rare.alias("y"), "s")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val sa = sh.select(col("doc_id").as("a"), col("sh").as("sa"))
    val sb = sh.select(col("doc_id").as("b"), col("sh").as("sb"))
    cands.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
