package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011) — the compressed
  * form of the similarity surface, and the reason an ANN index fits at
  * 100 TB: the vector dimension d splits into `m` contiguous
  * subspaces, each subvector is replaced by the id of its nearest
  * entry in a per-subspace codebook of `ksub` entries, and a stored
  * vector becomes `m` small ints plus one cached reconstruction norm —
  * 64 doubles (512 B) shrink to 8 codes + 1 double (~40 B raw, less
  * after parquet dictionary/RLE), so the SCAN side of a query batch
  * reads ~10-30× fewer bytes and a 100 TB embedding corpus's code
  * columns fit where its raw vectors never would.
  *
  * Scoring is ADC (asymmetric distance computation): the query stays
  * exact, and `cosine(q, x̂)` against the reconstruction x̂ decomposes
  * into per-subspace table lookups — for each query, an m×ksub table
  * of `dot(q_sub, codebook entry)` is computed ONCE (m·ksub small
  * dots), and each stored vector costs m array lookups + m adds
  * instead of d multiplies. The reconstruction norm |x̂| is
  * query-independent and cached at encode time.
  *
  * Everything is deterministic and oracle-reproducible by the same
  * contract as [[Similarity]]'s IVF: codebooks initialize from the
  * subvectors of the `ksub` LOWEST-ID vectors (code = id rank),
  * optional Lloyd rounds round entries to 6 digits on every round so
  * engines' sub-ulp mean-summation differences cannot compound, and
  * every floating-point reduction is an index-order fold mirrored by
  * the DuckDB oracle's `list_reduce` (assignment distances expand as
  * `dot(s,s) − 2·dot(s,c) + dot(c,c)` on BOTH engines — same ops,
  * same order, bit-identical doubles).
  *
  * Reference analog: the preserve-then-continue compression thesis
  * applied to vector payloads — the reference ships no ANN at all;
  * this is part of the beyond-parity LLM-pipeline surface
  * (SURVEY.md §2 "similarity search").
  */
object Pq {

  private def dot(a: Column, b: Column) =
    graft.functions.GraftFunctions.dot_product(a, b)

  /** Codebook frame contract: (s INT, code INT, cvec ARRAY<DOUBLE>,
    * cnorm2 DOUBLE) — m·ksub rows, driver-small by construction (the
    * same contract as the IVF centroid table). */
  private[operators] val codebookSchemaDdl =
    "s INT, code INT, cvec ARRAY<DOUBLE>, cnorm2 DOUBLE"

  /** Vector dim, with the divisibility check PQ needs. One O(1)
    * driver peek at the first row — documented, like the centroid
    * collects. */
  private def dimOf(v: DataFrame, m: Int): Int = {
    val row = v.select(size(col("vec")).as("d")).head()
    val d = row.getInt(0)
    require(d % m == 0, s"pq: dim $d not divisible by m=$m subspaces")
    d
  }

  /** (id, s, sub): each vector exploded into its m subvectors. */
  private def subvectors(v: DataFrame, m: Int, dsub: Int): DataFrame =
    v.select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("s"),
      col("vec"))
      .select(col("id"), col("s"),
        slice(col("vec"), col("s") * dsub + 1, lit(dsub)).as("sub"))

  /** Deterministic pinned init: codebook entry (s, c) = subspace s of
    * the vector with the (c+1)-th lowest id. The PQ twin of
    * [[Similarity]]'s lowest-id coarse quantizer.
    *
    * The code column is NOT a window function: an unpartitioned rank
    * window sprays WindowExec's "moving all data to a single partition"
    * warning on every index build — and a single-partition window is a
    * scale bug pattern even over ≤ksub rows (the [[Relational.topK]]
    * lesson). The ksub seed rows are driver-small BY CONTRACT (they
    * become the broadcast codebook), so they are collected once —
    * KMeans' pinned init does the same — and the rank is just the
    * sorted row position; the codebook continues as a LOCAL relation,
    * exactly the broadcast-sized table it is. */
  def initCodebooks(vectors: DataFrame, m: Int, ksub: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val spark = vectors.sparkSession
    val v = vectors.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val dsub = dimOf(v, m) / m
    val rows = v.orderBy("id").limit(ksub).collect()
    // defensive driver-side re-sort: TakeOrderedAndProject returns the
    // rows sorted, but the Sort+GlobalLimit fallback (a lowered
    // topKSortFallbackThreshold) does not contractually keep them so
    val idIdx = rows.headOption.map(_.fieldIndex("id")).getOrElse(0)
    val idOrd: Ordering[Any] = v.schema("id").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
      case _ => Ordering.by((x: Any) => x.toString)
    }
    val seedRows = rows.sortBy(_.get(idIdx))(idOrd).zipWithIndex.map {
      case (r, i) => org.apache.spark.sql.Row(
        i, r.getSeq[Double](r.fieldIndex("vec")))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = true)))
    val seeds = spark.createDataFrame(
      java.util.Arrays.asList(seedRows: _*), schema)
    subvectors(seeds, m, dsub)
      .select(col("s"), col("id").cast("int").as("code"),
        col("sub").as("cvec"), dot(col("sub"), col("sub")).as("cnorm2"))
  }

  /** Nearest-codebook-entry assignment per (id, s): L2 distance
    * expanded as dot(s,s) − 2·dot(s,c) + dot(c,c) (index-order folds —
    * the exact arithmetic the oracle mirrors), ties to the LOWEST
    * code. The codebook is broadcast (m·ksub rows); the corpus×ksub
    * pairs stream through one partial min_by, collapsing map-side to
    * one row per subvector before the only shuffle. */
  private def assignSubs(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "s")
      .select(col("id"), col("s"), col("code"), col("cnorm2"), col("sub"),
        (dot(col("sub"), col("sub")) - lit(2.0) * dot(col("sub"), col("cvec"))
          + col("cnorm2")).as("d2"))
      .groupBy("id", "s")
      .agg(min_by(struct(col("code"), col("cnorm2"), col("sub")),
        struct(col("d2"), col("code"))).as("bc"))
      .select(col("id"), col("s"), col("bc.code").as("code"),
        col("bc.cnorm2").as("cnorm2"), col("bc.sub").as("sub"))

  /** Train codebooks: pinned init + `rounds` Lloyd rounds in L2 over
    * each subspace independently. After EVERY round entries are
    * rounded to 6 digits (the [[Similarity]] trained-quantizer
    * contract: boundary decisions are always made on identical entry
    * values across engines); an entry that attracts no subvectors
    * keeps its previous (rounded) value. rounds=0 is the pure pinned
    * init — the gate-oracle form. */
  def trainCodebooks(vectors: DataFrame, m: Int, ksub: Int,
      rounds: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val dsub = dimOf(v, m) / m
    val subs = (if (rounds > 0)
      subvectors(v, m, dsub)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else subvectors(v, m, dsub))
    var cb = initCodebooks(v, m, ksub)
    for (_ <- 1 to rounds) {
      val assigned = assignSubs(subs, cb)
      // per-dimension mean of the attracted subvectors, rounded
      val means = assigned
        .select(col("s"), col("code"),
          posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy("s", "code", "pos")
        .agg(round(avg(col("x")), 6).as("mx"))
        .groupBy("s", "code")
        .agg(sort_array(collect_list(struct(col("pos"), col("mx")))).as("l"))
        .select(col("s"), col("code"),
          transform(col("l"), e => e("mx")).as("mvec"))
      val next = cb.select(col("s"), col("code"), col("cvec"))
        .join(means, Seq("s", "code"), "left")
        .select(col("s"), col("code"),
          coalesce(col("mvec"),
            transform(col("cvec"), x => round(x, 6))).as("cvec"))
        .select(col("s"), col("code"), col("cvec"),
          dot(col("cvec"), col("cvec")).as("cnorm2"))
      // each round's codebook is driver-small: pin it so the next
      // round's assignment doesn't recompute the whole chain
      cb = next.localCheckpoint(true)
    }
    val out = cb
    if (rounds > 0) subs.unpersist(blocking = false)
    out
  }

  /** Encode every vector: (id, codes ARRAY<INT> ordered by subspace,
    * rnorm2 = |x̂|² as the s-ordered fold of the chosen entries'
    * norms — cached here so ADC never touches the codebook again for
    * stored vectors). */
  def encode(vectors: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    // dsub comes from the CODEBOOK (driver-small, never empty), so an
    // empty vector frame — e.g. a pure-deletion stream batch — encodes
    // to an empty frame instead of failing a first-row dim peek
    val dsub = codebooks.select(size(col("cvec")).as("d")).head().getInt(0)
    assignSubs(subvectors(v, m, dsub), codebooks)
      .groupBy("id")
      .agg(sort_array(collect_list(
        struct(col("s"), col("code"), col("cnorm2")))).as("e"))
      .select(col("id"),
        transform(col("e"), x => x("code")).as("codes"),
        aggregate(transform(col("e"), x => x("cnorm2")),
          lit(0.0), (a, x) => a + x).as("rnorm2"))
  }

  /** Encode + reconstruct: (id, codes ARRAY<INT> ordered by subspace,
    * rhat ARRAY<DOUBLE> = the concatenation of the chosen codebook
    * entries — the reconstruction of the INPUT vector). The residual
    * path needs the actual reconstruction (its cached norm is
    * |c + r̂|², which does not decompose into the entries' norms the
    * way [[encode]]'s |r̂|² does), so the chosen entries are fetched
    * by a broadcast join against the m·ksub codebook and concatenated
    * in subspace order. */
  private def encodeRecon(vectors: DataFrame, codebooks: DataFrame,
      m: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val dsub = codebooks.select(size(col("cvec")).as("d")).head().getInt(0)
    assignSubs(subvectors(v, m, dsub), codebooks)
      .join(broadcast(codebooks.select(col("s"), col("code"), col("cvec"))),
        Seq("s", "code"))
      .groupBy("id")
      .agg(sort_array(collect_list(
        struct(col("s"), col("code"), col("cvec")))).as("e"))
      .select(col("id"),
        transform(col("e"), x => x("code").cast("int")).as("codes"),
        flatten(transform(col("e"), x => x("cvec"))).as("rhat"))
  }

  /** Per-query ADC lookup tables: (qid, lut ARRAY<ARRAY<DOUBLE>>
    * indexed [s][code], qnorm). m·ksub small dots per query —
    * broadcast-sized by the ANN query contract. */
  private def queryLuts(queries: DataFrame, cb: DataFrame, m: Int,
      dsub: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"),
      col("vec").cast("array<double>").as("qvec"))
    val qsubs = q.select(col("qid"), col("qvec"),
      explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("qid"), col("qvec"), col("s"),
        slice(col("qvec"), col("s") * dsub + 1, lit(dsub)).as("qsub"))
    val lutS = qsubs.join(broadcast(cb), "s")
      .select(col("qid"), col("s"), col("code"),
        dot(col("qsub"), col("cvec")).as("dotv"))
      .groupBy("qid", "s")
      .agg(sort_array(collect_list(struct(col("code"), col("dotv")))).as("l"))
      .select(col("qid"), col("s"),
        transform(col("l"), x => x("dotv")).as("dots"))
    lutS.groupBy("qid")
      .agg(sort_array(collect_list(struct(col("s"), col("dots")))).as("l2"))
      .select(col("qid"), transform(col("l2"), x => x("dots")).as("lut"))
      .join(q.select(col("qid"),
        sqrt(dot(col("qvec"), col("qvec"))).as("qnorm")), "qid")
  }

  /** The ADC score column over an encoded row joined with its query's
    * lut: cosine(q, x̂) = (Σ_s lut[s][codes[s]]) / (|q|·|x̂|), the sum
    * the native codegen'd [[graft.functions.PqAdcSum]] (an s-ordered
    * index fold — bit-identical to the zip_with+aggregate HOF
    * formulation and the oracle's list_reduce, but it stays inside
    * whole-stage codegen: this is the ONE expression the ADC scan
    * runs per stored vector, and the interpreted HOF chain made the
    * probe CPU-bound at the 100× ScaleBench point). try_divide: a
    * zero reconstruction or zero query scores NULL, which sorts last
    * under the descending rank window. */
  private def adcScore: Column =
    try_divide(
      graft.functions.GraftFunctions.pq_adc(col("codes"), col("lut")),
      col("qnorm") * sqrt(col("rnorm2")))

  /** The residual (IVFADC) ADC score: the stored codes quantize
    * x − c(x), so dot(q, x̂) = dot(q, c) (the probe frame's `qcdot`,
    * per (query, probed list)) + the LUT sum over the residual
    * codebooks, and `rnorm2` caches |c + r̂|². Same m-lookup scan
    * cost; same NULL-sorts-last zero guard. */
  private def adcScoreRes: Column =
    try_divide(
      col("qcdot") +
        graft.functions.GraftFunctions.pq_adc(col("codes"), col("lut")),
      col("qnorm") * sqrt(col("rnorm2")))

  /** ADC top-`r` candidates per query over an encoded corpus:
    * each stored vector costs m lookups + m adds — no d-length dot
    * anywhere on the scan side. */
  def adcTopK(encoded: DataFrame, codebooks: DataFrame, queries: DataFrame,
      r: Int, m: Int): DataFrame = {
    graft.functions.GraftFunctions.register(encoded.sparkSession)
    // dsub from the CODEBOOK (driver-small, never empty), so an empty
    // query frame yields an empty result instead of failing a
    // first-row dim peek — the encode() precedent
    val dsub = codebooks.select(size(col("cvec")).as("d")).head().getInt(0)
    val luts = queryLuts(queries, codebooks, m, dsub)
    val scored = encoded.crossJoin(broadcast(luts))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"), adcScore.as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= r)
      .select("qid", "nid", "adc", "rk")
  }

  /** Full PQ search: encode under trained (or provided) codebooks, ADC
    * top-`rerank` candidates per query, then EXACT cosine re-ranks the
    * candidates from the raw vectors — the FAISS `IndexPQ + refine`
    * shape. The candidate set is |queries|·rerank (broadcast-sized),
    * so the rerank is a map-side semi-join against the corpus: the
    * heavy raw-vector column is read once, for candidates only.
    *
    * Same results contract as [[Similarity.bruteForceTopK]]
    * (qid, nid, cosine, rk); with `rerank` ≥ corpus size the result
    * EQUALS brute force exactly (spec-pinned), and recall at small
    * `rerank` degrades only through ADC's quantization error. */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int, m: Int,
      ksub: Int, rerank: Int, rounds: Int = 0,
      codebooks: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val v = vectors.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val cb = codebooks.getOrElse(trainCodebooks(v, m, ksub, rounds))
    val enc = encode(v, cb, m)
    val cands = adcTopK(enc, cb, queries, rerank, m)
      .select(col("qid"), col("nid"))
    val q = queries.select(col("id").as("qid"),
      col("vec").cast("array<double>").as("qvec"))
    val scored = v.select(col("id").as("nid"), col("vec").as("nvec"))
      .join(broadcast(cands), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        Similarity.cosine(col("qvec"), col("nvec")).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "nid", "cosine", "rk")
  }

  // ---- the on-disk IVF-PQ store (SegSwap family) --------------------------

  /** Lists schema: PQ codes + the cached reconstruction norm for the
    * SCAN side, the raw vector COLOCATED for the rerank side. Parquet
    * is columnar, so the ADC pass physically reads only the
    * (nid, codes, rnorm2, cid) columns — at 100 TB the heavy `nvec`
    * column is touched exclusively by the rerank's candidate reads
    * (|queries|·rerank rows, id-filtered over the probed partitions).
    * Raw vectors must live SOMEWHERE for exact reranking; colocating
    * them beats a second store: one swap, one epoch history, one
    * Forget purge covers both representations. */
  private[operators] val listsSchemaPqB =
    org.apache.spark.sql.types.StructType.fromDDL(
      "nid BIGINT, nvec ARRAY<DOUBLE>, codes ARRAY<INT>, rnorm2 DOUBLE, " +
        "cid BIGINT, _b INT")

  private def pqParams(m: Int, locB: Int, residual: Boolean)(
      lastBatch: Long): Seq[(String, Any)] =
    Seq("listsDdl" -> listsSchemaPqB.toDDL, "m" -> m,
      "lastBatch" -> lastBatch, "locB" -> locB,
      "residual" -> (if (residual) 1 else 0))

  /** Build the IVF-PQ index on disk — the same store layout contract
    * as [[Similarity.buildIvfIndex]] (cid-partitioned lists, frozen
    * quantizer dirs, params marker, shared journaled swap) with the
    * vector payload product-quantized. The coarse quantizer AND the
    * codebooks freeze at build time: both are part of the index
    * identity (retraining either is a rebuild, not an update), which
    * is what makes increments and stream maintenance exact.
    *
    * `residual = true` is the paper's actual IVFADC form (Jégou et
    * al., TPAMI 2011 §IV.A): each vector encodes its RESIDUAL against
    * its coarse centroid, `x − c(x)` — residuals concentrate near the
    * origin regardless of which list a vector landed in, so the same
    * code budget quantizes a much tighter distribution and ADC recall
    * at a fixed rerank rises (spec-measured). The codebooks then train
    * on (and freeze over) the residual distribution, the cached norm
    * becomes |c + r̂|² (the full reconstruction — it no longer
    * decomposes into entry norms), and the probe adds one
    * query×probed-centroid dot per (query, list): cosine(q, x̂) =
    * (dot(q, c) + Σ_s lut[s][codes_s]) / (|q|·|x̂|). Scan cost per
    * stored vector is unchanged — m lookups + m adds. */
  def buildIvfPqIndex(vectors: DataFrame, path: String, nlist: Int = 256,
      m: Int = 8, ksub: Int = 16, pqRounds: Int = 0,
      centroids: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None,
      centroidFoldLimit: Int = 64, locBuckets: Int = 0,
      residual: Boolean = false): Unit = {
    val spark = vectors.sparkSession
    graft.functions.GraftFunctions.register(spark)
    SegSwap.resetForInit(SegSwap.fsOf(spark, path), path)
    val v = vectors.select(col("id").cast("long").as("nid"),
      col("vec").cast("array<double>").as("nvec"))
    // both quantizer frames may be lazy reads of THIS index's own dirs
    // (the frozen-quantizer rebuild-in-place shape): pin the
    // driver-small frames before the overwrite writes target the paths
    // they read
    val cents = Similarity.normalizedCentroids(v, centroids, nlist)
      .localCheckpoint(true)
    SegSwap.writeTable(cents, s"$path/centroids")
    val assigned0 = Similarity.assignToLists(v, cents, centroidFoldLimit)
    var releaseRes: () => Unit = () => ()
    val assigned = (if (!residual) {
      val cb = codebooks.getOrElse(trainCodebooks(
        v.select(col("nid").as("id"), col("nvec").as("vec")), m, ksub,
        pqRounds)).localCheckpoint(true)
      SegSwap.writeTable(cb, s"$path/codebooks")
      val enc = encode(
        v.select(col("nid").as("id"), col("nvec").as("vec")), cb, m)
      assigned0.join(enc.withColumnRenamed("id", "nid"), "nid")
        .withColumn("_b", col("cid").cast("int"))
        .select("nid", "nvec", "codes", "rnorm2", "cid", "_b")
    } else {
      // IVFADC: assignment first, then everything downstream runs on
      // the residual x − c(x). zip_with's element order mirrors the
      // oracle's list comprehension exactly (same subtraction, same
      // index order)
      val withRes = assigned0
        .join(broadcast(cents), "cid")
        .select(col("cid"), col("cvec"), col("nid"), col("nvec"),
          zip_with(col("nvec"), col("cvec"), (x, c) => x - c).as("rvec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cb = codebooks.getOrElse(trainCodebooks(
        withRes.select(col("nid").as("id"), col("rvec").as("vec")), m,
        ksub, pqRounds)).localCheckpoint(true)
      SegSwap.writeTable(cb, s"$path/codebooks")
      val encR = encodeRecon(
        withRes.select(col("nid").as("id"), col("rvec").as("vec")), cb, m)
      val out = withRes
        .join(encR.withColumnRenamed("id", "nid"), "nid")
        .withColumn("_xhat",
          zip_with(col("cvec"), col("rhat"), (c, r) => c + r))
        .withColumn("_b", col("cid").cast("int"))
        .select(col("nid"), col("nvec"), col("codes"),
          dot(col("_xhat"), col("_xhat")).as("rnorm2"), col("cid"),
          col("_b"))
      // released only after `assigned` materializes below — the big
      // encode+join consumer reads the cached residuals, not a redo
      releaseRes = () => { withRes.unpersist(blocking = false); () }
      out
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // locBuckets = 0 → size by the build corpus ([[Similarity.autoLocB]]);
    // the count also pins `assigned` before its upstream caches release
    val rows = assigned.count()
    val locB = if (locBuckets > 0) locBuckets else Similarity.autoLocB(rows)
    SegSwap.writeBuckets(assigned, s"$path/lists")
    SegSwap.writeBuckets(assigned.select(col("nid"), col("cid"))
      .withColumn("_b", Similarity.locBucket(col("nid"), locB)), s"$path/loc")
    // released only after BOTH writes that consume `assigned`: if an
    // evicted MEMORY_AND_DISK partition of `assigned` recomputes during
    // the lists/loc writes, it must read the cached residuals, not redo
    // the full residual encode+join chain
    releaseRes()
    assigned.unpersist(blocking = false)
    SegSwap.writeParamsTo(spark, s"$path/params",
      pqParams(m, locB, residual)(-1L))
  }

  /** The `residual` key's schema-evolution default: an index written
    * before the flag existed IS a raw (non-residual) index — reading 0
    * is correct, not a guess, so a pre-existing durable store stays
    * probeable/updatable across the upgrade instead of demanding a
    * re-init. */
  private val residualDefault = Map[String, Any]("residual" -> 0)

  /** (m, residual) from the index's params — one read serves both. */
  private def readMRes(spark: SparkSession, path: String): (Int, Boolean) = {
    val r = SegSwap.readParamsRow(spark, path, Seq("m", "residual"),
      "ivfpq", residualDefault)
    (r.getInt(0), r.getInt(1) == 1)
  }

  /** Probe a [[buildIvfPqIndex]] index: coarse-probe the `nprobe`
    * nearest lists per query (partition pruning skips every unprobed
    * list's files), ADC-score their members reading the CODE columns
    * only, keep the `rerank` best candidates per query, and exact-
    * rerank just those rows' raw vectors (an id-literal filter over
    * the probed partitions — parquet row-group pushdown, |q|·rerank
    * driver ids by the ANN query contract). Journal-resolved reads,
    * as the family requires. */
  def probeIvfPqIndex(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 8, rerank: Int = 32): DataFrame = {
    val (m, res) = readMRes(spark, path)
    probePq(spark, queries, k, nprobe, rerank, m,
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebooks"),
      SegSwap.resolvedTable(spark, path, "lists", listsSchemaPqB),
      residual = res)
  }

  /** Probe AS OF `epoch` — yesterday's ANN answers under yesterday's
    * lists; both quantizers are frozen so only the lists need the
    * epoch ([[Similarity.probeIvfIndexAt]]'s contract). */
  def probeIvfPqIndexAt(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int,
      epoch: Long): DataFrame = {
    // m/residual resolved from the SAME commit as the snapshot lists —
    // both are build-frozen today, but the as-of contract is that every
    // param a derived read depends on comes from the requested epoch
    val r = SegSwap.readParamsAt(spark, path, "ivfpq", epoch, residualDefault)
    val (m, res) = (r.int("m"), r.int("residual") == 1)
    probePq(spark, queries, k, nprobe, rerank, m,
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebooks"),
      SegSwap.snapshotTable(spark, path, "lists", listsSchemaPqB, epoch),
      residual = res)
  }

  private[graft] object IvfPqStore extends Similarity.IvfIndexStore(
    "ivfpq", listsSchemaPqB, Seq("centroids", "codebooks"), residualDefault)

  /** [[Similarity.IvfIndexStore.rebucketLoc]] for the PQ index. */
  def ivfPqRebucketLoc(spark: SparkSession, path: String,
      newLocB: Int): Unit =
    IvfPqStore.rebucketLoc(spark, path, newLocB)

  /** Roll the index back to `epoch` — the family contract verbatim. */
  def ivfPqRollbackTo(spark: SparkSession, path: String, epoch: Long): Unit =
    IvfPqStore.rollbackTo(spark, path, epoch)

  /** Publish the index AS OF `epoch` to `dst` as a standalone index
    * (lists + both frozen quantizers + params). */
  def ivfPqExportAt(spark: SparkSession, path: String, epoch: Long,
      dst: String): Unit =
    IvfPqStore.exportAt(spark, path, epoch, dst)

  private def probePq(spark: SparkSession, queries: DataFrame, k: Int,
      nprobe: Int, rerank: Int, m: Int, cents: DataFrame, cb: DataFrame,
      lists: DataFrame, residual: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val q = queries.select(col("id").as("qid"),
      col("vec").cast("array<double>").as("qvec"))
    // dsub from the codebook — an empty query frame must probe to an
    // empty result, not fail a first-row dim peek
    val dsub = cb.select(size(col("cvec")).as("d")).head().getInt(0)
    // coarse probe: nprobe nearest centroids per query (the
    // Similarity.probeLists probe window, same tie-breaking). ONLY the
    // residual form carries dot(q, centroid) per probed list — the
    // query-dependent half of dot(q, x̂) = dot(q, c) + dot(q, r̂),
    // |q|·nprobe extra doubles riding a frame that exists anyway; the
    // raw form skips the column (a dead |q|×nlist dot pass otherwise).
    val pw = Window.partitionBy("qid").orderBy(col("c").desc, col("cid").asc)
    val probeCols = Seq(col("qid"), col("cid"),
      Similarity.cosine(col("qvec"), col("cvec")).as("c")) ++
      (if (residual) Seq(graft.functions.GraftFunctions.dot_product(
        col("qvec"), col("cvec")).as("qcdot")) else Nil)
    val keepCols = Seq(col("cid"), col("qid")) ++
      (if (residual) Seq(col("qcdot")) else Nil)
    val probes = q.crossJoin(broadcast(cents))
      .select(probeCols: _*)
      .withColumn("rk", row_number().over(pw)).filter(col("rk") <= nprobe)
      .select(keepCols: _*)
    // Pin the probe window + LUT join ONCE as a tiny leaf (|q|·nprobe
    // rows): lazily it would be RECOMPUTED — a full coarse-probe window
    // over the query scan plus the LUT aggregation — inside every
    // downstream job that references it (the probed-cid collect, each
    // layout's broadcast builds, the rerank actions), each recompute
    // shipping a ~2 MiB task binary (the serialized window+LUT subtree;
    // the round-15 verdict's "large task binary" warning) and re-running
    // a ~50-task scan. The probed-cid set rides the same job (§1.2).
    val probesP = org.apache.spark.sql.graft.GraftSqlShim.pin(
        probes.join(queryLuts(q.select(col("qid").as("id"),
          col("qvec").as("vec")), cb, m, dsub), "qid")
          .withColumn("_pb", col("cid").cast("int")), Seq("_pb"))
    val probesL = probesP.leaf.drop("_pb")
    val probedCids = probesP.sets.head
    // the literal IN on the partition column prunes unprobed lists' FILES
    val pruned = lists.filter(col("_b").isin(probedCids.toSeq.map(c =>
      Integer.valueOf(c)): _*))
    // ADC over the probed lists: column pruning keeps nvec unread here
    val adcCol = if (residual) adcScoreRes else adcScore
    val cands = {
      val scored = pruned.select("cid", "nid", "codes", "rnorm2")
        .join(broadcast(probesL), "cid")
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), adcCol.as("adc"))
      val w = Window.partitionBy("qid").orderBy(col("adc").desc, col("nid").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= rerank)
        .select("qid", "nid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // exact rerank: candidate ids as a pushed-down row filter over the
    // probed partitions — the ONLY reads of the heavy nvec column
    val candIds = cands.select("nid").distinct().collect().map(_.getLong(0))
    val scored = pruned
      .filter(col("nid").isin(candIds.map(java.lang.Long.valueOf): _*))
      .select(col("nid"), col("nvec"))
      .join(broadcast(cands), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        Similarity.cosine(col("qvec"), col("nvec")).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
    // the library cache-release contract ([[Similarity.embeddingNearDups]]):
    // the (|q|·k-row) result comes back EAGER and persisted with the
    // candidate cache released — returning it lazy would re-run the ADC
    // stage after its input cache is gone
    val out = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cosine", "rk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cands.unpersist(blocking = false)
    probesP.release()
    out
  }

  /** Incrementally maintain the IVF-PQ index over a ±vector delta —
    * [[Similarity.updateIvfIndex]]'s contract with BOTH quantizers
    * frozen: added vectors assign under the stored centroids and
    * encode under the stored codebooks, so the updated index equals a
    * full [[buildIvfPqIndex]] over the post-delta corpus with the same
    * frozen tables (spec-pinned). Only touched lists rewrite; the
    * optional `batchId` stream fence rides the params dir atomically
    * with the swap ([[graft.streaming.StreamMaintain.ivfPqBatch]]). */
  def updateIvfPqIndex(spark: SparkSession, path: String,
      addedVecs: DataFrame, removedIds: DataFrame,
      centroidFoldLimit: Int = 64,
      batchId: Option[Long] = None): Option[StorePolicy.ContinueAdvice] = {
    graft.functions.GraftFunctions.register(spark)
    SegSwap.withWriterLease(spark, path) { lease =>
      SegSwap.recover(spark, path)
      // one params read serves fence + m + locB + residual (per-trigger
      // hot path)
      val pr = SegSwap.readParamsRow(spark, path,
        Seq("lastBatch", "m", "locB", "residual"), "ivfpq",
        residualDefault)
      if (batchId.exists(_ <= pr.getLong(0))) None
      else {
        val m = pr.getInt(1)
        val locB = pr.getInt(2)
        val residual = pr.getInt(3) == 1
        val cents = spark.read.parquet(s"$path/centroids")
        val cb = spark.read.parquet(s"$path/codebooks")
        val added = addedVecs.select(col("id").cast("long").as("nid"),
          col("vec").cast("array<double>").as("nvec"))
        val assigned0 = Similarity
          .assignToLists(added, cents, centroidFoldLimit)
        val assigned = (if (!residual) {
          val enc = encode(added.select(col("nid").as("id"),
            col("nvec").as("vec")), cb, m)
          assigned0.join(enc.withColumnRenamed("id", "nid"), "nid")
            .withColumn("_b", col("cid").cast("int"))
            .select("nid", "nvec", "codes", "rnorm2", "cid", "_b")
        } else {
          // encode the RESIDUAL under the frozen codebooks — the build's
          // arithmetic verbatim, O(delta) rows
          val withRes = assigned0
            .join(broadcast(cents), "cid")
            .select(col("cid"), col("cvec"), col("nid"), col("nvec"),
              zip_with(col("nvec"), col("cvec"), (x, c) => x - c).as("rvec"))
          val encR = encodeRecon(
            withRes.select(col("nid").as("id"), col("rvec").as("vec")),
            cb, m)
          withRes
            .join(encR.withColumnRenamed("id", "nid"), "nid")
            .withColumn("_xhat",
              zip_with(col("cvec"), col("rhat"), (c, r) => c + r))
            .withColumn("_b", col("cid").cast("int"))
            .select(col("nid"), col("nvec"), col("codes"),
              dot(col("_xhat"), col("_xhat")).as("rnorm2"), col("cid"),
              col("_b"))
        }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val gone = removedIds
          .select(col(removedIds.columns.head).cast("long").as("_rid"))
          .unionByName(added.select(col("nid").as("_rid")))
        val advice = Similarity.applyListsDelta(spark, path, assigned,
          gone, listsSchemaPqB, locB, pqParams(m, locB, residual),
          batchId, lease, "ivfpq")
        assigned.unpersist(blocking = false)
        advice
      }
    }
  }
}
