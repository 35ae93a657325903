package graft

import org.apache.spark.sql.functions._

import graft.algorithms.{IncrementalPageRank, PageRank}
import graft.operators.{Dedup, Relational, Similarity}

/** Round-5 scale/lifecycle contracts:
  *  - raw checkpoint blocks (invisible to `clearCache`) are freed
  *    deterministically by the loop/release machinery — the round-2..4
  *    bench-variance source;
  *  - pinned-leaf statistics come from real cached bytes, so
  *    wide array state can't be auto-broadcast off a schema guess;
  *  - durable mode writes ONLY state segments and deletes retired dirs;
  *  - the n-gram df path has no hot-key window;
  *  - IVF indexes every vector (zero-norm included) and survives
  *    trained-index centroid counts via the broadcast fallback;
  *  - the terasort validator compares strings in UTF-8 (Spark/DuckDB)
  *    order, not Java's UTF-16 order.
  */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(n: Int, e: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (1 to e).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  test("edge-store pruned reads are partition-pruned parquet scans") {
    // the StaticSource contract is only O(delta) if the bucket filter
    // actually reaches the scan as a PARTITION filter — a post-scan
    // filter would read the whole relation and silently void the
    // design (this is the .explain discipline, pinned as a spec)
    val edges = (0L until 200L).map(i => (i, (i * 7 + 1) % 200))
      .toDF("src", "dst")
    val p = java.nio.file.Files
      .createTempDirectory("graft_prune_probe").toString
    IncrementalPageRank.initEdgeStore(spark, p, edges, nBuckets = 8)
    val h = graft.operators.KeyedUpsertStore.open(spark, p)
    val df = h.pruned(Set(1, 3))
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, "expected a parquet file scan leaf")
    assert(scan.get.partitionFilters.exists(_.toString.contains("_b")),
      s"bucket filter did not reach the scan's partition filters: " +
        s"${scan.get.partitionFilters}")
    // and the pruned read returns exactly the requested buckets' rows
    val want = graft.operators.KeyedUpsertStore.rows(spark, p)
      .filter(h.bucketOf(col("src")).isin(1, 3)).count()
    assert(df.count() == want && want > 0)
  }

  test("matvec store-fed continuation equals the in-memory twin (StaticSource is not PageRank-shaped)") {
    import graft.algorithms.IncrementalMatVec
    import graft.operators.KeyedUpsertStore
    // deterministic sparse 40x40 damped row-normalized matrix
    val cells = (for (i <- 0L until 40L; j <- Seq((i * 7 + 1) % 40, (i * 3 + 2) % 40, (i * 11 + 5) % 40)
      if i != j) yield (i, j)).distinct
      .map { case (i, j) => (i, j, 1.0 + (i * 13 + j * 7) % 5) }
      .toDF("i", "j", "w")
    val rs = cells.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = cells.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .localCheckpoint(true)
    val b = IncrementalMatVec.universe(m1, 0.2).localCheckpoint(true)
    val sp = java.nio.file.Files
      .createTempDirectory("graft_mv_state").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_mv_cells").toString
    IncrementalMatVec.preserveTo(spark, sp, m1, b, iterations = 3,
      nBuckets = 8)
    IncrementalMatVec.initCellStore(spark, cp, m1, nBuckets = 8)
    // delta REPLACES the changed columns' cells (halved weights)
    val chg = m1.filter(col("j") % 10 === 3).select("j").distinct()
      .localCheckpoint(true)
    val patch = m1.filter(col("j") % 10 === 3)
      .select(col("i"), col("j"), (col("v") * 0.5).as("v"))
      .localCheckpoint(true)
    val (out, advice) = IncrementalMatVec.incrementalFromStores(spark,
      sp, cp, patch, chg, b, iterations = 2, filterThreshold = 0.0)
    val got = out.as[(Long, Double)].collect().toMap
    assert(advice.isDefined)
    // in-memory twin on the same inputs
    val m2 = m1.withColumn("v",
      when(col("j") % 10 === 3, col("v") * 0.5).otherwise(col("v")))
    val preserved = IncrementalMatVec.preserve(m1, b, iterations = 3)
    val want = IncrementalMatVec.incremental(m2, b, preserved, chg,
      iterations = 2, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for (k <- want.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"idx $k store=${got(k)} mem=${want(k)}")
    // the fixed apply order's second half: upsert the patch, then the
    // cell store holds exactly the post-delta matrix
    KeyedUpsertStore.upsertBatch(spark, cp, patch,
      spark.range(0).toDF("j"), 0L)
    val gotCells = KeyedUpsertStore.rows(spark, cp)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotCells == m2.as[(Long, Long, Double)].collect().toSet)
    preserved.release()
    spark.catalog.clearCache()
  }

  test("seg continuation surfaces ContinueAdvice programmatically") {
    // a delta whose footprint crosses the ~10% touched-bucket crossover
    // carries rebuildRecommended on the RESULT (not only stderr); a
    // frontier-local delta on a wide-bucket store does not
    val chain = (100L to 160L).map(i => (i, i + 1)).toDF("src", "dst")
    val store = java.nio.file.Files
      .createTempDirectory("graft_advice_store").toString
    IncrementalPageRank.preserveTo(spark, store, chain, 0.8,
      iterations = 2, nBuckets = 64)
    // tiny delta, 1 round: touches O(1) of 64 buckets -> no rebuild flag
    val e2 = chain.filter(col("src") =!= 100L)
      .unionByName(Seq((100L, 150L)).toDF("src", "dst"))
    val (_, a1) = IncrementalPageRank.incrementalSegAdvised(spark, store,
      e2, Seq(100L).toDF("src"), 0.8, iterations = 1,
      filterThreshold = 0.0)
    assert(a1.isDefined, "a committing continuation must carry advice")
    assert(!a1.get.rebuildRecommended,
      s"frontier-local delta flagged rebuild: ${a1.get}")
    assert(a1.get.totalBuckets == 64)
    // corpus-wide delta: every source rewired -> footprint >= crossover
    val chg = e2.select("src").distinct()
    val e3 = e2.select(col("src"), (col("dst") + 1).as("dst"))
    val (_, a2) = IncrementalPageRank.incrementalSegAdvised(spark, store,
      e3, chg, 0.8, iterations = 2, filterThreshold = 0.0)
    assert(a2.exists(_.rebuildRecommended),
      s"corpus-wide delta must recommend rebuild, got $a2")
    // the mechanical hook: fires on the over-crossover advice only
    var rebuilds = 0
    assert(!graft.operators.StorePolicy
      .autoRebuildIfRecommended(a1)(_ => rebuilds += 1))
    assert(graft.operators.StorePolicy
      .autoRebuildIfRecommended(a2)(_ => rebuilds += 1))
    assert(rebuilds == 1)
    spark.catalog.clearCache()
  }

  test("preserve + incremental + release leaves no cached RDDs behind") {
    // Baseline AFTER a cache clear: earlier suites may legitimately hold
    // session-lifetime caches; this spec owns everything it creates.
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val base = randomEdges(60, 220, seed = 21)
    val edges1 = base.toDF("src", "dst")
    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 8)
    val changed = base.map(_._1).distinct.filter(_ < 10)
    val edges2 = base.filterNot { case (s, _) => s < 10 }
      .++(changed.map(s => (s, (s * 13 + 3) % 60)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val result = IncrementalPageRank.incremental(
      edges2, preserved, changed.toDF("src"), 0.5,
      iterations = 6, filterThreshold = 0.0)
    assert(result.count() > 0)

    // library release contract: result cache + preserved-state caches
    result.unpersist(blocking = true)
    preserved.release()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"lingering persistent RDDs after release: ${after.mkString(", ")}")
  }

  test("naive baselines leave no raw checkpoint blocks after consumption") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = randomEdges(50, 150, seed = 5).toDF("src", "dst")
    val naive = PageRank.runNaive(edges, 0.5, iterations = 5)
    assert(naive.count() > 0)
    naive.unpersist(blocking = true)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"lingering persistent RDDs after naive run: ${after.mkString(", ")}")
  }

  test("checkpointedLeaf stats reflect real cached bytes for array state") {
    // 30k rows x 64 doubles ≈ 15 MB cached — but rows × schema.defaultSize
    // (ArrayType assumes ONE element) would claim ~0.7 MB and let the
    // planner broadcast multi-hundred-MB state at production scale.
    val wide = spark.range(30000).select(col("id"),
      array((0 until 64).map(i => (col("id") * i).cast("double")): _*).as("vec"))
    val p = org.apache.spark.sql.graft.GraftSqlShim.pin(wide)
    val (leaf, rows, release) = (p.leaf, p.rows, p.release)
    try {
      assert(rows == 30000)
      val stats = leaf.queryExecution.optimizedPlan.stats
      val tenMb = 10L * 1024 * 1024
      assert(stats.sizeInBytes > tenMb,
        s"sizeInBytes ${stats.sizeInBytes} understates ~15 MB of array state")
      // default autoBroadcastJoinThreshold is 10 MB: a self-join must
      // therefore NOT hash-broadcast this state
      val plan = leaf.as("a").join(leaf.as("b"), "id")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"array state was auto-broadcast:\n$plan")
    } finally release()
  }

  test("releasing a checkpointed leaf frees its storage blocks") {
    val df = spark.range(10000).select(col("id"), (col("id") * 2).as("v"))
    val p = org.apache.spark.sql.graft.GraftSqlShim.pin(df)
    val (leaf, release) = (p.leaf, p.release)
    assert(leaf.count() == 10000)
    val cachedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    release()
    // unpersist is async (blocking=false); poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def gone(): Boolean = {
      val now = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      (cachedBefore -- now).nonEmpty || now.isEmpty
    }
    while (!gone() && System.nanoTime() < deadline) Thread.sleep(100)
    assert(gone(), "checkpointed leaf blocks still cached after release()")
  }

  test("pin: rows, int sets and exact long sums from one job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graft.GraftSqlShim
    import org.apache.spark.sql.types._
    // two `half`s overflow a Long: partition 0 overflows on its own,
    // and the two partitions' sums overflow again when combined
    val half = Long.MaxValue / 2 + 1
    val rows = Seq(Row(1, half), Row(2, half), Row(null, null),
      Row(2, half), Row(3, null), Row(null, 7L))
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", LongType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    var p: GraftSqlShim.Pinned = null
    assert(jobsOf { p = GraftSqlShim.pin(df, sets = Seq("k"), sums = Seq("v")) } == 1)
    try {
      assert(p.rows == 6)
      assert(p.sets == Seq(Set(1, 2, 3)))
      assert(p.sums == Seq(BigInt(half) * 3 + 7))
      assert(p.leaf.count() == 6)
    } finally p.release()
    val notInt = intercept[IllegalArgumentException](
      GraftSqlShim.pin(df, sets = Seq("v")))
    assert(notInt.getMessage.contains("INT column 'v'"), notInt.getMessage)
    val notLong = intercept[IllegalArgumentException](
      GraftSqlShim.pin(df, sums = Seq("k")))
    assert(notLong.getMessage.contains("LONG column 'k'"), notLong.getMessage)
  }

  test("a continuation that throws releases the leaves it pinned") {
    import graft.operators.TfidfStore
    val dir = java.nio.file.Files.createTempDirectory("graft_pinfail").toString
    TfidfStore.init(spark, dir, Seq((1L, "a b c"), (2L, "b c d"))
      .toDF("doc_id", "text"), "doc_id", "text", nBuckets = 4)
    // column pruning keeps the UDF out of the ids pin, which succeeds;
    // the tf pin evaluates it and fails
    val boom = udf((s: String) =>
      if (s == null) s else throw new IllegalStateException("boom"))
    val added = Seq((3L, "x y")).toDF("doc_id", "raw")
      .select(col("doc_id"), boom(col("raw")).as("text"))
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val e = intercept[Exception](TfidfStore.continueAt(spark, dir, added,
      Seq(1L).toDF("doc_id"), "doc_id", "text"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    // unpersist is async (blocking=false); poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leaked(): Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet -- before
    while (leaked().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked().isEmpty, s"RDDs still cached after the failed call: ${leaked()}")
  }

  test("durable mode writes only state segments and prunes retired dirs") {
    val base = randomEdges(50, 180, seed = 33)
    val edges1 = base.toDF("src", "dst")
    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 6)
    val changed = base.map(_._1).distinct.filter(_ % 5 == 0)
    val edges2 = base.filterNot { case (s, _) => s % 5 == 0 }
      .++(changed.map(s => (s, (s * 17 + 7) % 50)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_hygiene").toString
    val out = IncrementalPageRank.incremental(
      edges2, preserved, changed.toDF("src"), 0.5, iterations = 6,
      filterThreshold = 0.0, durableStatePath = Some(dir))
    assert(out.count() > 0)
    val segDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("seg-"))
    // 6 θ=0 iterations create 2 init + 12 dirty + up-to-4 compacted state
    // segments and ~19 scratch frames (frontier/fresh/affected). If
    // scratch hit the durable path, or retired segments were never
    // deleted, ≥ 18 dirs survive. The live manifest after the final
    // compaction cycle is bounded by 2 stores × (1 compacted + 2 dirty).
    assert(segDirs.nonEmpty, "no durable state segments on disk")
    assert(segDirs.length <= 8,
      s"${segDirs.length} seg dirs left — scratch written durably or retired dirs not pruned: " +
        segDirs.map(_.getName).mkString(", "))
  }

  test("ngram jaccard df path: no window, hot shingle bounded") {
    // one boilerplate shingle shared by 100k docs: with the old
    // count-over-window df every occurrence shuffled to ONE partition;
    // the groupBy+broadcast-anti shape never moves the posting list on
    // the hot key. maxDf excludes it from candidates entirely.
    val docs = spark.range(100000).select(col("id"),
      concat(lit("common boiler plate tail"), col("id").cast("string")).as("text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", w = 3,
      threshold = 0.5, maxDf = 128)
    val logicalWindows = pairs.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(logicalWindows.isEmpty,
      "df path still plans a Window — hot-shingle shuffle hazard")
    assert(pairs.count() == 0) // no rare shingle is shared
  }

  test("ivf indexes zero-norm vectors: nprobe==nlist equals brute force") {
    val vecs = spark.range(1, 41).select(col("id"),
      when(col("id") === 7, array(lit(0.0), lit(0.0), lit(0.0)))
        .otherwise(array(sin(col("id") * 1.0), cos(col("id") * 2.0),
          sin(col("id") * 3.0))).as("vec"))
    val queries = vecs.filter(col("id").isin(3, 7, 20))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = key(Similarity.bruteForceTopK(vecs, queries, k = 5))
    val ivf = key(Similarity.ivfTopK(vecs, queries, k = 5, nlist = 8, nprobe = 8))
    assert(ivf == brute,
      s"ivf(nprobe==nlist) != brute force;\nonly-ivf=${ivf -- brute}\nonly-bf=${brute -- ivf}")
    // and the zero vector itself is a query with full neighbor coverage
    assert(ivf.count(_._1 == 7L) == 5)
  }

  test("ivf broadcast fallback at large nlist matches the literal fold") {
    val vecs = spark.range(1, 301).select(col("id"),
      array(sin(col("id") * 1.0), cos(col("id") * 2.0),
        sin(col("id") * 3.0), cos(col("id") * 5.0)).as("vec"))
    val queries = vecs.filter(col("id") <= 5)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // same nlist, forced down each path: identical assignment semantics
    val fold = key(Similarity.ivfTopK(vecs, queries, k = 5, nlist = 50,
      nprobe = 6, centroidFoldLimit = 1000))
    val bcast = key(Similarity.ivfTopK(vecs, queries, k = 5, nlist = 50,
      nprobe = 6, centroidFoldLimit = 1))
    assert(fold == bcast)
    // trained-index scale: nlist beyond any codegen'd literal fold runs
    // on the broadcast path and still equals brute force at full probe
    val big = key(Similarity.ivfTopK(vecs, queries, k = 5, nlist = 1024,
      nprobe = 1024))
    val brute = key(Similarity.bruteForceTopK(vecs, queries, k = 5))
    assert(big == brute)
  }

  test("trained-centroid IVF: KMeans centers wired in, recall >= lowest-id init") {
    // the trained path (pass centroids = KMeans.run output) — the
    // lowest-id default is the deterministic gate shape, but a real
    // index trains its coarse quantizer; recall at partial probe must
    // not regress vs the untrained baseline on the same probe budget
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val queries = embs.filter(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, queries, k = 5))
    val model = graft.algorithms.KMeans.run(embs, k = 8, metric = "cosine",
      maxIterations = 5)
    val centDf = model.centers.toSeq
      .map { case (cid, v) => (cid.toLong, v.toSeq) }
      .toDF("id", "vec")
    // this synthetic table is structure-less (near-uniform vectors), so
    // training moves recall only slightly — measured sweep: trained wins
    // at nprobe=4 (0.92 vs 0.90), loses at starved probe budgets where
    // boundary effects dominate; both paths are deterministic, so the
    // assertion is stable
    val trained = pairs(Similarity.ivfTopK(embs, queries, k = 5,
      nlist = 8, nprobe = 4, centroids = Some(centDf)))
    val baseline = pairs(Similarity.ivfTopK(embs, queries, k = 5,
      nlist = 8, nprobe = 4))
    def recall(got: Set[(Long, Long)]) = (exact & got).size.toDouble / exact.size
    assert(recall(trained) >= recall(baseline),
      s"trained recall ${recall(trained)} < baseline ${recall(baseline)}")
    assert(recall(trained) >= 0.5, s"trained recall ${recall(trained)} too low")
    // contract regardless of centroid quality: probing EVERY trained
    // list is exactly brute force (index completeness under trained
    // centroids, not just the lowest-id init the other specs pin)
    val fullProbe = pairs(Similarity.ivfTopK(embs, queries, k = 5,
      nlist = 8, nprobe = 8, centroids = Some(centDf)))
    assert(fullProbe == exact, "trained full probe != brute force")
    // trained centroids also drive the on-disk index build
    val dir = java.nio.file.Files.createTempDirectory("ivf_trained").toString
    Similarity.buildIvfIndex(embs, dir, nlist = 8, centroids = Some(centDf))
    val probed = pairs(Similarity.probeIvfIndex(spark, dir, queries,
      k = 5, nprobe = 4))
    assert(probed == trained, "on-disk trained index diverges from inline")
  }

  test("connectedComponents: min-label fixpoint matches driver-side BFS") {
    // chain 1-2-3-4, clique 10-11-12, bridge 12-20, singleton-pair 30-31
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 20L), (31L, 30L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 10L, 30L -> 30L, 31L -> 30L)
    assert(got == want, s"got $got")

    // random graph vs BFS oracle
    val rnd = new scala.util.Random(13)
    val rndPairs = (1 to 120).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.distinct
    val adj = rndPairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def bfsMin(start: Long): Long = {
      var seen = Set(start); var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      seen.min
    }
    val got2 = Dedup.connectedComponents(rndPairs.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (n <- adj.keys) assert(got2(n) == bfsMin(n), s"node $n")
    // and nothing cached leaks out of the operator beyond its result
    val out = Dedup.connectedComponents(pairs)
    out.unpersist(blocking = true)
  }

  test("component-based cleaning keeps exactly the cluster minima") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cleaned = graft.operators.Pipeline.cleanCorpusByComponents(
      docs, "doc_id", "text", minQuality = 0.3, lang = "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // reconstruct the expected survivor set from the same stages
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val kept = docs.filter(
      graft.functions.TextFunctions.qualityScore(toks) >= 0.3 &&
        graft.functions.TextFunctions.langIdHeuristic(toks) === "en")
    val firstIds = kept.groupBy(col("text")).agg(min(col("doc_id")).as("_keep"))
    val deduped = kept.join(firstIds.select(col("_keep")),
      col("doc_id") === col("_keep"), "left_semi")
    val dedupedIds = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.simhashNearDups(deduped, "doc_id", "text", 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def compMin(start: Long): Long = {
      var seen = Set(start); var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      seen.min
    }
    val expect = dedupedIds.filter(id => !adj.contains(id) || compMin(id) == id)
    assert(cleaned == expect,
      s"only-cleaned=${(cleaned -- expect).take(5)} only-expect=${(expect -- cleaned).take(5)}")
    // transitive policy: never keeps two members of one component
    assert(cleaned.forall(id => !adj.contains(id) || compMin(id) == id))
  }

  test("new-operator edge cases: empty pairs, self-pairs, rate extremes, empty docs") {
    // connectedComponents: empty pair list → empty result, no job storm
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
    // self-pairs are harmless (a node alone in a self-loop is its own comp)
    val selfy = Dedup.connectedComponents(
      Seq((5L, 5L), (5L, 6L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfy == Map(5L -> 5L, 6L -> 5L))
    // sampleByStrata rate extremes: 1000 keeps everything, 0 keeps nothing
    val rows = spark.range(1, 101).select(col("id"),
      when(col("id") % 2 === 0, "even").otherwise("odd").as("s"))
    val all = graft.operators.Pipeline.sampleByStrata(
      rows, "id", "s", Map("even" -> 1000), defaultPermille = 0)
    assert(all.count() == 50)
    assert(all.select("s").distinct().collect().map(_.getString(0)).toSeq == Seq("even"))
    // overflow/negative-id edges: the naive (id·2654435761)%1000 form
    // overflows signed 64-bit at id ≥ ~3.47e9 (ANSI abort) and keeps
    // every negative id (negative remainder < any rate). The mod-1000
    // form must (a) run under ANSI, (b) agree with exact BigInt
    // arithmetic for huge ids, (c) give negative ids a bucket in
    // [0, 1000) — sampled by rate like any other id.
    val edgeIds = Seq(Long.MaxValue, (1L << 32) * 10 + 7, 3_500_000_000L,
      -1L, -999L, -4_000_000_000L, 0L, 123L)
    val edgy = edgeIds.map(i => (i, "s")).toDF("id", "s")
    val kept = graft.operators.Pipeline.sampleByStrata(
      edgy, "id", "s", Map("s" -> 500)).collect().map(_.getLong(0)).toSet
    def bigBucket(id: Long): Long = {
      val m = (BigInt(id) * BigInt(2654435761L)).mod(BigInt(1000))
      m.toLong
    }
    val want = edgeIds.filter(id => bigBucket(id) < 500).toSet
    assert(kept == want, s"kept=$kept want=$want")
    // tfidf: a doc with no tokens contributes no rows but still counts in N
    val docs = Seq((1L, "x y"), (2L, "   "), (3L, "x")).toDF("doc_id", "text")
    val w = graft.operators.Pipeline.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(!w.keySet.exists(_._1 == 2L))
    // df(x)=2 over N=3 docs → idf = ln(1.5), not ln(1.0)
    assert(math.abs(w((3L, "x")) - math.log(3.0 / 2)) < 1e-12)
  }

  test("composed cleans release every internal cache — no session clearCache needed") {
    // The library cache contract for Pipeline cleans: the returned
    // frame is the ONLY cache left behind (its own unpersist frees
    // everything) — a caller composing many cleans accumulates nothing.
    drainStorage() // incl. RDD-level localCheckpoint blocks from earlier suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val c1 = graft.operators.Pipeline.cleanCorpus(
      docs, "doc_id", "text", minQuality = 0.3, lang = "en")
    val c2 = graft.operators.Pipeline.cleanCorpusByComponents(
      docs, "doc_id", "text", minQuality = 0.3, lang = "en")
    assert(c1.count() > 0 && c2.count() > 0)
    // embeddingNearDups joined the same contract in round 7: eager
    // result cache, internal vector cache released before returning
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        (col("vec_id") % 3).as("blk"))
    val nd = Similarity.embeddingNearDups(embs, "blk", threshold = 0.5,
      maxBlock = 16)
    assert(nd.count() >= 0)
    nd.unpersist(blocking = true)
    c1.unpersist(blocking = true)
    c2.unpersist(blocking = true)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"lingering caches after composed cleans: ${after.mkString(", ")}")
    // raw checkpoint blocks (invisible to clearCache) must be gone too
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      "storage blocks still cached after clean release")
  }

  test("continuation states release every cache — clusters, clean, tfidf, decontam") {
    drainStorage() // incl. RDD-level localCheckpoint blocks from earlier suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 10 =!= 3)
    val added = docs.filter(col("doc_id") % 10 === 3)
    val removed = base.filter(col("doc_id") % 10 === 7).select("doc_id")
    val after7 = docs.filter(col("doc_id") % 10 =!= 7)
    // dedup clusters
    val ds = graft.operators.IncrementalDedup.preserveClusters(
      base, "doc_id", "text")
    val ds2 = graft.operators.IncrementalDedup.continueClusters(
      ds, added, removed, "doc_id", "text")
    assert(ds2.comps.count() > 0)
    ds.release(); ds2.release()
    // composed clean
    val cs = graft.operators.IncrementalPipeline.preserveClean(
      base, "doc_id", "text", minQuality = 0.3, lang = "en")
    val cs2 = graft.operators.IncrementalPipeline.continueClean(
      cs, after7, added, removed, "doc_id", "text")
    assert(cs2.survivors.count() > 0)
    cs.release(); cs2.release()
    // tfidf
    val ts = graft.operators.IncrementalTfidf.preserveTfidf(
      base, "doc_id", "text")
    val ts2 = graft.operators.IncrementalTfidf.continueTfidf(
      ts, added, removed, "doc_id", "text")
    assert(ts2.dfreq.count() > 0)
    ts.release(); ts2.release()
    // decontamination
    val es = graft.operators.IncrementalDecontam.preserve(
      base, "doc_id", "text",
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
    val es2 = graft.operators.IncrementalDecontam.continueDecontam(
      es, added, removed, spark.range(0).selectExpr("id AS doc_id", "'' AS text"),
      spark.range(0).selectExpr("id AS doc_id"), "doc_id", "text", "doc_id", "text")
    assert(es2.shingles.count() > 0)
    es.release(); es2.release()
    val lingering = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(lingering.isEmpty,
      s"lingering caches after continuation releases: ${lingering.mkString(", ")}")
    // raw checkpoint leaves (invisible to clearCache) must be gone too
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      "storage blocks still cached after continuation releases")
  }

  test("tfidf matches a driver-side computation") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date date date")).toDF("doc_id", "text")
    val got = graft.operators.Pipeline.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def idf(df: Int) = math.log(3.0 / df)
    // Spark's log() is StrictMath-backed — equal to math.log only to
    // the last ulp; the gate oracle rounds to 6 digits for the same
    // reason
    def check(k: (Long, String), tf: Long, df: Long, w: Double): Unit = {
      val (gtf, gdf, gw) = got(k)
      assert(gtf == tf && gdf == df && math.abs(gw - w) < 1e-12, s"$k: ${got(k)}")
    }
    check((1L, "apple"), 2L, 2L, 2 * idf(2))
    check((3L, "apple"), 1L, 2L, 1 * idf(2))
    check((2L, "cherry"), 1L, 1L, 1 * idf(1))
    check((3L, "date"), 3L, 1L, 3 * idf(1))
    assert(got.size == 6)
  }

  test("on-disk IVF index: probe equals inline ivfTopK and prunes unprobed lists") {
    val vecs = spark.range(1, 201).select(col("id"),
      array(sin(col("id") * 1.0), cos(col("id") * 2.0),
        sin(col("id") * 3.0), cos(col("id") * 5.0)).as("vec"))
    val queries = vecs.filter(col("id").isin(3, 50, 120))
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Similarity.buildIvfIndex(vecs, dir, nlist = 16)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val probed = Similarity.probeIvfIndex(spark, dir, queries, k = 5, nprobe = 4)
    val inline = Similarity.ivfTopK(vecs, queries, k = 5, nlist = 16, nprobe = 4)
    assert(key(probed) == key(inline))
    // the list scan must carry a partition filter on cid (pruning —
    // only probed lists' files are read)
    val plan = probed.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters:")).toList
    assert(pf.nonEmpty && pf.exists(l => !l.contains("PartitionFilters: []")),
      s"no partition filter on the list scan:\n${pf.mkString("\n")}")
    // repeated probes reuse the same on-disk index
    assert(key(Similarity.probeIvfIndex(spark, dir, queries, k = 5, nprobe = 4)) ==
      key(probed))
  }

  test("incremental IVF update: equals frozen-quantizer rebuild, touches only affected lists") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // two well-separated lists: ids 1/2 seed the quantizer, members
    // cluster around (1,0) (→ cid 1) or (0,1) (→ cid 2)
    val mk = (rows: Seq[(Long, Seq[Double])]) =>
      rows.toDF("id", "vec")
    val base = mk(Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      10L -> Seq(0.9, 0.1), 11L -> Seq(0.8, 0.2),
      20L -> Seq(0.1, 0.9), 21L -> Seq(0.2, 0.8)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_incr").toString
    Similarity.buildIvfIndex(base, dir, nlist = 2)
    val baseCents = spark.read.parquet(s"$dir/centroids")
      .select(col("cid").as("id"), col("cvec").as("vec")).collect()
    def centsDf = mk(baseCents.map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq)
    def snapshot(cid: Long): Map[String, Long] =
      Files.walk(Paths.get(s"$dir/lists/_b=$cid")).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    def probeKey(queries: org.apache.spark.sql.DataFrame) =
      Similarity.probeIvfIndex(spark, dir, queries, k = 3, nprobe = 2)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def rebuildKey(corpus: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame) = {
      val d2 = java.nio.file.Files.createTempDirectory("ivf_incr_ref").toString
      Similarity.buildIvfIndex(corpus, d2, nlist = 2, centroids = Some(centsDf))
      Similarity.probeIvfIndex(spark, d2, queries, k = 3, nprobe = 2)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val q = mk(Seq(100L -> Seq(0.7, 0.3), 200L -> Seq(0.3, 0.7)))

    // add into cid 2 only: cid 1's files must keep their exact paths+mtimes
    val before = snapshot(1L)
    val add1 = mk(Seq(30L -> Seq(0.15, 0.85)))
    Similarity.updateIvfIndex(spark, dir, add1, Seq.empty[Long].toDF("id"))
    assert(snapshot(1L) == before, "untouched list was rewritten")
    val corpus1 = base.unionByName(add1)
    assert(probeKey(q) == rebuildKey(corpus1, q))

    // replace semantics: re-adding id 10 with a new vector leaves one row
    val add2 = mk(Seq(10L -> Seq(0.85, 0.15)))
    Similarity.updateIvfIndex(spark, dir, add2, Seq.empty[Long].toDF("id"))
    val lists2 = spark.read.parquet(s"$dir/lists")
    assert(lists2.filter(col("nid") === 10L).count() == 1)
    val corpus2 = corpus1.filter(col("id") =!= 10L).unionByName(add2)
    assert(probeKey(q) == rebuildKey(corpus2, q))

    // empty cid 2 entirely: its directory must be deleted, and the
    // frozen quantizer (including the removed seed id 2) still probes
    Similarity.updateIvfIndex(spark, dir, mk(Seq.empty),
      Seq(2L, 20L, 21L, 30L).toDF("id"))
    assert(!Files.exists(Paths.get(s"$dir/lists/_b=2")), "emptied list dir not deleted")
    val corpus3 = corpus2.filter(!col("id").isin(2L, 20L, 21L, 30L))
    assert(probeKey(q) == rebuildKey(corpus3, q))
    assert(probeKey(q).nonEmpty)

    // drain the index COMPLETELY, then refill add-only: the explicit
    // list schema must keep a zero-list index readable end-to-end
    Similarity.updateIvfIndex(spark, dir, mk(Seq.empty),
      Seq(1L, 10L, 11L).toDF("id"))
    assert(probeKey(q).isEmpty)
    val refill = Seq(40L -> Seq(0.95, 0.05), 41L -> Seq(0.05, 0.95))
    Similarity.updateIvfIndex(spark, dir, mk(refill), Seq.empty[Long].toDF("id"))
    assert(probeKey(q) == rebuildKey(mk(refill), q))
    assert(probeKey(q).nonEmpty)
  }

  test("IVF index is a family store: epochs, as-of probe, rollback, export") {
    import graft.operators.SegSwap
    val mk = (rows: Seq[(Long, Seq[Double])]) => rows.toDF("id", "vec")
    val base = mk(Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      10L -> Seq(0.9, 0.1), 20L -> Seq(0.1, 0.9)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_family").toString
    Similarity.buildIvfIndex(base, dir, nlist = 2)
    val q = mk(Seq(100L -> Seq(0.7, 0.3), 200L -> Seq(0.3, 0.7)))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def probeKey() = key(Similarity.probeIvfIndex(spark, dir, q, k = 3, nprobe = 2))
    assert(Similarity.ivfEpoch(spark, dir) == 0L, "a fresh index is epoch 0")
    val at0 = probeKey()

    // an update is one journaled epoch; the as-of probe reproduces the
    // pre-delta results while the live index has moved on
    Similarity.updateIvfIndex(spark, dir,
      mk(Seq(30L -> Seq(0.85, 0.15))), Seq(10L).toDF("id"))
    assert(Similarity.ivfEpoch(spark, dir) == 1L)
    val at1 = probeKey()
    assert(at1 != at0, "the delta must move the top-k")
    assert(key(Similarity.probeIvfIndexAt(spark, dir, q, k = 3, nprobe = 2,
      epoch = 0L)) == at0, "the as-of probe must equal the pre-delta results")

    // rollback is a journaled revert; redo restores the update
    Similarity.ivfRollbackTo(spark, dir, 0L)
    assert(probeKey() == at0, "rollback must restore the pre-delta index")
    Similarity.ivfRollbackTo(spark, dir, 1L)
    assert(probeKey() == at1, "redo must restore the post-delta index")

    // export publishes a standalone index (lists + frozen quantizer)
    val pub = java.nio.file.Files.createTempDirectory("ivf_family_pub").toString
    Similarity.ivfExportAt(spark, dir, 2L, pub)
    assert(key(Similarity.probeIvfIndex(spark, pub, q, k = 3, nprobe = 2))
      == at0, "the export must probe exactly the as-of lists")
    assert(Similarity.ivfEpoch(spark, pub) == 0L, "an export is a fresh life")
  }

  test("IVF index participates in StoreTxn and Forget") {
    import graft.operators.{Forget, StoreTxn, TfidfStore}
    val mk = (rows: Seq[(Long, Seq[Double])]) => rows.toDF("id", "vec")
    val base = mk(Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      10L -> Seq(0.9, 0.1), 11L -> Seq(0.8, 0.2), 20L -> Seq(0.1, 0.9)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_txn").toString
    Similarity.buildIvfIndex(base, dir, nlist = 2)
    val q = mk(Seq(100L -> Seq(0.7, 0.3), 200L -> Seq(0.3, 0.7)))
    def probeKey() =
      Similarity.probeIvfIndex(spark, dir, q, k = 3, nprobe = 2)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probeKey()

    // a txn that advances the index then fails compensates it exactly
    val tp = java.nio.file.Files.createTempDirectory("ivf_txn_tf").toString
    TfidfStore.init(spark, tp,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text",
      nBuckets = 4)
    val txn = java.nio.file.Files.createTempDirectory("ivf_txn_dir").toString
    intercept[RuntimeException] {
      StoreTxn.run(spark, txn, Seq("ivf" -> dir, "tfidf" -> tp)) {
        Similarity.updateIvfIndex(spark, dir,
          mk(Seq(30L -> Seq(0.86, 0.14))), Seq.empty[Long].toDF("id"))
        sys.error("injected mid-txn failure")
      }
    }
    assert(probeKey() == before,
      "compensation must revert the advanced index")

    // a forget sweep purges vector ids and scrubs the index history
    Forget.sweep(spark, txn, Seq(10L, 11L).toDF("id"), "id", "vec",
      Seq("ivf" -> dir))
    val purged = probeKey()
    assert(!purged.exists(t => t._2 == 10L || t._2 == 11L),
      "purged vectors must leave the top-k")
    val fs = graft.operators.SegSwap.fsOf(spark, dir)
    assert(graft.operators.SegSwap.historyFloorOf(fs, dir) ==
      Similarity.ivfEpoch(spark, dir), "the sweep must scrub index history")
    val e = intercept[Exception] {
      Similarity.probeIvfIndexAt(spark, dir, q, k = 3, nprobe = 2,
        epoch = 0L).count()
    }
    assert(e.getMessage.contains("history floor"), e.getMessage)
  }


  test("store lifecycle policy: swaps self-compact, sprawl auto-respans, advisor flags past-crossover deltas") {
    import graft.operators.{DupSpansStore, Pipeline, StorePolicy}
    import java.nio.file.{Files, Paths}
    // the advisor's pure contract: the measured ~10% crossover
    assert(!StorePolicy.advise("spec", 5, 100).rebuildRecommended)
    assert(StorePolicy.advise("spec", 15, 100).rebuildRecommended)
    assert(StorePolicy.advise("spec", 15, 100).touchedFraction == 0.15)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text", 3, 0.5)
      val r = rows(out); out.unpersist(); r
    }
    val store = Files.createTempDirectory("graft_policy").toString
    def liveDirs(table: String): Int = {
      val s = Files.list(Paths.get(store, table))
      try s.toArray.map(_.toString.split("/").last)
        .count(_.startsWith("_b=")) finally s.close()
    }
    val base = (1L to 12L).map(i => (i, s"pol u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    // provisioned budget b=4, range span 3 → base occupies 4 dirs
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 4, bucketMode = "range",
      rangeSpan = 3L)
    val noIds = Seq.empty[Long].toDF("doc_id")

    // repeated UPSERTS of one doc: the swap REPLACES its bucket dir
    // with one fresh file each time — per-bucket file counts never
    // accrete (the corrected lifecycle model; the first policy draft
    // triggered on files-per-bucket and this invariant is why it
    // never fired)
    var corpus = base
    for (i <- 1 to 3) {
      val up = Seq((7L, s"pol fresh round $i")).toDF("doc_id", "text")
      val advice = DupSpansStore.continueAt(spark, store, up, noIds,
        "doc_id", "text")
      assert(advice.touchedBuckets >= 1 && advice.totalBuckets >= 1)
      corpus = corpus.filter(col("doc_id") =!= 7L).unionByName(up)
    }
    assert(StorePolicy.maxFilesPerBucket(spark, store,
      Seq("spans", "ntoks", "dfreq", "out")) == 1,
      "touched-bucket swaps must replace dirs, not accrete files")
    assert(rows(DupSpansStore.scores(spark, store)) == batch(corpus))

    // SPRAWL + AUTO-RESPAN: shard appends land in fresh range buckets
    // forever; once live dirs exceed factor x the provisioned budget,
    // the NEXT continuation re-spans back to ~b dirs, content-invariant
    var hi = 12L
    var respanned = false
    for (_ <- 1 to 6 if !respanned) {
      val shard = ((hi + 1) to (hi + 9L)).map(i =>
        (i, s"pol shard u$i v$i w$i")).toDF("doc_id", "text")
      hi += 9L
      val before = liveDirs("out")
      DupSpansStore.continueAt(spark, store, shard, noIds,
        "doc_id", "text", autoRespanFactor = 4)
      corpus = corpus.unionByName(shard)
      if (liveDirs("out") < before) respanned = true
    }
    assert(respanned, "sprawl never triggered the auto-respan")
    assert(liveDirs("out") <= 4 + 1,
      s"respan did not restore the bucket budget: ${liveDirs("out")} dirs")
    assert(rows(DupSpansStore.scores(spark, store)) == batch(corpus),
      "auto-respan changed store content")
    // and the store keeps working under the new span
    val more = Seq((500L, "pol after respan u v w")).toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, more, noIds, "doc_id", "text")
    corpus = corpus.unionByName(more)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(corpus))

    // a delta replacing most of the corpus crosses the ~10% rebuild
    // crossover: the continuation still runs (correctness first) and
    // the advice surfaces the economics
    val big = corpus.select("doc_id").distinct().limit(40)
      .collect().map(_.getLong(0)).toSeq
      .map(i => (i, s"pol rewritten $i wide delta"))
      .toDF("doc_id", "text")
    val advice = DupSpansStore.continueAt(spark, store, big, noIds,
      "doc_id", "text", autoRespanFactor = 0)
    assert(advice.rebuildRecommended,
      s"most-of-corpus delta should cross the rebuild crossover: $advice")
    corpus = corpus.join(big.select(col("doc_id").as("_d")),
      col("doc_id") === col("_d"), "left_anti").unionByName(big)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(corpus))
  }

  test("rebucket mid-stream: fences survive, replay still skips, continuation lands on the chain") {
    import graft.core.SegmentedStateStore
    import graft.operators.{KeyedUpsertStore, StorePolicy}
    import graft.streaming.StreamMaintain
    val edges1 = ((0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 40), (i, (i * 3 + 2) % 40)))
      .filter { case (a, b) => a != b }).distinct.toDF("src", "dst")
    val rankStore = java.nio.file.Files
      .createTempDirectory("graft_rbk_rank").toString
    val edgeStore = java.nio.file.Files
      .createTempDirectory("graft_rbk_edges").toString
    IncrementalPageRank.preserveTo(spark, rankStore, edges1, 0.8,
      iterations = 4, nBuckets = 8)
    IncrementalPageRank.initEdgeStore(spark, edgeStore, edges1, nBuckets = 4)

    val delta1 = Seq((3L, 11L), (3L, 17L), (8L, 21L)).toDF("src", "dst")
    val advice = StreamMaintain.pageRankBatch(spark, rankStore, edgeStore,
      delta1, 0L, 0.8, iterations = 3)
    // gate-scale deltas cross the measured ~10% crossover — exactly the
    // systematic-overshoot signal the rebuild hook exists for
    assert(advice.exists(_.rebuildRecommended),
      s"expected past-crossover advice on the small store, got $advice")
    // the advice plumbing fires the NEW rebucket recipes: widen both
    // stores between batches (the writer lease serializes this against
    // any concurrent batch)
    val ran = StorePolicy.autoRebuildIfRecommended(advice) { _ =>
      SegmentedStateStore.rebucket(spark, rankStore, 32)
      KeyedUpsertStore.rebucket(spark, edgeStore, 16)
    }
    assert(ran, "the recommended rebuild hook did not fire")
    assert(SegmentedStateStore.openForRead(spark, rankStore).nBuckets == 32)
    assert(KeyedUpsertStore.open(spark, edgeStore).nBuckets == 16)
    // the stream fences MIGRATED with the layout: a checkpoint-replayed
    // batch 0 must still skip on both stores
    assert(SegmentedStateStore.openForRead(spark, rankStore)
      .appliedBatch == 0L)
    assert(KeyedUpsertStore.lastBatch(spark, edgeStore) == 0L)
    def ranks() = SegmentedStateStore.openForRead(spark, rankStore)
      .preserved.out.as[(Long, Double)].collect().toMap
    val afterRebucket = ranks()
    StreamMaintain.pageRankBatch(spark, rankStore, edgeStore, delta1, 0L,
      0.8, iterations = 3)
    assert(ranks() == afterRebucket,
      "replayed batch mutated a rebucketed store")
    // the new layout's dirs are the new B's — and the old B's dirs with
    // ids outside it are gone (journaled empty by the rebucket)
    def liveDirs(root: String, table: String): Set[Int] = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, table))
      try s.toArray.map(_.toString.split("/").last)
        .filter(_.startsWith("_b=")).map(_.stripPrefix("_b=").toInt).toSet
      finally s.close()
    }
    assert(liveDirs(edgeStore, "rows").forall(b => b >= 0 && b < 16))
    assert(liveDirs(rankStore, "out").forall(b => b >= 0 && b < 32))

    // batch 1 AFTER the migration: the chain continues exactly
    val delta2 = Seq((14L, 5L), (3L, 29L)).toDF("src", "dst")
    StreamMaintain.pageRankBatch(spark, rankStore, edgeStore, delta2, 1L,
      0.8, iterations = 3)
    val got = ranks()
    val e2 = edges1.join(delta1.select("src").distinct(), Seq("src"),
      "left_anti").unionByName(delta1).localCheckpoint(true)
    val e3 = e2.join(delta2.select("src").distinct(), Seq("src"),
      "left_anti").unionByName(delta2).localCheckpoint(true)
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_rbk_rank2").toString
    IncrementalPageRank.preserveTo(spark, store2, edges1, 0.8,
      iterations = 4, nBuckets = 8)
    IncrementalPageRank.incrementalSeg(spark, store2, e2,
      delta1.select("src").distinct(), 0.8, iterations = 3)
      .unpersist(blocking = false)
    IncrementalPageRank.incrementalSeg(spark, store2, e3,
      delta2.select("src").distinct(), 0.8, iterations = 3)
      .unpersist(blocking = false)
    val want = SegmentedStateStore.openForRead(spark, store2)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"node $k rebucketed-stream=${got(k)} batch=${want(k)}")
    // and the migrated edge table equals a full re-prepare
    assert(KeyedUpsertStore.rows(spark, edgeStore)
      .select("src", "dst", "deg").as[(Long, Long, Long)].collect().toSet ==
      PageRank.prepare(e3).as[(Long, Long, Long)].collect().toSet)
    e2.unpersist(blocking = false); e3.unpersist(blocking = false)
  }

  test("rebucket is content-invariant, epoch-advancing, and time-travel keeps resolving") {
    import graft.operators.KeyedUpsertStore
    val p = java.nio.file.Files
      .createTempDirectory("graft_rbk_inv").toString
    val rows0 = (1L to 50L).map(i => (i, i * 3 % 17, i % 7 + 1))
      .toDF("k", "v", "deg")
    KeyedUpsertStore.init(spark, p, rows0, "k", nBuckets = 4)
    KeyedUpsertStore.upsertBatch(spark, p,
      Seq((5L, 99L, 1L)).toDF("k", "v", "deg"),
      Seq(7L).toDF("k"), 0L)
    val preEpoch = KeyedUpsertStore.currentEpoch(spark, p)
    val before = KeyedUpsertStore.rows(spark, p)
      .as[(Long, Long, Long)].collect().toSet
    KeyedUpsertStore.rebucket(spark, p, 16)
    assert(KeyedUpsertStore.currentEpoch(spark, p) == preEpoch + 1)
    assert(KeyedUpsertStore.rows(spark, p)
      .as[(Long, Long, Long)].collect().toSet == before,
      "rebucket changed store content")
    // the pre-rebucket epoch stays as-of readable (whole-store commits
    // retire every bucket — the snapshot layer serves them like any
    // other commit inside the horizon)
    assert(KeyedUpsertStore.rowsAt(spark, p, preEpoch)
      .as[(Long, Long, Long)].collect().toSet == before)
    // compact under the current layout is a no-op on content too
    KeyedUpsertStore.compact(spark, p)
    assert(KeyedUpsertStore.rows(spark, p)
      .as[(Long, Long, Long)].collect().toSet == before)
  }

  test("maintained tiling: rebucket and rollback keep all three keyings and the fence coherent") {
    import graft.operators.TiledMatrixStore
    val p = java.nio.file.Files
      .createTempDirectory("graft_tiled_lc").toString
    val m1 = (for (i <- 0L until 20L; j <- Seq((i * 7 + 1) % 20, (i * 3 + 2) % 20)
      if i != j) yield (i, j, 1.0 + (i * 13 + j * 7) % 5))
      .distinct.toDF("i", "j", "v")
    TiledMatrixStore.init(spark, p, m1, blockSize = 8, cellBuckets = 4,
      tileBuckets = 4, idxBuckets = 2)
    // keep the as-inited epoch reachable across delta+rebucket+compact
    graft.operators.SegSwap.setRetention(
      graft.operators.SegSwap.fsOf(spark, p), p, 8)
    val patch = m1.filter(col("j") === 3)
      .select(col("i"), col("j"), (col("v") * 0.5).as("v"))
      .localCheckpoint(true)
    val delta = TiledMatrixStore.prepareDelta(spark, p, patch,
      Seq(7L).toDF("j"))
    TiledMatrixStore.applyDelta(spark, p, patch, delta, 0L)
    delta.release()
    def snap() = {
      val h = TiledMatrixStore.open(spark, p)
      (h.cells.as[(Long, Long, Double)].collect().toSet,
        h.tilesSource.all
          .select(col("tid"), col("jb"), explode(col("cells")).as("c"))
          .select(col("tid"), col("jb"), col("c.i"), col("c.j"), col("c.v"))
          .as[(Long, Long, Long, Long, Double)].collect().toSet,
        h.idxSource.all.as[(Long, Long)].collect().toSet)
    }
    val post = snap()
    // EPOCH-PINNED reads (round-14 verdict #3 — the family-membership
    // gap): openAt(e) resolves all three keyings AND the params from
    // epoch e's commit. The pre-batch epoch must show the as-inited
    // cells under the as-inited fence (-1) while the live store holds
    // the post-delta state.
    val eDelta = TiledMatrixStore.currentEpoch(spark, p)
    val h0 = TiledMatrixStore.openAt(spark, p, eDelta - 1)
    assert(h0.lastBatch == -1L,
      "as-of handle must carry the epoch's OWN fence, not the live one")
    assert(h0.cells.as[(Long, Long, Double)].collect().toSet ==
      m1.as[(Long, Long, Double)].collect().toSet,
      "as-of cells must be the pre-batch relation")
    assert(TiledMatrixStore.openAt(spark, p, eDelta).cells
      .as[(Long, Long, Double)].collect().toSet == post._1,
      "as-of at the live epoch must equal the live read")
    // the pruned reads of both loop-facing keyings must reach the scan
    // as PARTITION filters (only the frontier's bucket dirs are read)
    for (src <- Seq(TiledMatrixStore.open(spark, p).tilesSource,
        TiledMatrixStore.open(spark, p).idxSource)) {
      val plan = src.pruned(Set(0, 1)).queryExecution.executedPlan.toString
      val pf = plan.linesIterator.filter(_.contains("PartitionFilters:")).toList
      assert(pf.nonEmpty && pf.exists(l => !l.contains("PartitionFilters: []")),
        s"tiling pruned read carries no partition filter:\n${pf.mkString("\n")}")
    }
    // rebucket every keying: content-invariant, fence survives
    TiledMatrixStore.rebucket(spark, p, cellBuckets = 8, tileBuckets = 8,
      idxBuckets = 4)
    assert(snap() == post, "rebucket changed store content")
    assert(TiledMatrixStore.lastBatch(spark, p) == 0L,
      "rebucket dropped the stream fence")
    // as-of ACROSS the layout migration: a handle pinned to the
    // pre-rebucket epoch must keep that epoch's bucket COUNTS (its
    // hashing matches the snapshot files it reads), so a tid-pruned
    // read through it still finds the tile's bag
    val hPre = TiledMatrixStore.openAt(spark, p, eDelta)
    assert(hPre.cells.as[(Long, Long, Double)].collect().toSet == post._1,
      "as-of read across a rebucket must serve the pinned epoch's cells")
    locally {
      val (tid0, jb0) = hPre.tilesSource.all.select(col("tid"), col("jb"))
        .as[(Long, Long)].head()
      // compute the bucket through the handle's OWN bucketOf (the
      // pinned count), not a re-derivation
      val b0 = hPre.tilesSource.all.filter(col("tid") === tid0)
        .select(hPre.tilesSource.bucketOf(col("tid"))).head().getInt(0)
      assert(hPre.tilesSource.pruned(Set(b0))
        .filter(col("tid") === tid0).count() == 1,
        s"tid-pruned as-of read lost tile $tid0 (jb $jb0)")
    }
    // compact under the migrated layout is a content no-op too
    TiledMatrixStore.compact(spark, p)
    assert(snap() == post)
    // rollback to the as-inited epoch reverts rows AND fence — batches
    // after the revert point must re-apply, not skip
    TiledMatrixStore.rollbackTo(spark, p, 0L)
    assert(TiledMatrixStore.lastBatch(spark, p) == -1L,
      "rollback left the fence ahead of the rows")
    assert(snap()._1 == m1.as[(Long, Long, Double)].collect().toSet,
      "rollback did not restore the pre-batch cells")
  }

  test("rollback across a lifecycle op is flagged corpus-wide — and exact") {
    import graft.operators.{SegSwap, TfidfStore}
    val tp = java.nio.file.Files
      .createTempDirectory("graft_lc_rbwhole").toString
    val docs = (1L to 24L).map(i => (i, s"alpha a$i beta b$i gamma g$i"))
      .toDF("doc_id", "text")
    TfidfStore.init(spark, tp, docs, "doc_id", "text", nBuckets = 8)
    def rows() = TfidfStore.tfidf(spark, tp)
      .selectExpr("doc_id", "token", "tf", "df")
      .collect().map(_.toString).toSet
    val pre = rows()
    // a small poison delta, then the lifecycle op the advice is about
    TfidfStore.continueAt(spark, tp,
      Seq((100L, "poison p q r")).toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    val fs = SegSwap.fsOf(spark, tp)
    assert(SegSwap.wholeStoreCommitsSince(fs, tp, 0L, Seq("tf", "dfreq"))
      .isEmpty, "a small delta must not look like a lifecycle commit")
    SegSwap.setRetention(fs, tp, 4) // keep epoch 0 reachable past compact
    TfidfStore.compact(spark, tp)
    val whole = SegSwap.wholeStoreCommitsSince(fs, tp, 0L, Seq("tf", "dfreq"))
    assert(whole == Seq(TfidfStore.currentEpoch(spark, tp)),
      s"the compact commit must be flagged as whole-store (got $whole)")
    // the revert across it: corpus-wide (the advisory's claim) but exact
    TfidfStore.rollbackTo(spark, tp, 0L)
    assert(rows() == pre,
      "the rollback across the lifecycle op must still be exact")
  }

  test("teraValidate compares strings in UTF-8 order (supplementary plane)") {
    // U+E000 (3-byte UTF-8) sorts BELOW U+1F600 (4-byte, surrogate pair
    // in UTF-16) under Spark/DuckDB binary order; Java's UTF-16
    // compareTo claims the opposite, which would flag Spark's own sort
    // as broken.
    val df = Seq("b", "x", "😀x", "a").toDF("k")
    val sorted = Relational.totalOrderSort(df, "k")
    assert(Relational.teraValidate(sorted, "k"),
      "validator disagrees with Spark's UTF8String sort order")
  }

  test("topK ranks without any window (no single-partition warning)") {
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("x"))
    val top = Relational.topK(df, 5, Seq(col("x").desc, col("id").asc))
    val windows = top.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "topK still plans a Window")
    // ranks are the positions in the (x desc, id asc) total order
    val got = top.collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got == Map(6L -> 1, 13L -> 2, 20L -> 3, 27L -> 4, 34L -> 5), s"got $got")
  }
}
