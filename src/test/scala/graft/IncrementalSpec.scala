package graft

import org.apache.spark.sql.functions._

import graft.algorithms.{IncrementalKMeans, IncrementalMatVec, IncrementalPageRank, KMeans, PageRank}
import graft.util.Generators

/** Incremental-vs-full differential tests — the reference's own oracle
  * strategy (`compseqfile`/`compagerank`, SURVEY §5): after a graph
  * delta, the incremental continuation must match a full recomputation
  * within the filter-threshold-dependent error. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(n: Int, e: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (1 to e).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  test("incr(G+dG) with theta=0 converges to full(G+dG)") {
    val base = randomEdges(60, 220, seed = 7)
    val edges1 = base.toDF("src", "dst")
    // damping 0.5 → geometric convergence 0.5^k: 25 iterations ≈ 3e-8,
    // tight enough for the 1e-6 equality assertion below
    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 25)

    // delta: sources 0..9 get entirely new out-edges
    val changed = base.map(_._1).distinct.filter(_ < 10)
    val edges2 = base.filterNot { case (s, _) => s < 10 }
      .++(changed.map(s => (s, (s * 13 + 3) % 60)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")

    val incr = IncrementalPageRank.incremental(
      edges2, preserved, changed.toDF("src"), 0.5,
      iterations = 25, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap

    // oracle: full from-scratch recomputation on the updated graph
    val full = PageRank.run(edges2, 0.5, maxIterations = 50)
      .dynamic.as[(Long, Double)].collect().toMap

    val common = incr.keySet & full.keySet
    assert(common.nonEmpty)
    for (nd <- common)
      assert(math.abs(incr(nd) - full(nd)) < 1e-6,
        s"node $nd incr=${incr(nd)} full=${full(nd)}")
  }

  test("incr = full at θ=0 when a brand-new source appears (in-task, distributed store, frame-fed)") {
    import graft.core.SegmentedStateStore
    // node 9 is new to the graph: it has static rows (its out-edges)
    // but no rank yet, so it must become affected itself and then
    // propagate — dropping it leaves nodes 1 and 2 short of its mass
    val edges1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val delta = Seq((9L, 1L), (9L, 2L)).toDF("src", "dst")
    val edges2 = edges1.unionByName(delta)
    val full = PageRank.run(edges2, 0.8, maxIterations = 120)
      .dynamic.as[(Long, Double)].collect().toMap
    assert(math.abs(full(9L) - 0.2) < 1e-12)
    def check(label: String, got: Map[Long, Double]): Unit = {
      assert(got.keySet == full.keySet, s"$label keys ${got.keySet}")
      for (k <- full.keySet)
        assert(math.abs(got(k) - full(k)) < 1e-6,
          s"$label node $k incr=${got(k)} full=${full(k)}")
    }
    for ((label, conf) <- Seq("in-task" -> Nil, "distributed store" -> Seq(distributedLoop))) {
      val rank = java.nio.file.Files.createTempDirectory("graft_newsrc_rank").toString
      val edges = java.nio.file.Files.createTempDirectory("graft_newsrc_edges").toString
      IncrementalPageRank.preserveTo(spark, rank, edges1, 0.8, iterations = 80,
        nBuckets = 4)
      IncrementalPageRank.initEdgeStore(spark, edges, edges1, nBuckets = 2)
      withSqlConf(conf: _*)(graft.streaming.StreamMaintain.pageRankBatch(
        spark, rank, edges, delta, 0L, 0.8, iterations = 80))
      check(label, SegmentedStateStore.openForRead(spark, rank).preserved.out
        .as[(Long, Double)].collect().toMap)
    }
    val preserved = IncrementalPageRank.preserve(edges1, 0.8, iterations = 80)
    check("frame-fed", IncrementalPageRank.incremental(edges2, preserved,
      Seq(9L).toDF("src"), 0.8, iterations = 80)
      .as[(Long, Double)].collect().toMap)
    preserved.release()
  }

  test("θ>0: a brand-new source's contributions land in kvs from its stored rank (in-task, distributed store)") {
    import graft.core.SegmentedStateStore
    // node 9 is new: under θ>0 it never joins a frontier (it has no old
    // rank for the filter to compare), so only the exit refresh can
    // put its contributions into kvs
    val edges1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val edges2 = edges1.unionByName(Seq((9L, 1L), (9L, 2L)).toDF("src", "dst"))
    for ((label, conf) <- Seq("in-task" -> Nil, "distributed store" -> Seq(distributedLoop))) {
      val rank = java.nio.file.Files.createTempDirectory("graft_newsrc_theta").toString
      IncrementalPageRank.preserveTo(spark, rank, edges1, 0.8, iterations = 80,
        nBuckets = 4)
      withSqlConf(conf: _*)(IncrementalPageRank.incrementalSeg(spark, rank,
        edges2, Seq(9L).toDF("src"), 0.8, iterations = 80,
        filterThreshold = 0.01).unpersist(blocking = false))
      val st = SegmentedStateStore.openForRead(spark, rank).preserved
      val r9 = st.out.filter(col("node") === 9L).select("rank").as[Double]
        .collect().toSeq
      assert(r9.size == 1 && math.abs(r9.head - 0.2) < 1e-12, s"$label rank of 9: $r9")
      val got = st.kvs.filter(col("src") === 9L)
        .select("node", "contrib").as[(Long, Double)].collect().toMap
      assert(got.keySet == Set(1L, 2L), s"$label kvs rows of source 9: $got")
      for ((k, c) <- got)
        assert(math.abs(c - r9.head / 2 * 0.8) < 1e-15,
          s"$label contribution 9 -> $k is $c, not its stored rank's share")
    }
  }

  test("ambiguity toggle is THREAD-LOCAL: a concurrent analysis still fails ambiguous self-joins mid-loop") {
    // the round-11 residual #4 pin: the loop's
    // failAmbiguousSelfJoin=false must be invisible to other threads
    // sharing the SparkSession — with the old session-wide mutation,
    // an ambiguous join analyzed on another thread DURING the loop
    // slipped through silently. Here a sibling thread hammers a
    // genuinely ambiguous self-join for the loop's whole duration and
    // every attempt must keep throwing.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val edges = Generators.graph(spark, 400)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val amb = spark.range(10).toDF("k")
    def ambiguousThrows(): Boolean =
      try {
        val b = amb.filter(col("k") > 1)
        // canonical ambiguous self-join: the derived side shares the
        // parent's expression ids, so a(k) could resolve either way —
        // DetectAmbiguousSelfJoin rejects it (at analysis, i.e. at
        // Dataset CONSTRUCTION — the .count() never runs)
        amb.join(b, amb("k") > b("k")).count()
        false
      } catch { case _: org.apache.spark.sql.AnalysisException => true }
    assert(ambiguousThrows(), "precondition: the probe join must be ambiguous")
    val loop = Future {
      val st = IncrementalPageRank.preserve(edges, 0.8, iterations = 3,
        numPartitions = 4)
      val (e2, chg, _) = Generators.graphDelta(edges, 10, 400)
      val out = IncrementalPageRank.incremental(e2, st, chg.select("src"),
        0.8, iterations = 3, numPartitions = 4)
      val n = out.count()
      out.unpersist(blocking = false); st.release()
      n
    }
    var probes = 0
    var leaked = false
    while (!loop.isCompleted) {
      if (!ambiguousThrows()) leaked = true
      probes += 1
    }
    assert(Await.result(loop, 60.seconds) > 0)
    assert(probes > 0, "the loop finished before any concurrent probe ran")
    assert(!leaked,
      s"a concurrent thread saw failAmbiguousSelfJoin disabled ($probes probes)")
    // and the session's own conf is untouched after the loop
    assert(!spark.conf.getOption("spark.sql.analyzer.failAmbiguousSelfJoin")
      .contains("false"))
    edges.unpersist(blocking = false)
  }

  test("exit invariant: continuation kvs equals a re-derivation from the final out") {
    // The PreservedState consistency contract — every stored
    // contribution equals what its source would emit given the FINAL
    // output values — must hold AFTER a continuation too (the loop
    // re-derives the final frontier's rows at exit), or chained
    // continuations become order-dependent (caught by the
    // q_incr_pagerank_stream oracle). Checked on both refresh paths.

    // One2One (PageRank), through the durable store so the committed
    // kvs itself is inspected
    val base = randomEdges(50, 200, seed = 42)
    val edges1 = base.toDF("src", "dst")
    val store = java.nio.file.Files
      .createTempDirectory("graft_exit_inv").toString
    IncrementalPageRank.preserveTo(spark, store, edges1, 0.5,
      iterations = 4, nBuckets = 16)
    val changed = base.map(_._1).distinct.filter(_ % 5 == 0)
    val edges2 = base.filterNot { case (s, _) => s % 5 == 0 }
      .++(changed.map(s => (s, (s * 13 + 3) % 50)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    IncrementalPageRank.incrementalSeg(spark, store, edges2,
      changed.toDF("src"), 0.5, iterations = 3).unpersist(blocking = true)
    val st = graft.core.SegmentedStateStore.openForRead(spark, store)
      .preserved
    val static2 = PageRank.prepare(edges2)
    val wantKvs = static2.join(st.out, static2("src") === col("node"))
      .select(static2("dst"), static2("src"),
        (col("rank") / static2("deg") * 0.5).as("contrib"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val gotKvs = st.kvs.as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(gotKvs.keySet == wantKvs.keySet,
      s"only-got=${(gotKvs.keySet -- wantKvs.keySet).take(3)} " +
        s"only-want=${(wantKvs.keySet -- gotKvs.keySet).take(3)}")
    for ((k, v) <- wantKvs)
      assert(math.abs(gotKvs(k) - v) < 1e-12,
        s"stale contribution $k: got=${gotKvs(k)} want=$v")

    // One2All (KMeans — exit refresh is a full map pass): the raw
    // result's kvs must equal a fresh assignment under the final
    // centers (IncrementalKMeans.assignAll — the ONE assignment core)
    val pts = spark.range(1, 61).select(col("id"),
      array((col("id") % 7).cast("double"),
        (col("id") % 11).cast("double")).as("vec"))
    val preserved = IncrementalKMeans.preserve(pts, k = 3, iterations = 3)
    val chg = pts.filter(col("id") % 5 === 0).select("id")
    val pts2 = pts.withColumn("vec",
      when(col("id") % 5 === 0, transform(col("vec"), x => x * 0.4))
        .otherwise(col("vec")))
    val r = IncrementalKMeans.incrementalRaw(pts2, preserved, chg,
      iterations = 2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("cid", "id", "vec").collect()
        .map(x => (x.getInt(0), x.getLong(1)) -> x.getSeq[Double](2)).toMap
    val got = key(r.kvs)
    val want = key(IncrementalKMeans.assignAll(
      pts2.select(col("id").cast("long"), col("vec").cast("array<double>")),
      r.out, "euclidean"))
    assert(got.keySet == want.keySet,
      s"only-got=${(got.keySet -- want.keySet).take(3)} " +
        s"only-want=${(want.keySet -- got.keySet).take(3)}")
    for ((k, v) <- want) assert(got(k) == v, s"stale assignment $k")
    r.release()
    preserved.release()
  }

  test("filter threshold bounds the error against full recomputation") {
    val base = randomEdges(80, 320, seed = 11)
    val edges1 = base.toDF("src", "dst")
    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 15)

    val changed = base.map(_._1).distinct.filter(_ % 7 == 0)
    val edges2 = base.filterNot { case (s, _) => s % 7 == 0 }
      .++(changed.flatMap(s => Seq((s, (s * 13 + 3) % 80), (s, (s * 5 + 1) % 80))))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")

    val theta = 1e-3
    val incr = IncrementalPageRank.incremental(
      edges2, preserved, changed.toDF("src"), 0.5,
      iterations = 20, filterThreshold = theta)
      .as[(Long, Double)].collect().toMap

    val full = PageRank.run(edges2, 0.5, maxIterations = 40)
      .dynamic.as[(Long, Double)].collect().toMap

    // CompSeqFile-style divergence stats: max |Δ| bounded by a modest
    // multiple of θ (change propagation stops below θ per key).
    val diffs = full.collect { case (nd, r) if incr.contains(nd) => math.abs(r - incr(nd)) }
    val maxDiff = diffs.max
    assert(maxDiff < theta * 50, s"max divergence $maxDiff vs theta $theta")
    assert(diffs.sum / diffs.size < theta * 10)
  }

  test("non-converged-key counter: theta caps the frontier and the counter records it") {
    // the reference's per-round counter (`ReduceTask.java:3493-3494`)
    // surfaced on IncrResult (round-14 verdict #1): under a huge θ the
    // filter absorbs the whole change in round 1 — counter [0], loop
    // stops — while the round-1 VALUES still update (F30 gates
    // propagation, not the write); under a tiny θ the counter runs the
    // full depth with every round's mover count.
    val base = randomEdges(60, 240, seed = 23)
    val edges1 = base.toDF("src", "dst")
    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 10)
    val changed = base.map(_._1).distinct.filter(_ % 5 == 0)
    val edges2 = base.filterNot { case (s, _) => s % 5 == 0 }
      .++(changed.map(s => (s, (s * 11 + 2) % 60)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val before = preserved.out.as[(Long, Double)].collect().toMap
    val (outHi, cHi) = IncrementalPageRank.incrementalWithFrontier(
      edges2, preserved, changed.toDF("src"), 0.5, iterations = 5,
      filterThreshold = 1e9)
    assert(cHi == Seq(0L),
      s"a theta above every movement must absorb in round 1, got $cHi")
    val hi = outHi.as[(Long, Double)].collect().toMap
    assert(hi.exists { case (n, r) =>
      before.get(n).exists(b => math.abs(b - r) > 1e-9) },
      "round-1 values must still update under a capping theta")
    val (_, cLo) = IncrementalPageRank.incrementalWithFrontier(
      edges2, preserved, changed.toDF("src"), 0.5, iterations = 5,
      filterThreshold = 1e-12)
    assert(cLo.length == 5 && cLo.forall(_ > 0),
      s"a sub-noise theta must propagate every round, got $cLo")
    preserved.release()
  }

  test("incremental matvec (2nd IncrementalJob instantiation) converges to full") {
    // Random sparse M scaled to row-sum norm 0.4 → Jacobi converges
    // geometrically (0.4^25 ≈ 1e-10); b = 0.2 over the index universe.
    val rnd = new scala.util.Random(5)
    val cells = (1 to 300).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong, rnd.nextDouble()))
      .distinct.groupBy(c => (c._1, c._2)).map(_._2.head).toSeq
    val rowSum = cells.groupBy(_._1).view.mapValues(_.map(c => math.abs(c._3)).sum)
    val m1 = cells.map { case (i, j, v) => (i, j, v / rowSum(i) * 0.4) }
      .toDF("i", "j", "v")
    val b = IncrementalMatVec.universe(m1, 0.2)
    val preserved = IncrementalMatVec.preserve(m1, b, iterations = 25)

    // delta: halve every cell in columns j % 9 == 0
    val chg = m1.filter(col("j") % 9 === 0).select("j").distinct()
    val m2 = m1.withColumn("v",
      when(col("j") % 9 === 0, col("v") * 0.5).otherwise(col("v")))

    val incr = IncrementalMatVec.incremental(m2, b, preserved, chg,
      iterations = 25, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    val full = IncrementalMatVec.run(m2, b, iterations = 50)
      .dynamic.as[(Long, Double)].collect().toMap

    assert(incr.keySet == full.keySet)
    for ((idx, x) <- full)
      assert(math.abs(incr(idx) - x) < 1e-8, s"idx $idx incr=${incr(idx)} full=$x")
  }

  test("incremental BLOCKED matvec (One2Mul instantiation) converges to full") {
    // Same Jacobi fixture as the scalar test; the delta dirties whole
    // tiles and the frontier propagates through BLOCK sparsity (a
    // superset of scalar column reachability — extra affected indices
    // recompute to their unchanged values, so the trajectory matches
    // the scalar loop and the full recomputation).
    val rnd = new scala.util.Random(5)
    val cells = (1 to 300).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong, rnd.nextDouble()))
      .distinct.groupBy(c => (c._1, c._2)).map(_._2.head).toSeq
    val rowSum = cells.groupBy(_._1).view.mapValues(_.map(c => math.abs(c._3)).sum)
    val m1 = cells.map { case (i, j, v) => (i, j, v / rowSum(i) * 0.4) }
      .toDF("i", "j", "v")
    val b = IncrementalMatVec.universe(m1, 0.2)
    val blockSize = 8
    val preserved = IncrementalMatVec.preserveBlocked(m1, b, blockSize,
      iterations = 25)

    val chg = m1.filter(col("j") % 9 === 0)
      .select(IncrementalMatVec.tileId(col("i"), col("j"), blockSize).as("tid"))
      .distinct()
    val m2 = m1.withColumn("v",
      when(col("j") % 9 === 0, col("v") * 0.5).otherwise(col("v")))

    val incr = IncrementalMatVec.incrementalBlocked(m2, b, preserved, chg,
      blockSize, iterations = 25, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    val full = IncrementalMatVec.run(m2, b, iterations = 50)
      .dynamic.as[(Long, Double)].collect().toMap

    assert(incr.keySet == full.keySet)
    for ((idx, x) <- full)
      assert(math.abs(incr(idx) - x) < 1e-8, s"idx $idx incr=${incr(idx)} full=$x")

    // scalar and blocked continuations are the same math at θ=0
    val scalarPreserved = IncrementalMatVec.preserve(m1, b, iterations = 25)
    val scalarChg = m1.filter(col("j") % 9 === 0).select("j").distinct()
    val scalar = IncrementalMatVec.incremental(m2, b, scalarPreserved, scalarChg,
      iterations = 25, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    for ((idx, x) <- scalar)
      assert(math.abs(incr(idx) - x) < 1e-9, s"idx $idx blocked=${incr(idx)} scalar=$x")
  }

  test("blocked matvec theta>0 bounds drift; block-granular frontier still converges") {
    val rnd = new scala.util.Random(23)
    val cells = (1 to 260).map(_ =>
      (rnd.nextInt(48).toLong, rnd.nextInt(48).toLong, rnd.nextDouble()))
      .distinct.groupBy(c => (c._1, c._2)).map(_._2.head).toSeq
    val rowSum = cells.groupBy(_._1).view.mapValues(_.map(c => math.abs(c._3)).sum)
    val m1 = cells.map { case (i, j, v) => (i, j, v / rowSum(i) * 0.4) }
      .toDF("i", "j", "v")
    val b = IncrementalMatVec.universe(m1, 0.2)
    val preserved = IncrementalMatVec.preserveBlocked(m1, b, blockSize = 8,
      iterations = 20)
    val chg = m1.filter(col("j") % 7 === 2)
      .select(IncrementalMatVec.tileId(col("i"), col("j"), 8).as("tid")).distinct()
    val m2 = m1.withColumn("v",
      when(col("j") % 7 === 2, col("v") * 0.5).otherwise(col("v")))
    def run(theta: Double) = IncrementalMatVec.incrementalBlocked(
      m2, b, preserved, chg, blockSize = 8, iterations = 20,
      filterThreshold = theta)
      .as[(Long, Double)].collect().toMap
    val exact = run(0.0)
    val theta = 1e-3
    val approx = run(theta)
    // F30 over One2Mul: an unpropagated key sits at most a geometric
    // tail above theta away from the exact continuation
    assert(approx.keySet == exact.keySet)
    val maxDiff = exact.map { case (k, x) => math.abs(approx(k) - x) }.max
    assert(maxDiff < theta * 50, s"theta drift $maxDiff")
  }

  test("incremental loop on a hub-heavy power-law graph, hub edges changed") {
    // lognormal(-1, 2.3) degrees: most sources degree 1, rare large
    // hubs — the skew-realistic shape the reference's generators
    // produce. The delta rewires the TOP hubs, so the frontier fans
    // out through the heaviest buckets; broadcastMaxRows = 1 forces
    // the guarded shuffle-join fallback on every iteration (the path a
    // 100 TB frontier would take).
    val edges1 = Generators.graphTyped(spark, n = 300, kind = "pg")
      .persist()
    val degs = edges1.groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc).as[(Long, Long)].collect()
    val maxD = degs.head._2
    val medD = degs(degs.length / 2)._2
    assert(maxD >= 10 * medD, s"graph not skewed: max=$maxD median=$medD")
    val hubs = degs.take(3).map(_._1).toSet

    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 25)
    val changed = hubs.toSeq.toDF("src")
    val kept = edges1.filter(!col("src").isInCollection(hubs))
    val rewired = changed.select(col("src"),
      pmod(col("src") * 31 + 7, lit(300L)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges2 = kept.unionByName(rewired).distinct().persist()

    val incr = IncrementalPageRank.incremental(
      edges2, preserved, changed, 0.5, iterations = 25,
      filterThreshold = 0.0, broadcastMaxRows = 1L)
      .as[(Long, Double)].collect().toMap
    val full = PageRank.run(edges2, 0.5, maxIterations = 50)
      .dynamic.as[(Long, Double)].collect().toMap
    val common = incr.keySet & full.keySet
    assert(common.nonEmpty)
    for (nd <- common)
      assert(math.abs(incr(nd) - full(nd)) < 1e-6,
        s"node $nd incr=${incr(nd)} full=${full(nd)}")
    edges1.unpersist(); edges2.unpersist()
  }

  test("incremental kmeans (One2All, 3rd instantiation): theta=0 matches MRB semantics") {
    checkIncrKMeans("euclidean")
  }

  test("incremental kmeans under the cosine metric (A2 parity)") {
    checkIncrKMeans("cosine")
  }

  private def checkIncrKMeans(metric: String): Unit = {
    val pts0 = Generators.points(spark, n = 200, dim = 3, k = 5)
      .persist()
    val preserved = IncrementalKMeans.preserve(pts0, k = 5, iterations = 4,
      metric = metric)
    val (pts2, changed, _) = Generators.pointsDelta(pts0, everyNth = 10)

    val incr = IncrementalKMeans.incremental(pts2, preserved, changed,
      iterations = 3, filterThreshold = 0.0, metric = metric)
      .collect().map(r => r.getInt(0) ->
        (r.getSeq[Double](1).toArray, r.getLong(2))).toMap

    // independent expected path: driver-side MRB rounds using the typed
    // closure assignment (KMeans.assignments) and driver means.
    // Iteration 1 recenters ONLY centers touched by the delta (the
    // base run is not a fixpoint, so untouched centers keep their
    // preserved positions); iterations >= 2 are full Lloyd steps.
    val p2 = pts2.as[(Long, Array[Double])].collect().toMap
    val pOld = pts0.as[(Long, Array[Double])].collect().toMap
    val chgIds = changed.as[Long].collect().toSet
    var centers = preserved.out.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    var sizes = preserved.out.collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    def assignWith(cs: Array[(Int, Array[Double])], pts: Map[Long, Array[Double]]) = {
      val model = KMeans.Model(cs, 0, 0.0, Map.empty)
      val df = pts.toSeq.toDF("id", "vec")
      KMeans.assignments(df, model, metric)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    for (it <- 1 to 3) {
      val asg = assignWith(centers, p2)
      val affected: Set[Int] =
        if (it > 1) asg.values.toSet ++ sizes.filter(_._2 > 0).keySet
        else {
          val oldAsg = assignWith(centers, pOld) // preserved rows' cids
          chgIds.map(asg) ++ chgIds.map(oldAsg)
        }
      val byC = asg.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
      centers = centers.map { case (cid, v) =>
        if (!affected(cid)) (cid, v)
        else byC.get(cid) match {
          case Some(ids) =>
            val dim = v.length
            val mean = (0 until dim).map(d =>
              ids.map(p2(_)(d)).sum / ids.size).toArray
            (cid, mean)
          case None => (cid, v)
        }
      }
      sizes = centers.map { case (cid, _) =>
        cid -> byC.get(cid).map(_.size.toLong)
          .getOrElse(if (affected(cid)) 0L else sizes(cid))
      }.toMap
    }
    assert(incr.keySet == centers.map(_._1).toSet)
    for ((cid, v) <- centers) {
      val (got, n) = incr(cid)
      assert(n == sizes(cid), s"cid $cid n=$n expected ${sizes(cid)}")
      for (d <- v.indices)
        assert(math.abs(got(d) - v(d)) < 1e-9,
          s"cid $cid dim $d got ${got(d)} expected ${v(d)}")
    }
    pts0.unpersist()
  }

  test("kmeans filter threshold bounds center drift vs exact mode") {
    val pts0 = Generators.points(spark, n = 200, dim = 3, k = 5)
    val preserved = IncrementalKMeans.preserve(pts0, k = 5, iterations = 4)
    val (pts2, changed, _) = Generators.pointsDelta(pts0, everyNth = 10)
    def centersOf(theta: Double) =
      IncrementalKMeans.incremental(pts2, preserved, changed,
        iterations = 3, filterThreshold = theta)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val exact = centersOf(0.0)
    val theta = 0.05
    val approx = centersOf(theta)
    // each unpropagated round leaves centers that moved < theta in
    // place; over `iters` rounds the per-center drift stays O(iters * theta)
    // (loose linear bound, same contract as the PageRank theta spec)
    for ((cid, v) <- exact) {
      val w = approx(cid)
      val d = math.sqrt(v.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(d <= 3 * theta + 1e-12, s"cid $cid drifted $d > ${3 * theta}")
    }
  }

  test("incremental kmeans with durable segments matches the in-memory loop") {
    val pts0 = Generators.points(spark, n = 200, dim = 3, k = 5)
    val preserved = IncrementalKMeans.preserve(pts0, k = 5, iterations = 4)
    val (pts2, changed, _) = Generators.pointsDelta(pts0, everyNth = 10)
    def run(durable: Option[String]) =
      IncrementalKMeans.incremental(pts2, preserved, changed,
        iterations = 3, filterThreshold = 0.0, durableStatePath = durable)
        .collect().map(r => r.getInt(0) ->
          (r.getSeq[Double](1).toArray, r.getLong(2))).toMap
    val dir = java.nio.file.Files.createTempDirectory("kmeans_segs").toString
    val d = run(Some(dir))
    val m = run(None)
    // the parquet round-trip reorders rows within each cluster's bag and
    // avg sums in row order, so centers agree to last-ulp, not bitwise
    // (unlike the One2One durable spec, whose per-key sums see the same
    // order either way)
    assert(d.keySet == m.keySet)
    for ((cid, (dv, dn)) <- d) {
      val (mv, mn) = m(cid)
      assert(dn == mn)
      for (i <- dv.indices)
        assert(math.abs(dv(i) - mv(i)) <= 1e-9 * math.max(1.0, math.abs(mv(i))),
          s"cid $cid dim $i: ${dv(i)} vs ${mv(i)}")
    }
  }

  test("incremental kmeans with large theta stops after one cheap round") {
    val pts0 = Generators.points(spark, n = 200, dim = 3, k = 5)
    val preserved = IncrementalKMeans.preserve(pts0, k = 5, iterations = 4)
    val (pts2, changed, _) = Generators.pointsDelta(pts0, everyNth = 10)
    val (_, iters) = IncrementalKMeans.incrementalWithStats(pts2, preserved,
      changed, iterations = 10, filterThreshold = 1e9)
    assert(iters == 1, s"expected the huge theta to absorb round 1, ran $iters")
  }

  test("points delta moves exactly the selected ids") {
    val pts = Generators.points(spark, n = 60, dim = 3, k = 4)
    val (updated, changed, triples) = Generators.pointsDelta(pts, everyNth = 5)
    assert(changed.count() == 12)
    assert(updated.count() == 60)
    assert(triples.filter(col("change") === "+").count() == 12)
    assert(triples.filter(col("change") === "-").count() == 12)
    // unchanged ids keep their vectors; changed ids moved
    val before = pts.as[(Long, Array[Double])].collect().toMap
    val after = updated.as[(Long, Array[Double])].collect().toMap
    for ((id, v) <- after) {
      if (id % 5 == 0) assert(!v.sameElements(before(id)))
      else assert(v.sameElements(before(id)))
    }
  }

  test("durable parquet segment store matches the in-memory loop exactly") {
    // Same delta continuation twice: once with localCheckpoint segments,
    // once with every dirty segment written as durable Parquet (the
    // executor-loss-safe mode). The store is an implementation detail,
    // not a semantics knob: same keys, values equal up to float-sum
    // reassociation (the parquet read-back splits partitions
    // differently, so groupBy sums can differ in the last ulp).
    val base = randomEdges(50, 180, seed = 19)
    val edges1 = base.toDF("src", "dst")
    val preserved = IncrementalPageRank.preserve(edges1, 0.5, iterations = 8)
    val changed = base.map(_._1).distinct.filter(_ % 6 == 0)
    val edges2 = base.filterNot { case (s, _) => s % 6 == 0 }
      .++(changed.map(s => (s, (s * 17 + 7) % 50)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")

    val inMem = IncrementalPageRank.incremental(
      edges2, preserved, changed.toDF("src"), 0.5, iterations = 6)
      .as[(Long, Double)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_segs").toString
    val durable = IncrementalPageRank.incremental(
      edges2, preserved, changed.toDF("src"), 0.5, iterations = 6,
      durableStatePath = Some(dir))
      .as[(Long, Double)].collect().toMap
    assert(durable.keySet == inMem.keySet)
    for ((nd, r) <- inMem)
      assert(math.abs(durable(nd) - r) < 1e-9, s"node $nd durable=${durable(nd)} inMem=$r")
    // and the segments really are on disk
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("seg-")))
  }

  test("empty delta: incremental continuation returns the preserved outputs") {
    val base = randomEdges(40, 140, seed = 41)
    val edges = base.toDF("src", "dst")
    val preserved = IncrementalPageRank.preserve(edges, 0.5, iterations = 6)
    val want = preserved.out.as[(Long, Double)].collect().toMap
    val incr = IncrementalPageRank.incremental(
      edges, preserved, Seq.empty[Long].toDF("src"), 0.5, iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(incr == want, "zero-change continuation must be the identity")
  }

  test("preserved state round-trips through parquet") {
    val edges = randomEdges(40, 120, seed = 3).toDF("src", "dst")
    val p = IncrementalPageRank.preserve(edges, 0.8, iterations = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    p.write(dir)
    val p2 = graft.core.PreservedState.read(spark, dir)
    assert(p2.kvs.count() == p.kvs.count())
    assert(p2.out.count() == p.out.count())
  }

  // ---- incremental dedup clusters ---------------------------------------

  private def fullClusters(docs: org.apache.spark.sql.DataFrame,
      maxBucket: Int = 4096): Map[Long, Long] =
    graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.simhashNearDups(docs, "doc_id", "text",
        maxHamming = 3, maxBucket = maxBucket))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental dedup clusters equal a full recompute on real documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 10 =!= 3)
    val state = graft.operators.IncrementalDedup.preserveClusters(
      base, "doc_id", "text")
    val added = docs.filter(col("doc_id") % 10 === 3)
    val removed = base.filter(col("doc_id") % 10 === 7).select("doc_id")
    val incr = graft.operators.IncrementalDedup.incrementalClusters(
      state, added, removed, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    state.release()
    val full = fullClusters(docs.filter(col("doc_id") % 10 =!= 7))
    assert(incr == full,
      s"only-incr=${(incr.toSet -- full.toSet).take(5)} " +
        s"only-full=${(full.toSet -- incr.toSet).take(5)}")
    assert(incr.nonEmpty, "differential test needs a non-empty pair graph")
  }

  test("incremental dedup clusters: merge, split and passthrough corners") {
    // component {1,2,3} (identical texts), {10,11}, untouched {30,31}
    def doc(id: Long, text: String) = (id, text)
    val t1 = "alpha bravo charlie delta echo"
    val t2 = "foxtrot golf hotel india juliet"
    val t3 = "kilo lima mike november oscar"
    val t4 = "uniform victor whiskey xray yankee"
    val base = Seq(doc(1, t1), doc(2, t1), doc(3, t1),
      doc(10, t2), doc(11, t2), doc(30, t3), doc(31, t3),
      doc(50, t4), doc(51, t4))
      .toDF("doc_id", "text")
    val state = graft.operators.IncrementalDedup.preserveClusters(
      base, "doc_id", "text")
    assert(state.comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
        30L -> 30L, 31L -> 30L, 50L -> 50L, 51L -> 50L))
    // delta: remove the {1,2,3} minimum (labels must RISE — the case
    // monotone min-propagation from preserved labels cannot produce);
    // remove 11 so 10 loses its only pair (drops out of the output
    // entirely); remove BOTH of {50,51} — a fully-removed component
    // leaves no surviving bucket-mate to mark it affected, so its stale
    // labels must be dropped explicitly; add 20 (joins {2,3}) and 40/41
    // (a brand-new component)
    val added = Seq(doc(20, t1), doc(40, "papa quebec romeo sierra tango"),
      doc(41, "papa quebec romeo sierra tango")).toDF("doc_id", "text")
    val removed = Seq(1L, 11L, 50L, 51L).toDF("doc_id")
    val incr = graft.operators.IncrementalDedup.incrementalClusters(
      state, added, removed, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    state.release()
    assert(incr == Map(2L -> 2L, 3L -> 2L, 20L -> 2L,
      30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 40L), s"got $incr")
  }

  test("incremental dedup clusters reproduce a cap flip (bucket crossing maxBucket)") {
    // 9 identical docs pair exhaustively under maxBucket=10; ADDING 3
    // more pushes every shared bucket to 12 > 10, flipping the whole
    // bucket to star-linking — the incremental path must regenerate
    // pairs from the FULL post-delta bucket membership to reproduce
    // exactly what a full recompute does (soundness note (3)).
    val t = "same text repeated here word"
    val base = (1L to 9L).map(i => (i, t)).toDF("doc_id", "text")
    val state = graft.operators.IncrementalDedup.preserveClusters(
      base, "doc_id", "text", maxBucket = 10)
    val added = (20L to 22L).map(i => (i, t)).toDF("doc_id", "text")
    val incr = graft.operators.IncrementalDedup.incrementalClusters(
      state, added, Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    state.release()
    val full = fullClusters(
      ((1L to 9L) ++ (20L to 22L)).map(i => (i, t)).toDF("doc_id", "text"),
      maxBucket = 10)
    assert(incr == full, s"incr=$incr full=$full")
    assert(incr.values.toSet == Set(1L), "one star-linked component expected")
  }

  test("continueClusters chains two durable deltas; state equals a fresh preserve per hop") {
    // the reference's operational mode: delta after delta, re-entering
    // on the previous run's preserve FILES — after each hop both state
    // tables (band table and component labels) must equal a from-scratch
    // preserve over the equivalent corpus, or errors would compound
    // silently across the chain
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def bandSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "h1", "h2", "band", "bv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).toSet
    def compMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 6)
    val st0 = graft.operators.IncrementalDedup.preserveClusters(
      base, "doc_id", "text")
    // hop 1: +%10==3, −%10==7 → corpus %10 ∉ {6,7}
    val st1 = graft.operators.IncrementalDedup.continueClusters(st0,
      docs.filter(col("doc_id") % 10 === 3),
      base.filter(col("doc_id") % 10 === 7).select("doc_id"),
      "doc_id", "text")
    st0.release()
    val fresh1 = graft.operators.IncrementalDedup.preserveClusters(
      docs.filter(col("doc_id") % 10 =!= 6 && col("doc_id") % 10 =!= 7),
      "doc_id", "text")
    assert(bandSet(st1.bands) == bandSet(fresh1.bands), "hop-1 band table drift")
    assert(compMap(st1.comps) == compMap(fresh1.comps), "hop-1 component drift")
    fresh1.release()
    // durable hop: delta 2 continues from parquet, not the live caches
    val dir = java.nio.file.Files.createTempDirectory("graft_chain_state").toString
    st1.write(dir)
    st1.release()
    val st1r = graft.operators.DedupClusterState.read(spark, dir)
    // hop 2: +%10==6, −%10==1 → corpus %10 ∉ {7,1}
    val st2 = graft.operators.IncrementalDedup.continueClusters(st1r,
      docs.filter(col("doc_id") % 10 === 6),
      docs.filter(col("doc_id") % 10 === 1).select("doc_id"),
      "doc_id", "text")
    val fresh2 = graft.operators.IncrementalDedup.preserveClusters(
      docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 1),
      "doc_id", "text")
    assert(bandSet(st2.bands) == bandSet(fresh2.bands), "hop-2 band table drift")
    assert(compMap(st2.comps) == compMap(fresh2.comps), "hop-2 component drift")
    assert(st2.comps.count() > 0, "differential test needs a non-empty pair graph")
    fresh2.release(); st2.release()
  }

  test("incremental composed clean equals full recompute, chained across two deltas") {
    import graft.operators.{IncrementalPipeline, Pipeline}
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 10 =!= 3)
    val st0 = IncrementalPipeline.preserveClean(
      base, "doc_id", "text", minQuality = 0.3, lang = "en")
    // delta 1: add %10==3, remove %10==7
    val corpus1 = docs.filter(col("doc_id") % 10 =!= 7)
    val st1 = IncrementalPipeline.continueClean(st0, corpus1,
      docs.filter(col("doc_id") % 10 === 3),
      base.filter(col("doc_id") % 10 === 7).select("doc_id"),
      "doc_id", "text")
    val incr1 = ids(IncrementalPipeline.cleanedDocs(st1, corpus1, "doc_id"))
    val full1 = ids(Pipeline.cleanCorpusByComponents(
      corpus1, "doc_id", "text", minQuality = 0.3, lang = "en"))
    assert(incr1 == full1,
      s"delta1 only-incr=${(incr1 -- full1).take(5)} only-full=${(full1 -- incr1).take(5)}")
    // delta 2 CHAINED on st1 (no re-preserve): remove %10==1, add clones
    // of the %10==5 docs under fresh ids (identical texts — they hit
    // the exact-dedup layer as losing duplicates, never reaching the
    // cluster layer)
    val removed2 = corpus1.filter(col("doc_id") % 10 === 1).select("doc_id")
    val added2 = corpus1.filter(col("doc_id") % 10 === 5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus2 = corpus1.filter(col("doc_id") % 10 =!= 1).unionByName(added2)
    val st2 = IncrementalPipeline.continueClean(st1, corpus2, added2, removed2,
      "doc_id", "text")
    val incr2 = ids(IncrementalPipeline.cleanedDocs(st2, corpus2, "doc_id"))
    val full2 = ids(Pipeline.cleanCorpusByComponents(
      corpus2, "doc_id", "text", minQuality = 0.3, lang = "en"))
    assert(incr2 == full2,
      s"delta2 only-incr=${(incr2 -- full2).take(5)} only-full=${(full2 -- incr2).take(5)}")
    st0.release(); st1.release(); st2.release()
  }

  test("incremental decontamination equals batch on two-sided deltas") {
    import graft.operators.{IncrementalDecontam, Pipeline}
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpus0 = Seq(
      (1L, "aa bb cc dd"),     // shares trigram "aa bb cc" with eval 100
      (2L, "xx yy zz ww"),     // clean
      (3L, "pp qq rr ss"),     // contaminated only by eval 102 (added later)
      (4L, "mm nn")            // under w tokens: never contaminated
    ).toDF("doc_id", "text")
    val eval0 = Seq(
      (100L, "aa bb cc"),
      (101L, "aa bb cc extra") // OVERLAPS 100 — removal must not free the shingle
    ).toDF("doc_id", "text")
    val st0 = IncrementalDecontam.preserve(
      corpus0, "doc_id", "text", eval0, "doc_id", "text", w = 3)
    def batch(c: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame) =
      ids(Pipeline.decontaminate(c, "doc_id", "text", e, "text", w = 3))
    assert(ids(IncrementalDecontam.decontaminated(st0, corpus0, "doc_id")) ==
      batch(corpus0, eval0))

    // delta 1: +doc 5 (clean), −doc 2; +eval 102 (hits doc 3), −eval 101
    // (its "aa bb cc" shingle is STILL contributed by eval 100)
    val corpus1 = corpus0.filter(col("doc_id") =!= 2L)
      .unionByName(Seq((5L, "uu vv tt hh")).toDF("doc_id", "text"))
    val eval1 = eval0.filter(col("doc_id") =!= 101L)
      .unionByName(Seq((102L, "pp qq rr")).toDF("doc_id", "text"))
    val st1 = IncrementalDecontam.continueDecontam(st0,
      Seq((5L, "uu vv tt hh")).toDF("doc_id", "text"), Seq(2L).toDF("doc_id"),
      Seq((102L, "pp qq rr")).toDF("doc_id", "text"), Seq(101L).toDF("doc_id"),
      "doc_id", "text", "doc_id", "text")
    val incr1 = ids(IncrementalDecontam.decontaminated(st1, corpus1, "doc_id"))
    assert(incr1 == batch(corpus1, eval1), s"incr=$incr1")
    assert(!incr1.contains(1L), "overlapping-shingle eval removal freed doc 1")
    assert(!incr1.contains(3L), "added eval item missed doc 3")
    assert(incr1.contains(5L) && incr1.contains(4L))

    // zero-change delta is the identity
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noIds = Seq.empty[Long].toDF("doc_id")
    val st1b = IncrementalDecontam.continueDecontam(st1,
      empty, noIds, empty, noIds, "doc_id", "text", "doc_id", "text")
    assert(ids(IncrementalDecontam.decontaminated(st1b, corpus1, "doc_id")) == incr1)

    // durable chaining: the state (width included) round-trips
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    st1.write(dir)
    val back = graft.operators.DecontamState.read(spark, dir)
    assert(back.w == 3)
    assert(ids(IncrementalDecontam.decontaminated(back, corpus1, "doc_id")) == incr1)

    // replace semantics on BOTH sides: re-adding doc 1 with clean text
    // must evict its stale (contaminated) shingles; re-adding eval 100
    // with new text must evict its old shingles and contaminate doc 5
    val doc1v2 = Seq((1L, "qq ww ee rr")).toDF("doc_id", "text")
    val eval100v2 = Seq((100L, "uu vv tt")).toDF("doc_id", "text")
    val corpus2 = corpus1.filter(col("doc_id") =!= 1L).unionByName(doc1v2)
    val eval2 = eval1.filter(col("doc_id") =!= 100L).unionByName(eval100v2)
    val st2 = IncrementalDecontam.continueDecontam(st1b,
      doc1v2, noIds, eval100v2, noIds, "doc_id", "text", "doc_id", "text")
    val incr2 = ids(IncrementalDecontam.decontaminated(st2, corpus2, "doc_id"))
    assert(incr2 == batch(corpus2, eval2), s"incr=$incr2")
    assert(incr2.contains(1L), "re-added doc kept its stale contamination")
    assert(!incr2.contains(5L), "re-added eval item's new shingles missed doc 5")
    st0.release(); st1.release(); st1b.release(); st2.release()
  }

  test("incremental clean: displacement, promotion and vanished groups") {
    import graft.operators.{IncrementalPipeline, Pipeline}
    val base = Seq(
      (10L, "the x y"), (11L, "the x y"),       // group A: survivor 10
      (20L, "the p q"), (22L, "the p q"),       // group B: survivor 20
      (30L, "the solo one")                     // group C: survivor 30
    ).toDF("doc_id", "text")
    val st = IncrementalPipeline.preserveClean(
      base, "doc_id", "text", minQuality = 0.0, lang = "en")
    // add 5 (same text as A — DISPLACES 10); remove 20 (PROMOTES 22);
    // remove 30 (group C vanishes entirely)
    val added = Seq((5L, "the x y")).toDF("doc_id", "text")
    val removed = Seq(20L, 30L).toDF("doc_id")
    val corpusAfter = base.filter(!col("doc_id").isin(20L, 30L))
      .unionByName(added)
    val next = IncrementalPipeline.continueClean(st, corpusAfter, added,
      removed, "doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val incr = ids(IncrementalPipeline.cleanedDocs(next, corpusAfter, "doc_id"))
    val full = ids(Pipeline.cleanCorpusByComponents(
      corpusAfter, "doc_id", "text", minQuality = 0.0, lang = "en"))
    assert(incr == full, s"incr=$incr full=$full")
    assert(incr.contains(5L) && !incr.contains(10L), "displacement missed")
    assert(!incr.contains(30L), "vanished group leaked")
    // the full pipeline state round-trips through parquet (durable
    // chaining), filter params included
    val dir = java.nio.file.Files.createTempDirectory("graft_clean_state").toString
    next.write(dir)
    val back = graft.operators.CleanState.read(spark, dir)
    assert(back.minQuality == next.minQuality && back.lang == next.lang)
    assert(back.dedup.maxHamming == next.dedup.maxHamming)
    assert(ids(IncrementalPipeline.cleanedDocs(back, corpusAfter, "doc_id")) == incr)
    st.release(); next.release()
  }

  test("incremental tfidf equals full recompute, chained, with empty docs in N") {
    import graft.operators.{IncrementalTfidf, Pipeline}
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def sameAs(incr: Map[(Long, String), (Long, Long, Double)],
        full: Map[(Long, String), (Long, Long, Double)], tag: String): Unit = {
      assert(incr.keySet == full.keySet,
        s"$tag keys: only-incr=${(incr.keySet -- full.keySet).take(3)} " +
          s"only-full=${(full.keySet -- incr.keySet).take(3)}")
      for ((k, (tf, df, w)) <- incr) {
        val (ftf, fdf, fw) = full(k)
        assert(tf == ftf && df == fdf && math.abs(w - fw) < 1e-12, s"$tag $k")
      }
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 10 =!= 3)
    val st0 = IncrementalTfidf.preserveTfidf(base, "doc_id", "text")
    // delta 1: add %10==3 (plus one EMPTY doc — counts in N, no tf
    // rows), remove %10==7
    val emptyDoc = Seq((9999991L, "   ")).toDF("doc_id", "text")
    val added1 = docs.filter(col("doc_id") % 10 === 3)
      .select("doc_id", "text").unionByName(emptyDoc)
    // one removed id duplicated: joins are duplicate-immune and N must
    // not be decremented twice
    val removed1base = base.filter(col("doc_id") % 10 === 7).select("doc_id")
    val removed1 = removed1base.unionByName(removed1base.limit(1))
    val st1 = IncrementalTfidf.continueTfidf(st0, added1, removed1,
      "doc_id", "text")
    val corpus1 = docs.filter(col("doc_id") % 10 =!= 7)
      .select("doc_id", "text").unionByName(emptyDoc)
    sameAs(collect(IncrementalTfidf.tfidfOf(st1)),
      collect(Pipeline.tfidf(corpus1, "doc_id", "text")), "delta1")
    // delta 2 chained: remove the empty doc and %10==1; add clones of
    // %10==5 texts under fresh ids (df of their tokens rises)
    val added2 = corpus1.filter(col("doc_id") % 10 === 5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val removed2 = corpus1
      .filter(col("doc_id") % 10 === 1 || col("doc_id") === 9999991L)
      .select("doc_id")
    val st2 = IncrementalTfidf.continueTfidf(st1, added2, removed2,
      "doc_id", "text")
    val corpus2 = corpus1
      .filter(col("doc_id") % 10 =!= 1 && col("doc_id") =!= 9999991L)
      .unionByName(added2)
    sameAs(collect(IncrementalTfidf.tfidfOf(st2)),
      collect(Pipeline.tfidf(corpus2, "doc_id", "text")), "delta2")
    // a token removed from every doc must leave the vocabulary
    assert(st2.dfreq.filter(col("df") <= 0).count() == 0)
    st0.release(); st1.release(); st2.release()
  }

  test("incremental dedup clusters: empty delta is the identity; state round-trips") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 300)
    val state = graft.operators.IncrementalDedup.preserveClusters(
      docs, "doc_id", "text")
    val want = state.comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      docs.select("doc_id", "text").schema)
    val incr = graft.operators.IncrementalDedup.incrementalClusters(
      state, empty, Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == want, "zero-change continuation must be the identity")
    // parquet round-trip (the durable form of the preserved state)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_state").toString
    state.write(dir)
    val back = graft.operators.DedupClusterState.read(spark, dir)
    // pairing params are part of the state and survive the round-trip —
    // a continuation must run under the preserve-time semantics
    assert(back.maxHamming == state.maxHamming && back.maxBucket == state.maxBucket)
    assert(back.bands.count() == state.bands.count())
    assert(back.comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    state.release()
  }

  test("incremental dup spans: df crossing 2 re-scores untouched partners") {
    import graft.operators.{IncrementalDupSpans, DupSpanState, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text",
        w = 3, maxFrac = 0.5)
      val r = rows(out); out.unpersist(); r
    }
    val base = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), // duplicated pair
      (3L, "x y z w")                       // original
    ).toDF("doc_id", "text")
    val st0 = IncrementalDupSpans.preserveDupSpans(base, "doc_id", "text",
      w = 3, maxFrac = 0.5)
    assert(rows(st0.out) == batch(base))
    assert(rows(st0.out)(1L)._4 == 1.0 && rows(st0.out)(3L)._4 == 0.0)

    // remove doc 2: UNTOUCHED doc 1's spans flip to unique (1.0 → 0);
    // add doc 4 copying doc 3: UNTOUCHED doc 3 flips to duplicated
    val added = Seq((4L, "x y z w")).toDF("doc_id", "text")
    val removed = Seq(2L).toDF("doc_id")
    val after = base.filter(col("doc_id") =!= 2L).unionByName(added)
    val st1 = IncrementalDupSpans.continueDupSpans(st0, added, removed,
      "doc_id", "text")
    val got = rows(st1.out)
    assert(got == batch(after), s"got=$got")
    assert(got(1L)._4 == 0.0 && got(3L)._4 == 1.0 && got(4L)._4 == 1.0)

    // replace doc 4 with original text: doc 3 flips back down
    val doc4v2 = Seq((4L, "fresh new words here")).toDF("doc_id", "text")
    val after2 = after.filter(col("doc_id") =!= 4L).unionByName(doc4v2)
    val noIds = Seq.empty[Long].toDF("doc_id")
    val st2 = IncrementalDupSpans.continueDupSpans(st1, doc4v2, noIds,
      "doc_id", "text")
    assert(rows(st2.out) == batch(after2))
    assert(rows(st2.out)(3L)._4 == 0.0)

    // zero-change identity + durable round-trip
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val st2b = IncrementalDupSpans.continueDupSpans(st2, empty, noIds,
      "doc_id", "text")
    assert(rows(st2b.out) == batch(after2))
    val dir = java.nio.file.Files.createTempDirectory("graft_dupspans").toString
    st2b.write(dir)
    val back = DupSpanState.read(spark, dir)
    assert(back.w == 3 && back.maxFrac == 0.5)
    assert(rows(back.out) == batch(after2))
    st0.release(); st1.release(); st2.release(); st2b.release()
  }

  test("segmented dup-span store: touched-bucket rewrites, untouched files intact") {
    import graft.operators.{DupSpansStore, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text",
        w = 3, maxFrac = 0.5)
      val r = rows(out); out.unpersist(); r
    }
    val B = 16
    // fillers spread docs over many buckets so untouched ones exist
    val fillers = (10L to 40L).map(i => (i, s"filler u$i v$i w$i x$i"))
    val base = (Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), // duplicated pair
      (3L, "x y z w")                       // original
    ) ++ fillers).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_seg_store").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = B)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(base))

    // the continuation's touched doc-buckets, computed as the store does
    def bucketsOf(ids: Seq[Long]): Set[Int] =
      ids.toDF("id").select(pmod(xxhash64(col("id")), lit(B.toLong))
        .cast("int").as("b")).distinct().as[Int].collect().toSet
    def listing(table: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(store, table)
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        (root.relativize(p).toString,
          (java.nio.file.Files.getLastModifiedTime(p).toMillis,
            java.nio.file.Files.size(p)))
      }.toMap finally st.close()
    }
    val before = listing("spans")
    // remove doc 2 (untouched doc 1 flips to unique), add doc 4
    // copying doc 3 (untouched doc 3 flips to duplicated)
    val added = Seq((4L, "x y z w")).toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, added, Seq(2L).toDF("doc_id"),
      "doc_id", "text")
    val after = base.filter(col("doc_id") =!= 2L).unionByName(added)
    val got = rows(DupSpansStore.scores(spark, store))
    assert(got == batch(after), s"got=$got")
    assert(got(1L)._4 == 0.0 && got(3L)._4 == 1.0 && got(4L)._4 == 1.0)
    // untouched span buckets kept their exact files (bytes + mtimes):
    // the rewrite only staged and swapped the delta's buckets
    val touched = bucketsOf(Seq(2L, 4L)).map(b => s"_b=$b/")
    val untouchedBefore = before.filter { case (f, _) =>
      !touched.exists(f.startsWith) }
    assert(untouchedBefore.nonEmpty, "test needs untouched buckets")
    val afterL = listing("spans")
    untouchedBefore.foreach { case (f, meta) =>
      assert(afterL.get(f).contains(meta), s"untouched file rewritten: $f")
    }

    // a doc alone in its bucket: removing it must DELETE the bucket dir
    val lone = spark.read.parquet(s"$store/spans")
      .groupBy(col("_b")).agg(countDistinct(col("doc_id")).as("n"),
        first(col("doc_id")).as("id"))
      .filter(col("n") === 1).select("id", "_b").as[(Long, Int)].collect()
    assert(lone.nonEmpty, "test needs a lone-doc bucket")
    val (loneId, loneB) = lone.head
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, emptyDocs,
      Seq(loneId).toDF("doc_id"), "doc_id", "text")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "spans", s"_b=$loneB")),
      "emptied bucket dir must be deleted")
    val after2 = after.filter(col("doc_id") =!= loneId)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(after2))

    // zero-change continuation is the identity
    DupSpansStore.continueAt(spark, store, emptyDocs,
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    assert(rows(DupSpansStore.scores(spark, store)) == batch(after2))

    // pruned point read: same rows as a filtered full read, and the
    // scan must only touch the probed ids' bucket files
    val probeIds = Seq(1L, 3L)
    val pruned = DupSpansStore.scoresFor(spark, store,
      probeIds.toDF("doc_id"))
    assert(rows(pruned) ==
      rows(DupSpansStore.scores(spark, store)
        .filter(col("doc_id").isin(probeIds: _*))))
    val allowed = bucketsOf(probeIds).map(b => s"/_b=$b/")
    val scanned = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(scanned.nonEmpty &&
      scanned.forall(f => allowed.exists(f.contains)),
      s"pruned read touched foreign buckets: ${scanned.mkString(",")}")
  }

  test("segmented dup-span store: range bucketing, shard appends, negative ids") {
    import graft.operators.{DupSpansStore, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text",
        w = 3, maxFrac = 0.5)
      val r = rows(out); out.unpersist(); r
    }
    // ids straddle zero: negative ids produce NEGATIVE range buckets,
    // which the swap journal must round-trip (the -?\d+ parse)
    val base = (-6L to 9L).map(i => (i, s"neg u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_seg_range").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, bucketMode = "range", rangeSpan = 4L)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(base))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "spans", "_b=-2")),
      "negative ids must land in negative range buckets")

    // a contiguous shard append lands in FRESH buckets only: every
    // pre-existing bucket dir keeps its files byte-identical
    def listing() = {
      val root = java.nio.file.Paths.get(store, "spans")
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        (root.relativize(p).toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap finally st.close()
    }
    val before = listing()
    val shard = (12L to 19L).map(i => (i, s"neg u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, shard,
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    val after = base.unionByName(shard)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(after))
    val afterL = listing()
    before.foreach { case (f, mt) =>
      assert(afterL.get(f).contains(mt),
        s"pre-existing file rewritten by a pure shard append: $f")
    }
    // removing a negative-id doc rewrites (only) its negative bucket —
    // the journal's negative-bucket line drives the swap
    DupSpansStore.continueAt(spark, store,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq(-5L).toDF("doc_id"), "doc_id", "text")
    assert(rows(DupSpansStore.scores(spark, store)) ==
      batch(after.filter(col("doc_id") =!= -5L)))
  }

  test("segmented preserved state: exact, delta-proportional, untouched files intact") {
    segmentedPreservedState()
  }

  test("segmented preserved state: exact, delta-proportional, untouched files intact (distributed loop)") {
    withSqlConf(distributedLoop)(segmentedPreservedState())
  }

  private def segmentedPreservedState(): Unit = {
    import graft.core.SegmentedStateStore
    // two far-apart components: a chain the delta perturbs and a large
    // clique-ish blob it never reaches — with 64 buckets, the blob's
    // nodes dominate most buckets, so a 2-hop continuation must leave
    // most bucket files byte-identical
    val chain = (0L until 6L).map(i => (100L + i, 101L + i))
    val blob = (for (i <- 0L until 40L; j <- Seq((i * 7 + 1) % 40, (i * 3 + 2) % 40)
      if i != j) yield (i, j)).distinct
    val edges1 = (chain ++ blob).toDF("src", "dst")
    val store = java.nio.file.Files
      .createTempDirectory("graft_pr_seg").toString
    IncrementalPageRank.preserveTo(spark, store, edges1, 0.8,
      iterations = 4, nBuckets = 64)
    // in-memory twin of the same preserve for exact equivalence
    val st0 = IncrementalPageRank.preserve(edges1, 0.8, iterations = 4)

    // delta: node 100 re-points its edge (chain head) — the 2-iteration
    // frontier reaches {101-ish} then one hop more, never the blob
    val edges2 = edges1.filter(col("src") =!= 100L)
      .unionByName(Seq((100L, 103L)).toDF("src", "dst"))
    val chg = Seq(100L).toDF("src")
    def listing(table: String) = {
      val root = java.nio.file.Paths.get(store, table)
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        (root.relativize(p).toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap finally st.close()
    }
    val beforeKvs = listing("kvs"); val beforeOut = listing("out")
    val gotSeg = IncrementalPageRank.incrementalSeg(spark, store,
      edges2, chg, 0.8, iterations = 2, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    val gotMem = IncrementalPageRank.incremental(edges2, st0, chg, 0.8,
      iterations = 2, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    assert(gotSeg.keySet == gotMem.keySet)
    for (k <- gotSeg.keySet)
      assert(math.abs(gotSeg(k) - gotMem(k)) < 1e-12,
        s"node $k seg=${gotSeg(k)} mem=${gotMem(k)}")

    // delta-proportionality, the point of the store: most bucket files
    // were neither rewritten nor touched (byte-identical mtimes)
    for ((table, before) <- Seq("kvs" -> beforeKvs, "out" -> beforeOut)) {
      val after = listing(table)
      val unchanged = before.count { case (f, mt) => after.get(f).contains(mt) }
      assert(unchanged > before.size / 2,
        s"$table: only $unchanged/${before.size} files untouched — " +
          "continuation rewrote more than the touched buckets")
      assert(after.exists { case (f, mt) => !before.get(f).contains(mt) },
        s"$table: nothing rewritten — the delta must touch SOME bucket")
    }

    // chained continuation through the store == the in-memory loop
    // started from a SNAPSHOT of the committed post-delta-1 state
    // (localCheckpoint detaches the snapshot from the files the second
    // seg run is about to replace) — verifies the store machinery
    // (lazy base, pruned reads, journaled commit) round-trips the
    // literal MRBGraph state, not a re-derivation of it
    val edges3 = edges2.filter(col("src") =!= 102L)
      .unionByName(Seq((102L, 105L)).toDF("src", "dst"))
    val chg2 = Seq(102L).toDF("src")
    val st1 = {
      val s = SegmentedStateStore.openForRead(spark, store).preserved
      graft.core.PreservedState(
        s.kvs.localCheckpoint(true), s.out.localCheckpoint(true))
    }
    val gotSeg2 = IncrementalPageRank.incrementalSeg(spark, store,
      edges3, chg2, 0.8, iterations = 2, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    val gotMem2 = IncrementalPageRank.incremental(edges3, st1, chg2, 0.8,
      iterations = 2, filterThreshold = 0.0)
      .as[(Long, Double)].collect().toMap
    assert(gotSeg2.keySet == gotMem2.keySet)
    for (k <- gotSeg2.keySet)
      assert(math.abs(gotSeg2(k) - gotMem2(k)) < 1e-12,
        s"chained node $k seg=${gotSeg2(k)} mem=${gotMem2(k)}")

    // compact: content-invariant, one file per live bucket dir
    SegmentedStateStore.compact(spark, store)
    val postCompact = SegmentedStateStore.openForRead(spark, store)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(postCompact == gotSeg2, "compact must not change content")
    val outFiles = listing("out")
    val byBucket = outFiles.keys.filter(_.endsWith(".parquet"))
      .groupBy(_.split("/")(0))
    assert(byBucket.values.forall(_.size == 1),
      s"compact must leave one file per bucket: $byBucket")
    st0.release(); st1.release()
  }

  test("segmented preserved state is algorithm-agnostic: matvec One2One and One2Mul") {
    import graft.algorithms.IncrementalMatVec
    // damped row-normalized matrix over a 60-index space, delta halves
    // three columns' cells — the q_incr_matvec construction at spec size
    def weights(n: Int) = (0 until n).flatMap { i =>
      Seq((i.toLong, ((i * 7 + 1) % n).toLong, 1.0 + (i % 5)),
        (i.toLong, ((i * 3 + 2) % n).toLong, 2.0 + (i % 3)))
    }.filter { case (i, j, _) => i != j }
    val w = weights(60).toDF("i", "j", "w")
    val rs = w.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = w.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = IncrementalMatVec.universe(m1, 0.2)
    val chg = m1.filter(col("j") % 10 === 3).select("j").distinct()
    val m2 = m1.withColumn("v",
      when(col("j") % 10 === 3, col("v") * 0.5).otherwise(col("v")))

    // One2One: store continuation == in-memory continuation exactly
    val store1 = java.nio.file.Files
      .createTempDirectory("graft_mv_seg").toString
    IncrementalMatVec.preserveTo(spark, store1, m1, b, iterations = 3,
      nBuckets = 16)
    val gotSeg = IncrementalMatVec.incrementalSeg(spark, store1, m2, b,
      chg, iterations = 2).as[(Long, Double)].collect().toMap
    val st0 = IncrementalMatVec.preserve(m1, b, iterations = 3)
    val gotMem = IncrementalMatVec.incremental(m2, b, st0, chg,
      iterations = 2).as[(Long, Double)].collect().toMap
    assert(gotSeg.keySet == gotMem.keySet)
    for (k <- gotSeg.keySet)
      assert(math.abs(gotSeg(k) - gotMem(k)) < 1e-12,
        s"idx $k seg=${gotSeg(k)} mem=${gotMem(k)}")
    st0.release()

    // One2Mul (blocked tiles + backProject through block sparsity):
    // the store mode must compose with the full out-state dyn scope
    // and the tile-granular frontier
    val blockSize = 8
    val chgT = m1.filter(col("j") % 10 === 3)
      .select(IncrementalMatVec.tileId(col("i"), col("j"), blockSize)
        .as("tid")).distinct()
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_mvb_seg").toString
    IncrementalMatVec.preserveBlockedTo(spark, store2, m1, b, blockSize,
      iterations = 3, nBuckets = 16)
    val gotSegB = IncrementalMatVec.incrementalBlockedSeg(spark, store2,
      m2, b, chgT, blockSize, iterations = 2)
      .as[(Long, Double)].collect().toMap
    val st0b = IncrementalMatVec.preserveBlocked(m1, b, blockSize,
      iterations = 3)
    val gotMemB = IncrementalMatVec.incrementalBlocked(m2, b, st0b, chgT,
      blockSize, iterations = 2).as[(Long, Double)].collect().toMap
    assert(gotSegB.keySet == gotMemB.keySet)
    for (k <- gotSegB.keySet)
      assert(math.abs(gotSegB(k) - gotMemB(k)) < 1e-12,
        s"blocked idx $k seg=${gotSegB(k)} mem=${gotMemB(k)}")
    st0b.release()
    m1.unpersist(blocking = false)
  }

  test("segmented stores: delta id dtype is pinned to the init corpus's") {
    // xxhash64(int 5) != xxhash64(long 5): an un-pinned delta with a
    // narrower id dtype would bucket differently and strand stale rows
    // in buckets that are never read or evicted. The store casts every
    // incoming id to the DDL pinned at init; an uncastable dtype fails
    // loudly instead of silently corrupting bucket placement.
    import graft.operators.{DupSpansStore, LmCountsStore, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text", 3, 0.5)
      val r = rows(out); out.unpersist(); r
    }
    val base = (1L to 16L).map(i => (i, s"pin u$i v$i w$i x$i"))
      .toDF("doc_id", "text") // BIGINT ids
    val store = java.nio.file.Files
      .createTempDirectory("graft_seg_pin").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 8)
    // the delta arrives with INT ids and INT removal ids
    val added = Seq((20, s"pin u3 v3 w3 x3")).toDF("doc_id", "text")
    val removed = Seq(5, 6).toDF("doc_id")
    DupSpansStore.continueAt(spark, store, added, removed,
      "doc_id", "text")
    val after = base.filter(!col("doc_id").isin(5L, 6L))
      .unionByName(Seq((20L, s"pin u3 v3 w3 x3")).toDF("doc_id", "text"))
    assert(rows(DupSpansStore.scores(spark, store)) == batch(after),
      "int-id delta must bucket identically to the long-id store")
    // pruned point-reads pin too
    assert(DupSpansStore.scoresFor(spark, store, Seq(20).toDF("doc_id"))
      .count() == 1L)
    // an uncastable id dtype fails loudly
    val bad = Seq((Array(1.toByte), "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      DupSpansStore.continueAt(spark, store, bad,
        Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    }
    // same contract on the LM store
    val lmStore = java.nio.file.Files
      .createTempDirectory("graft_lm_pin").toString
    LmCountsStore.init(spark, lmStore, base, "doc_id", "text", nBuckets = 8)
    LmCountsStore.continueAt(spark, lmStore, added, removed,
      "doc_id", "text")
    val audit = Seq((900L, "pin u3 v3 w3 x3")).toDF("doc_id", "text")
    val want = Pipeline.lmScoreAgainst(after, audit, "doc_id", "text")
      .as[(Long, Long, Double, Int)].collect().toSet
    val got = LmCountsStore.scoreAgainst(spark, lmStore, audit,
      "doc_id", "text").as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("segmented dup-span store: incremental cut re-cuts flip-affected docs only") {
    import graft.operators.{DupSpansStore, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long)].collect().map(t => t._1 -> t).toMap
    def batchCut(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.cutDupSpans(corpus, "doc_id", "text", w = 3)
      val r = rows(out); out.unpersist(); r
    }
    // docs 1 and 2 share a passage (duplicated at init — cut from
    // both); doc 3 is original; doc 4 will LOSE its partner (5), doc 6
    // will GAIN one (7) — both flip directions re-cut untouched docs
    val shared = "alpha beta gamma delta"
    val base = Seq(
      (1L, s"one $shared tail1"), (2L, s"two $shared tail2"),
      (3L, "plain original text three"),
      (4L, "epsilon zeta eta theta four"), (5L, "epsilon zeta eta theta five"),
      (6L, "iota kappa lambda mu six")).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_seg_cut").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 8, withCut = true)
    assert(rows(DupSpansStore.cuts(spark, store)) == batchCut(base))
    // doc 1/2's shared passage must actually be cut at init
    assert(!rows(DupSpansStore.cuts(spark, store))(1L)._2.contains("beta"))

    // delta: −5 (doc 4's spans flip to original: UNTOUCHED doc 4 must
    // be re-cut back to full text), +7 duplicating doc 6's passage
    // (UNTOUCHED doc 6 must be re-cut to lose it)
    val added = Seq((7L, "iota kappa lambda mu seven")).toDF("doc_id", "text")
    val removed = Seq(5L).toDF("doc_id")
    DupSpansStore.continueAt(spark, store, added, removed,
      "doc_id", "text")
    val after = base.filter(col("doc_id") =!= 5L).unionByName(added)
    val got = rows(DupSpansStore.cuts(spark, store))
    assert(got == batchCut(after), s"got=$got")
    assert(got(4L)._2 == "epsilon zeta eta theta four",
      "doc 4 must regain its full text after its partner left")
    assert(!got(6L)._2.contains("kappa"),
      "doc 6 must lose the passage doc 7 duplicated")

    // upsert: replacing doc 2 with fresh text un-duplicates doc 1
    val doc2v2 = Seq((2L, "totally new content two")).toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, doc2v2,
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    val after2 = after.filter(col("doc_id") =!= 2L).unionByName(doc2v2)
    val got2 = rows(DupSpansStore.cuts(spark, store))
    assert(got2 == batchCut(after2))
    assert(got2(1L)._2 == s"one $shared tail1")
    // scores stay consistent alongside the cut tables
    assert(DupSpansStore.scores(spark, store).count() == after2.count())
  }

  test("segmented dup-span store: crash between chained deltas recovers exactly") {
    import graft.operators.{DupSpansStore, Pipeline}
    import java.nio.file.{Files, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text", 3, 0.5)
      val r = rows(out); out.unpersist(); r
    }
    val base = (1L to 20L).map(i => (i, s"chain u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_seg_chain_crash").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 8)
    val d1add = Seq((30L, "chain u4 v4 w4 x4")).toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, d1add, Seq(2L).toDF("doc_id"),
      "doc_id", "text")
    val after1 = base.filter(col("doc_id") =!= 2L).unionByName(d1add)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(after1))

    // simulate a crash BETWEEN the deltas: a torn swap (staged copy of
    // a live bucket + committed journal, renames never ran) left by a
    // writer that died right after delta 1's successor started — the
    // next delta's writer entry must roll it forward, then apply its
    // own delta on top, ending exactly at the post-both state
    val liveBuckets = Files.list(Paths.get(store, "spans")).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("_b=")).sorted
    val b = liveBuckets.head.stripPrefix("_b=")
    val stage = Paths.get(store, "seg_staging", "spans", s"_b=$b")
    Files.createDirectories(stage.getParent)
    val live = Paths.get(store, "spans", s"_b=$b")
    Files.walk(live).forEach { p =>
      val dst = stage.resolve(live.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    Files.write(Paths.get(store, "seg_swap_journal"),
      s"spans $b staged".getBytes)

    val d2add = Seq((31L, "chain u9 v9 w9 x9")).toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, d2add, Seq(6L).toDF("doc_id"),
      "doc_id", "text")
    val after2 = after1.filter(col("doc_id") =!= 6L).unionByName(d2add)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(after2),
      "delta 2 over a torn swap must recover then apply exactly")
    assert(!Files.exists(Paths.get(store, "seg_swap_journal")))
    assert(!Files.exists(Paths.get(store, "seg_staging")))
  }

  test("segmented dup-span store: journaled rebucket/compact is content-invariant") {
    import graft.operators.{DupSpansStore, Pipeline}
    import java.nio.file.{Files, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dupSpanStats(corpus, "doc_id", "text", 3, 0.5)
      val r = rows(out); out.unpersist(); r
    }
    def bucketDirs(store: String, t: String) = {
      val s = Files.list(Paths.get(store, t))
      try s.toArray.map(_.toString.split("/").last)
        .filter(_.startsWith("_b=")).toSet finally s.close()
    }
    // range-bucketed store + two shard appends: bucket count grows
    // with the id range — the lifecycle problem rebucket exists for
    val base = (1L to 12L).map(i => (i, s"reb u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_seg_rebucket").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, bucketMode = "range", rangeSpan = 4L)
    val noIds = Seq.empty[Long].toDF("doc_id")
    val shard1 = (20L to 27L).map(i => (i, s"reb u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val shard2 = (40L to 47L).map(i => (i, s"reb u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, shard1, noIds, "doc_id", "text")
    DupSpansStore.continueAt(spark, store, shard2, noIds, "doc_id", "text")
    val corpus = base.unionByName(shard1).unionByName(shard2)
    val want = batch(corpus)
    assert(rows(DupSpansStore.scores(spark, store)) == want)
    assert(bucketDirs(store, "spans").size > 6,
      "shard appends should have grown the range-bucket count")

    // rebucket range -> hash/4: content invariant, layout migrated
    DupSpansStore.rebucket(spark, store, nBuckets = 4, bucketMode = "hash")
    assert(rows(DupSpansStore.scores(spark, store)) == want,
      "rebucket must not change scores")
    assert(bucketDirs(store, "spans").subsetOf(
      (0 until 4).map(b => s"_b=$b").toSet),
      s"hash/4 layout expected: ${bucketDirs(store, "spans")}")
    // one contiguous file per bucket dir afterward
    for (t <- Seq("spans", "ntoks", "dfreq", "out");
         d <- bucketDirs(store, t)) {
      val s = Files.list(Paths.get(store, t, d))
      val parts = try s.toArray.map(_.toString)
        .count(_.endsWith(".parquet")) finally s.close()
      assert(parts == 1, s"$t/$d has $parts files after rebucket")
    }
    // the store keeps working under the new layout: another delta,
    // then point-reads prune with the NEW bucket fn
    val shard3 = Seq((60L, "reb u1 v1 w1 x1")).toDF("doc_id", "text")
    DupSpansStore.continueAt(spark, store, shard3, Seq(5L).toDF("doc_id"),
      "doc_id", "text")
    val corpus2 = corpus.filter(col("doc_id") =!= 5L).unionByName(shard3)
    assert(rows(DupSpansStore.scores(spark, store)) == batch(corpus2))
    assert(DupSpansStore.scoresFor(spark, store, Seq(60L).toDF("doc_id"))
      .count() == 1L)

    // crash between journal-commit and install: a READER must see the
    // NEW params + data (resolved through the journal, non-destructive)
    // — simulate by re-staging a rebucket journal by hand
    DupSpansStore.compact(spark, store) // clean slate, 1 file/bucket
    val want2 = rows(DupSpansStore.scores(spark, store))
    // stage a params copy + a journal claiming a pending dir swap; the
    // reader must prefer the staged params and leave everything alone
    val stagedParams = Paths.get(store, "seg_staging", "params")
    Files.createDirectories(stagedParams.getParent)
    val live = Paths.get(store, "params")
    Files.walk(live).forEach { p =>
      val dst = stagedParams.resolve(live.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    Files.write(Paths.get(store, "seg_swap_journal"),
      "params 0 dir".getBytes)
    assert(rows(DupSpansStore.scores(spark, store)) == want2)
    assert(Files.exists(Paths.get(store, "seg_swap_journal")),
      "reader must not consume a dir-swap journal")
    // next writer installs it
    DupSpansStore.continueAt(spark, store,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), noIds,
      "doc_id", "text")
    assert(!Files.exists(Paths.get(store, "seg_swap_journal")))
    assert(rows(DupSpansStore.scores(spark, store)) == want2)
  }

  test("writer lease: live lease rejects, stale lease taken over, fence aborts a stalled commit") {
    import graft.operators.{DupSpansStore, SegSwap}
    import java.nio.file.{Files, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    val base = (1L to 10L).map(i => (i, s"lease u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_lease").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 4)
    // lease writes go through the Hadoop FS (not java.nio) so the
    // LocalFileSystem .crc sidecar stays consistent across overwrites
    def writeLease(dir: String, epoch: Long, ts: Long): Unit = {
      val f = SegSwap.fsOf(spark, dir)
      val o = f.create(
        new org.apache.hadoop.fs.Path(s"$dir/seg_writer_lease"), true)
      try o.write(s"$epoch $ts".getBytes("UTF-8")) finally o.close()
    }
    val intact = rows(DupSpansStore.scores(spark, store))
    val d1 = Seq((30L, "lease u4 v4 w4 x4")).toDF("doc_id", "text")
    val noIds = Seq.empty[Long].toDF("doc_id")

    // a LIVE lease (another writer mid-continuation, staging on disk):
    // a second writer fails at entry and must NOT touch the staging —
    // the exact race the lease exists to prevent (an unleased second
    // writer's recover would delete the first's staging mid-commit)
    val stage = Paths.get(store, "seg_staging", "spans", "_b=0")
    Files.createDirectories(stage)
    Files.write(stage.resolve("part-live-writer.parquet"), Array[Byte](1))
    writeLease(store, 7, System.currentTimeMillis())
    val e = intercept[IllegalStateException] {
      DupSpansStore.continueAt(spark, store, d1, noIds, "doc_id", "text")
    }
    assert(e.getMessage.contains("another writer holds the lease"),
      e.getMessage)
    assert(Files.exists(stage.resolve("part-live-writer.parquet")),
      "rejected writer deleted the live writer's staging")
    assert(rows(DupSpansStore.scores(spark, store)) == intact)

    // a STALE lease (crashed writer, age > TTL) is taken over: the
    // continuation runs, cleans the orphan staging, and releases
    writeLease(store, 7,
      System.currentTimeMillis() - SegSwap.DefaultLeaseTtlMs - 1000)
    DupSpansStore.continueAt(spark, store, d1, noIds, "doc_id", "text")
    val after = base.unionByName(d1)
    val got = rows(DupSpansStore.scores(spark, store))
    val wantDf = graft.operators.Pipeline.dupSpanStats(
      after, "doc_id", "text", 3, 0.5)
    assert(got == rows(wantDf)); wantDf.unpersist()
    assert(!Files.exists(Paths.get(store, "seg_writer_lease")),
      "takeover writer did not release its lease")
    assert(!Files.exists(Paths.get(store, "seg_staging")),
      "takeover writer did not clean the crashed writer's staging")

    // EPOCH FENCING: a writer that stalled past its TTL and was taken
    // over (the lease now carries a higher epoch) must abort BEFORE the
    // journal — its stale swap never commits over the successor's state
    val fs = SegSwap.fsOf(spark, store)
    val myEpoch = SegSwap.acquireLease(fs, store)
    writeLease(store, myEpoch + 1, System.currentTimeMillis())
    val stale = Seq((1L, 2, 3L, 0)).toDF("doc_id", "pos", "s", "_b")
    val f = intercept[IllegalArgumentException] {
      SegSwap.commit(spark, store, Seq(("spans", stale, Set(0))),
        fence = Some(myEpoch))
    }
    assert(f.getMessage.contains("fenced out"), f.getMessage)
    assert(!Files.exists(Paths.get(store, "seg_swap_journal")),
      "fenced-out writer still journaled")
    assert(rows(DupSpansStore.scores(spark, store)) == got,
      "fenced-out writer corrupted the store")
    // successor (epoch+1) proceeds normally, recovering the orphan
    writeLease(store, myEpoch + 1,
      System.currentTimeMillis() - SegSwap.DefaultLeaseTtlMs - 1000)
    DupSpansStore.continueAt(spark, store,
      Seq((31L, "lease u9 v9 w9 x9")).toDF("doc_id", "text"), noIds,
      "doc_id", "text")
    val after2 = after.unionByName(
      Seq((31L, "lease u9 v9 w9 x9")).toDF("doc_id", "text"))
    val wantDf2 = graft.operators.Pipeline.dupSpanStats(
      after2, "doc_id", "text", 3, 0.5)
    assert(rows(DupSpansStore.scores(spark, store)) == rows(wantDf2))
    wantDf2.unpersist()

    // the SegmentedStateStore writer handle honors the same contract
    import graft.core.{PreservedState, SegmentedStateStore}
    val prStore = Files.createTempDirectory("graft_lease_pr").toString
    SegmentedStateStore.init(spark, prStore, PreservedState(
      Seq((1L, 1L, 0.5)).toDF("node", "src", "contrib"),
      Seq((1L, 1.0)).toDF("node", "rank")), "node", nBuckets = 4)
    writeLease(prStore, 3, System.currentTimeMillis())
    intercept[IllegalStateException] {
      SegmentedStateStore.openForWrite(spark, prStore)
    }
    SegSwap.fsOf(spark, prStore).delete(
      new org.apache.hadoop.fs.Path(s"$prStore/seg_writer_lease"), false)
    val h = SegmentedStateStore.openForWrite(spark, prStore)
    assert(Files.exists(Paths.get(prStore, "seg_writer_lease")))
    h.releaseLease()
    assert(!Files.exists(Paths.get(prStore, "seg_writer_lease")))
  }

  /** Full file→mtime snapshot of a store table dir (untouched-bucket
    * immutability assertions for the round-10 store family). */
  private def fileSnapshot(dir: String): Map[String, Long] = {
    import java.nio.file.{Files, Paths}
    if (!Files.exists(Paths.get(dir))) Map.empty
    else {
      val s = java.nio.file.Files.walk(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      } finally s.close()
    }
  }

  /** Files under untouched `_b=` dirs must keep their exact paths and
    * mtimes across a continuation. */
  private def assertUntouched(before: Map[String, Long],
      after: Map[String, Long], touched: Set[Int], what: String): Unit = {
    def bucketOfPath(p: String): Option[Int] =
      "_b=(-?\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt)
    val untouchedBefore = before.filter {
      case (p, _) => bucketOfPath(p).exists(b => !touched.contains(b))
    }
    assert(untouchedBefore.nonEmpty,
      s"$what: no untouched bucket files to check (touched=$touched)")
    for ((p, t) <- untouchedBefore)
      assert(after.get(p).contains(t),
        s"$what: untouched bucket file rewritten or removed: $p")
  }

  test("semantic-dedup store: continuation equals in-memory twin and batch, prunes to affected clusters") {
    import graft.operators.{SemanticDedupStore, Similarity}
    import java.nio.file.Files
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cid", "keep").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // two clusters seeded by ids 1/2; cluster-2 members sit ~30° apart
    // (mutual cosine ≤ 0.87 < tau) so NOTHING is dominated at init —
    // the flip must come from the delta
    val mk = (rows: Seq[(Long, Seq[Double])]) => rows.toDF("id", "vec")
    val base = mk(Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      10L -> Seq(0.95, 0.05), 11L -> Seq(0.9, 0.1),
      20L -> Seq(0.5, 0.866), 21L -> Seq(-0.5, 0.866)))
    // cid-bucket count where the two cluster ids land in DIFFERENT
    // buckets (deterministic — xxhash64 is fixed), so the untouched-
    // bucket assertion is never vacuous
    val nB = Seq(8, 16, 32).find { b =>
      val bs = spark.range(1).select(
        pmod(xxhash64(lit(1L)), lit(b.toLong)).cast("int"),
        pmod(xxhash64(lit(2L)), lit(b.toLong)).cast("int")).collect()(0)
      bs.getInt(0) != bs.getInt(1)
    }.get
    val store = Files.createTempDirectory("graft_semdedup_store").toString
    SemanticDedupStore.init(spark, store, base, nlist = 2, tau = 0.9,
      nBuckets = nB)
    val centsDf = SemanticDedupStore.centroids(spark, store)
      .select(col("cid").as("id"), col("cvec").as("vec"))
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Similarity.semanticDedup(corpus, nlist = 2, tau = 0.9,
        centroids = Some(centsDf))
      val r = keysOf(out); out.unpersist(); r
    }
    val init = keysOf(SemanticDedupStore.keeps(spark, store))
    assert(init == batch(base))
    assert(init(20L)._2 == 1 && init(21L)._2 == 1)

    // delta 1 touches ONLY cluster 2: add id 5 (a dominator — 5 < 20,
    // cos(5,20) ≈ 0.998 > tau flips UNTOUCHED 20's keep bit; cos(2,5)
    // ≈ 0.89 < tau keeps 5 itself), remove 21. Cluster 1's bucket
    // files must keep their exact mtimes.
    val touchedBuckets = Set(spark.range(1).select(
      pmod(xxhash64(lit(2L)), lit(nB.toLong)).cast("int"))
      .collect()(0).getInt(0))
    val beforeA = fileSnapshot(s"$store/assign")
    val beforeO = fileSnapshot(s"$store/out")
    val add1 = mk(Seq(5L -> Seq(0.45, 0.893)))
    SemanticDedupStore.continueAt(spark, store, add1, Seq(21L).toDF("id"))
    val corpus1 = base.filter(col("id") =!= 21L).unionByName(add1)
    val got1 = keysOf(SemanticDedupStore.keeps(spark, store))
    assert(got1 == batch(corpus1))
    assert(got1(20L)._2 == 0,
      "added lower-id dominator must flip untouched cluster-mate 20")
    assertUntouched(beforeA, fileSnapshot(s"$store/assign"),
      touchedBuckets, "assign")
    assertUntouched(beforeO, fileSnapshot(s"$store/out"),
      touchedBuckets, "out")

    // the in-memory twin agrees step for step (shared keepFor core)
    val st0 = Similarity.preserveSemanticDedup(base, nlist = 2,
      tau = 0.9, centroids = Some(centsDf))
    val st1 = Similarity.continueSemanticDedup(st0, add1,
      Seq(21L).toDF("id"))
    assert(keysOf(st1.out) == got1)
    st0.release(); st1.release()

    // delta 2 chained: removing the dominator restores 20; upsert moves
    // 10 into cluster 2 (re-assignment across clusters)
    val move10 = mk(Seq(10L -> Seq(0.0, 1.0)))
    SemanticDedupStore.continueAt(spark, store, move10, Seq(5L).toDF("id"))
    val corpus2 = corpus1.filter(!col("id").isin(5L, 10L)).unionByName(move10)
    val got2 = keysOf(SemanticDedupStore.keeps(spark, store))
    assert(got2 == batch(corpus2))
    assert(got2(20L)._2 == 1, "removed dominator must restore 20")
    assert(got2(10L)._1 == 2L, "upserted vector not re-assigned")

    // rebucket/compact are content-invariant
    SemanticDedupStore.rebucket(spark, store, nBuckets = 3)
    assert(keysOf(SemanticDedupStore.keeps(spark, store)) == got2)
    SemanticDedupStore.compact(spark, store)
    assert(keysOf(SemanticDedupStore.keeps(spark, store)) == got2)
  }

  test("tfidf store: continuation equals full recompute, N rides the journal, rebucket invariant") {
    import graft.operators.{Pipeline, TfidfStore}
    import java.nio.file.Files
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def sameAs(a: Map[(Long, String), (Long, Long, Double)],
        b: Map[(Long, String), (Long, Long, Double)], tag: String): Unit = {
      assert(a.keySet == b.keySet, s"$tag keys diverge")
      for ((k, (tf, df, w)) <- a) {
        val (btf, bdf, bw) = b(k)
        assert(tf == btf && df == bdf && math.abs(w - bw) < 1e-12, s"$tag $k")
      }
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 300)
    val base = docs.filter(col("doc_id") % 10 =!= 3)
    val store = Files.createTempDirectory("graft_tfidf_store").toString
    TfidfStore.init(spark, store, base, "doc_id", "text", nBuckets = 8)
    sameAs(collect(TfidfStore.tfidf(spark, store)),
      collect(Pipeline.tfidf(base, "doc_id", "text")), "init")

    // delta 1: add %10==3 plus an EMPTY doc (counts in N, no tf rows),
    // remove %10==7 with one id duplicated (N must not decrement twice)
    val emptyDoc = Seq((9999991L, "   ")).toDF("doc_id", "text")
    val added1 = docs.filter(col("doc_id") % 10 === 3)
      .select("doc_id", "text").unionByName(emptyDoc)
    val removed1base = base.filter(col("doc_id") % 10 === 7).select("doc_id")
    TfidfStore.continueAt(spark, store, added1,
      removed1base.unionByName(removed1base.limit(1)), "doc_id", "text")
    val corpus1 = docs.filter(col("doc_id") % 10 =!= 7)
      .select("doc_id", "text").unionByName(emptyDoc)
    sameAs(collect(TfidfStore.tfidf(spark, store)),
      collect(Pipeline.tfidf(corpus1, "doc_id", "text")), "delta1")

    // delta 2 chained: clones raise df; the empty doc leaves N
    val added2 = corpus1.filter(col("doc_id") % 10 === 5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val removed2 = corpus1
      .filter(col("doc_id") % 10 === 1 || col("doc_id") === 9999991L)
      .select("doc_id")
    TfidfStore.continueAt(spark, store, added2, removed2, "doc_id", "text")
    val corpus2 = corpus1
      .filter(col("doc_id") % 10 =!= 1 && col("doc_id") =!= 9999991L)
      .unionByName(added2)
    val want2 = collect(Pipeline.tfidf(corpus2, "doc_id", "text"))
    sameAs(collect(TfidfStore.tfidf(spark, store)), want2, "delta2")

    // rebucket migrates the layout (params dir-swap) content-invariantly
    TfidfStore.rebucket(spark, store, nBuckets = 3)
    sameAs(collect(TfidfStore.tfidf(spark, store)), want2, "rebucket")
    // a SINGLE-doc continuation under the new layout touches only its
    // own tf bucket: the other buckets' files keep their exact mtimes
    val beforeTf = fileSnapshot(s"$store/tf")
    val touchedTf = Set(spark.range(1).select(
      pmod(xxhash64(lit(8888881L)), lit(3L)).cast("int"))
      .collect()(0).getInt(0))
    TfidfStore.continueAt(spark, store,
      Seq((8888881L, "zz zz qq")).toDF("doc_id", "text"),
      spark.range(0).select(col("id").as("doc_id")), "doc_id", "text")
    val corpus3 = corpus2.unionByName(
      Seq((8888881L, "zz zz qq")).toDF("doc_id", "text"))
    sameAs(collect(TfidfStore.tfidf(spark, store)),
      collect(Pipeline.tfidf(corpus3, "doc_id", "text")), "post-rebucket")
    assertUntouched(beforeTf, fileSnapshot(s"$store/tf"), touchedTf, "tf")
  }

  test("tfidf store: one continuation stays at or under the measured job count") {
    import graft.operators.TfidfStore
    // the corpus_stream shape: 2 buckets, 20 fresh documents (one
    // token-less) and 3 deletions per batch
    def doc(i: Long) = (i, Seq(i % 7, i % 13, i % 29).map(w => s"w$w").mkString(" "))
    val store = java.nio.file.Files.createTempDirectory("graft_tfidf_jobs").toString
    TfidfStore.init(spark, store, (0L until 200L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", nBuckets = 2)
    val added = ((200L until 219L).map(doc) :+ ((219L, " "))).toDF("doc_id", "text")
      .localCheckpoint(true)
    val removed = Seq(3L, 77L, 150L).toDF("doc_id").localCheckpoint(true)
    val jobs = jobsOf(TfidfStore.continueAt(spark, store, added, removed,
      "doc_id", "text"))
    info(s"jobs: $jobs")
    // measured on this fixture (local[4]): 37 while the touched doc
    // buckets, the removed ids present and the added ids each cost
    // their own jobs; 28 once they ride the leaves' jobs
    assert(jobs <= 28, s"one tfidf continuation ran $jobs jobs")
    // N counts the token-less document: the weights equal a full
    // recompute over the final corpus
    val corpus = ((0L until 219L).filterNot(Set(3L, 77L, 150L)).map(doc) :+
      ((219L, " "))).toDF("doc_id", "text")
    def weights(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "token", "tfidf")
      .as[(Long, String, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val (got, want) = (weights(TfidfStore.tfidf(spark, store)),
      weights(graft.operators.Pipeline.tfidf(corpus, "doc_id", "text")))
    assert(got.keySet == want.keySet)
    for ((k, w) <- want) assert(math.abs(got(k) - w) < 1e-12, s"$k")
  }

  test("line-dedup store: flips reclean untouched docs from pruned state") {
    import graft.operators.{LineDedupStore, Pipeline}
    import java.nio.file.Files
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) =
      rows(Pipeline.dedupLines(corpus, "doc_id", "text", maxDocs = 2))
    // "shared K" lines span docs; crossing nd=2 flips them
    val base = (1L to 6L).map(i =>
      (i, s"unique line $i\nshared ${i % 3}")).toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_line_store").toString
    LineDedupStore.init(spark, store, base, "doc_id", "text",
      maxDocs = 2, nBuckets = 8)
    assert(rows(LineDedupStore.cleaned(spark, store)) == batch(base))

    // delta: add doc 10 carrying "shared 0" (df 2 → 3 — FLIPS, so
    // untouched docs 3 and 6 must be recleaned), remove doc 1
    // ("shared 1" df 2 → 1 — flips BACK, doc 4 recleaned)
    val add = Seq((10L, "fresh here\nshared 0")).toDF("doc_id", "text")
    LineDedupStore.continueAt(spark, store, add, Seq(1L).toDF("doc_id"),
      "doc_id", "text")
    val after = base.filter(col("doc_id") =!= 1L).unionByName(add)
    val got = rows(LineDedupStore.cleaned(spark, store))
    assert(got == batch(after))
    assert(!got(3L)._2.contains("shared 0"),
      "untouched doc 3 kept a line flipped to boilerplate")
    assert(got(4L)._2.contains("shared 1"),
      "untouched doc 4 lost a line flipped back to unique")

    // the in-memory twin agrees (shared linesOf/cleanFor cores)
    import graft.operators.IncrementalLineDedup
    val st0 = IncrementalLineDedup.preserveLines(base, "doc_id", "text",
      maxDocs = 2)
    val st1 = IncrementalLineDedup.continueLines(st0, add,
      Seq(1L).toDF("doc_id"), "doc_id", "text")
    assert(rows(st1.out.select("doc_id", "clean", "n_kept", "n_removed"))
      == got)
    st0.release(); st1.release()

    // chained upsert: rewriting doc 10 without the shared line flips
    // "shared 0" back (df 3 → 2)
    val up = Seq((10L, "fresh here rewritten")).toDF("doc_id", "text")
    LineDedupStore.continueAt(spark, store, up,
      spark.range(0).select(col("id").as("doc_id")), "doc_id", "text")
    val after2 = after.filter(col("doc_id") =!= 10L).unionByName(up)
    assert(rows(LineDedupStore.cleaned(spark, store)) == batch(after2))
    // compact is content-invariant
    LineDedupStore.compact(spark, store)
    assert(rows(LineDedupStore.cleaned(spark, store)) == batch(after2))
  }

  test("decontam store: two-sided touched-bucket continuation equals batch") {
    import graft.operators.{DecontamStore, Pipeline}
    import java.nio.file.Files
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpus0 = Seq(
      (1L, "aa bb cc dd"), (2L, "xx yy zz ww"),
      (3L, "pp qq rr ss"), (4L, "mm nn")).toDF("doc_id", "text")
    val eval0 = Seq(
      (100L, "aa bb cc"),
      (101L, "aa bb cc extra")).toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_decontam_store").toString
    DecontamStore.init(spark, store, corpus0, "doc_id", "text",
      eval0, "doc_id", "text", w = 3, nBuckets = 8)
    def batch(c: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame) =
      ids(Pipeline.decontaminate(c, "doc_id", "text", e, "text", w = 3))
    assert(ids(DecontamStore.decontaminated(spark, store, corpus0,
      "doc_id")) == batch(corpus0, eval0))

    // two-sided delta: +doc 5, −doc 2; +eval 102 (hits doc 3), −eval
    // 101 (its shingle STILL contributed by 100). Doc 1's bucket is
    // untouched — its shingle files keep their mtimes.
    val beforeSh = fileSnapshot(s"$store/shingles")
    val touchedSh = Seq(5L, 2L)
      .map(i => spark.range(1).select(
        pmod(xxhash64(lit(i)), lit(8L)).cast("int")).collect()(0).getInt(0))
      .toSet
    DecontamStore.continueAt(spark, store,
      Seq((5L, "uu vv tt hh")).toDF("doc_id", "text"), Seq(2L).toDF("doc_id"),
      Seq((102L, "pp qq rr")).toDF("doc_id", "text"), Seq(101L).toDF("doc_id"),
      "doc_id", "text", "doc_id", "text")
    val corpus1 = corpus0.filter(col("doc_id") =!= 2L)
      .unionByName(Seq((5L, "uu vv tt hh")).toDF("doc_id", "text"))
    val eval1 = eval0.filter(col("doc_id") =!= 101L)
      .unionByName(Seq((102L, "pp qq rr")).toDF("doc_id", "text"))
    val got = ids(DecontamStore.decontaminated(spark, store, corpus1,
      "doc_id"))
    assert(got == batch(corpus1, eval1))
    assert(!got.contains(1L), "overlapping-shingle eval removal freed doc 1")
    assert(!got.contains(3L), "added eval item missed doc 3")
    assertUntouched(beforeSh, fileSnapshot(s"$store/shingles"),
      touchedSh, "shingles")

    // replace semantics on BOTH sides (the in-memory twin's scenario)
    val doc1v2 = Seq((1L, "qq ww ee rr")).toDF("doc_id", "text")
    val eval100v2 = Seq((100L, "uu vv tt")).toDF("doc_id", "text")
    DecontamStore.continueAt(spark, store, doc1v2,
      spark.range(0).select(col("id").as("doc_id")), eval100v2,
      spark.range(0).select(col("id").as("doc_id")),
      "doc_id", "text", "doc_id", "text")
    val corpus2 = corpus1.filter(col("doc_id") =!= 1L).unionByName(doc1v2)
    val eval2 = eval1.filter(col("doc_id") =!= 100L).unionByName(eval100v2)
    val got2 = ids(DecontamStore.decontaminated(spark, store, corpus2,
      "doc_id"))
    assert(got2 == batch(corpus2, eval2))
    assert(got2.contains(1L), "re-added doc kept its stale contamination")
    assert(!got2.contains(5L), "re-added eval item's new shingles missed doc 5")
    // rebucket is content-invariant
    DecontamStore.rebucket(spark, store, nBuckets = 3)
    assert(ids(DecontamStore.decontaminated(spark, store, corpus2,
      "doc_id")) == got2)
  }

  test("segmented dup-span store: crash recovery honors the journal contract") {
    import graft.operators.{DupSpansStore, Pipeline}
    import java.nio.file.{Files, Paths, Path}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    val base = (1L to 20L).map(i => (i, s"crash u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_seg_crash").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 8)
    val want = rows(Pipeline.dupSpanStats(base, "doc_id", "text", 3, 0.5))

    // (a) un-journaled crash: orphan staging, live state untouched —
    // the reader must return pre-crash data and must NOT delete the
    // staging (a writer may still be mid-flight); a writer cleans it
    val orphan = Paths.get(store, "seg_staging", "spans", "_b=0")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk"), "partial".getBytes)
    assert(rows(DupSpansStore.scores(spark, store)) == want)
    assert(Files.exists(orphan), "reader must not clean a writer's staging")
    DupSpansStore.continueAt(spark, store,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    assert(!Files.exists(orphan), "writer entry must roll back orphan staging")
    assert(rows(DupSpansStore.scores(spark, store)) == want)

    // (b) journaled crash: staged content + committed journal, renames
    // never ran — a READER resolves the journal NON-destructively
    // (staged dir read in place of live, nothing renamed or deleted:
    // two concurrent readers can never race a roll-forward), and the
    // next WRITER entry rolls forward for real
    val liveBuckets = Files.list(Paths.get(store, "spans")).toArray
      .map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith("_b=")).sorted
    val b = liveBuckets.head.stripPrefix("_b=")
    val stage = Paths.get(store, "seg_staging", "spans", s"_b=$b")
    Files.createDirectories(stage.getParent)
    // stage a byte-identical copy of the live dir (what a crashed
    // continuation that changed nothing would have staged)
    val live = Paths.get(store, "spans", s"_b=$b")
    Files.walk(live).forEach { p =>
      val dst = stage.resolve(live.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    // "empty" line for a bucket that does not exist: deletes nothing
    Files.write(Paths.get(store, "seg_swap_journal"),
      s"spans $b staged\nntoks 9999 empty".getBytes)
    assert(rows(DupSpansStore.scores(spark, store)) == want)
    assert(Files.exists(Paths.get(store, "seg_swap_journal")),
      "reader must not consume the journal (non-destructive resolve)")
    assert(Files.exists(stage), "reader must not install staged dirs")
    DupSpansStore.continueAt(spark, store,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    assert(!Files.exists(Paths.get(store, "seg_swap_journal")),
      "writer entry must consume the journal by roll-forward")
    assert(!Files.exists(stage), "writer entry must install staged dirs")
    assert(Files.exists(live))
    assert(rows(DupSpansStore.scores(spark, store)) == want)

    // (c) corrupt journal: strict parse aborts BEFORE touching anything
    Files.write(Paths.get(store, "seg_swap_journal"),
      "spans NOT_A_BUCKET staged".getBytes)
    intercept[IllegalStateException] {
      DupSpansStore.scores(spark, store).collect()
    }
    assert(Files.exists(Paths.get(store, "seg_swap_journal")),
      "corrupt journal must be preserved for forensics")
    Files.delete(Paths.get(store, "seg_swap_journal"))
    assert(rows(DupSpansStore.scores(spark, store)) == want)
  }

  test("LM counts store: rolled-forward model scores equal batch retraining") {
    import graft.operators.{LmCountsStore, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    val audit = Seq((900L, "the cat sat on the mat"),
      (901L, "mat the on sat cat the"),
      (902L, "never seen tokens qq zz")).toDF("doc_id", "text")
    def batchScore(model: org.apache.spark.sql.DataFrame) =
      rows(Pipeline.lmScoreAgainst(model, audit, "doc_id", "text"))
    val base = ((1L to 6L).map(i => (i, "the cat sat on the mat")) ++
      (7L to 12L).map(i => (i, s"pad p$i q$i r$i"))).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_lm_counts").toString
    LmCountsStore.init(spark, store, base, "doc_id", "text", nBuckets = 8)
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(base))

    // delta: remove two copies of the dominant pattern, add docs whose
    // text shifts the model toward the shuffled transitions — every
    // audit score must move exactly as a full retrain says
    val added = Seq((20L, "mat the on sat cat the"),
      (21L, "mat the on sat cat the")).toDF("doc_id", "text")
    val removed = Seq(1L, 2L).toDF("doc_id")
    LmCountsStore.continueAt(spark, store, added, removed,
      "doc_id", "text")
    val after = base.filter(!col("doc_id").isin(1L, 2L)).unionByName(added)
    val got = rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text"))
    assert(got == batchScore(after), s"got=$got")
    // the shift is visible: the shuffled audit doc got cheaper, the
    // dominant pattern costlier
    val before = batchScore(base)
    assert(got(901L)._3 < before(901L)._3 && got(900L)._3 > before(900L)._3)

    // upsert replaces contributions; a token whose last occurrence
    // leaves must drop out of the vocabulary (V shrinks exactly)
    val replaced = Seq((7L, "the cat sat on the mat")).toDF("doc_id", "text")
    LmCountsStore.continueAt(spark, store, replaced,
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    val after2 = after.filter(col("doc_id") =!= 7L).unionByName(replaced)
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(after2))

    // zero-change continuation is the identity
    LmCountsStore.continueAt(spark, store,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(after2))
  }

  test("LM counts store: range mode keeps shard-append contribution buckets fresh") {
    import graft.operators.{LmCountsStore, Pipeline}
    import java.nio.file.{Files, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    val audit = Seq((900L, "range cat sat mat"), (901L, "unseen zz qq"))
      .toDF("doc_id", "text")
    def batchScore(model: org.apache.spark.sql.DataFrame) =
      rows(Pipeline.lmScoreAgainst(model, audit, "doc_id", "text"))
    val base = (1L to 16L).map(i => (i, s"range cat sat mat p$i"))
      .toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_lm_range").toString
    LmCountsStore.init(spark, store, base, "doc_id", "text",
      nBuckets = 8, bucketMode = "range", rangeSpan = 8L)
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(base))
    def listing(t: String) = {
      val root = Paths.get(store, t)
      val st = Files.walk(root)
      try st.filter(p => Files.isRegularFile(p)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        (root.relativize(p).toString, Files.getLastModifiedTime(p).toMillis)
      }.toMap finally st.close()
    }
    val beforeUni = listing("unidoc"); val beforeBi = listing("bidoc")
    // a contiguous crawl shard: its ids land in FRESH contribution
    // buckets, so every pre-existing unidoc/bidoc file stays
    // byte-identical — the append-shaped ingest win range mode buys
    // (hash mode would scatter the shard across every bucket)
    val shard = (32L to 40L).map(i => (i, s"range cat sat new n$i"))
      .toDF("doc_id", "text")
    LmCountsStore.continueAt(spark, store, shard,
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(base.unionByName(shard)))
    for ((t, before) <- Seq("unidoc" -> beforeUni, "bidoc" -> beforeBi)) {
      val after = listing(t)
      before.foreach { case (f, mt) =>
        assert(after.get(f).contains(mt),
          s"$t: pre-existing file rewritten by a pure shard append: $f")
      }
    }
    // removals still exact under range mode (contribution bags pruned
    // to the departing shard's buckets)
    LmCountsStore.continueAt(spark, store,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq(3L, 33L).toDF("doc_id"), "doc_id", "text")
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(
        base.unionByName(shard).filter(!col("doc_id").isin(3L, 33L))))
  }

  test("segmented dedup-cluster store: store == in-memory, untouched buckets intact") {
    import graft.operators.{DedupClusterStore, IncrementalDedup}
    import java.nio.file.{Files, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    // near-dup groups of 3 (one token differs WITHIN a group; groups
    // are token-DISJOINT so their simhash bands never collide) spread
    // over id space so a localized delta leaves most buckets untouched
    def doc(i: Long) = {
      val g = i / 3
      val v = i % 3
      (i, (0 until 8).map(k => s"tok${g}x$k").mkString(" ") + s" v$v$g")
    }
    val base = (0L until 60L).map(doc).toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_dedup_seg").toString
    DedupClusterStore.init(spark, store, base, "doc_id", "text",
      maxHamming = 3, nBuckets = 64)
    val st0 = IncrementalDedup.preserveClusters(base, "doc_id", "text",
      maxHamming = 3)
    assert(rows(DedupClusterStore.clusters(spark, store)) == rows(st0.comps))

    def listing(t: String) = {
      val root = Paths.get(store, t)
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        (root.relativize(p).toString, Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }
    val beforeBands = listing("bands"); val beforeComps = listing("comps")

    // delta: +100 joins group 2's near-dup cluster, −7 leaves group 2's
    // exact text of doc 6 (group 2, variant 0): distance 0, provably
    // paired regardless of how single-token flips land in the simhash
    val g2text = (0 until 8).map(k => s"tok2x$k").mkString(" ") + " v02"
    val added = Seq((100L, g2text)).toDF("doc_id", "text")
    val removed = Seq(7L).toDF("doc_id")
    DedupClusterStore.continueAt(spark, store, added, removed,
      "doc_id", "text")
    val gotSeg = rows(DedupClusterStore.clusters(spark, store))
    val gotMem = rows(IncrementalDedup.incrementalClusters(st0, added,
      removed, "doc_id", "text"))
    assert(gotSeg == gotMem, s"seg=${gotSeg.size} mem=${gotMem.size}")
    st0.release()

    // delta-proportionality: most bucket files untouched
    for ((t, before) <- Seq("bands" -> beforeBands, "comps" -> beforeComps)) {
      val after = listing(t)
      val unchanged = before.count { case (f, mt) => after.get(f).contains(mt) }
      assert(unchanged > before.size / 2,
        s"$t: only $unchanged/${before.size} files untouched")
    }
    // pruned point-read + compact invariance
    assert(rows(DedupClusterStore.clustersFor(spark, store,
      Seq(100L).toDF("id"))).contains(100L))
    DedupClusterStore.compact(spark, store)
    assert(rows(DedupClusterStore.clusters(spark, store)) == gotSeg)
    // rebucket migration keeps content and future continuations work
    DedupClusterStore.rebucket(spark, store, nBuckets = 8)
    assert(rows(DedupClusterStore.clusters(spark, store)) == gotSeg)
    val g5text = (0 until 8).map(k => s"tok5x$k").mkString(" ") + " v05"
    DedupClusterStore.continueAt(spark, store,
      Seq((101L, g5text)).toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"), "doc_id", "text")
    val after2 = base.filter(col("doc_id") =!= 7L).unionByName(added)
      .unionByName(Seq((101L, g5text)).toDF("doc_id", "text"))
    val full = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.simhashNearDups(after2, "doc_id", "text",
        maxHamming = 3))
    assert(rows(DedupClusterStore.clusters(spark, store)) == rows(full))
    full.unpersist()
  }

  test("LM counts store: journaled rebucket migrates range growth back to hash") {
    import graft.operators.{LmCountsStore, Pipeline}
    import java.nio.file.{Files, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    val audit = Seq((900L, "rb cat sat mat"), (901L, "unseen zz qq"))
      .toDF("doc_id", "text")
    def batchScore(model: org.apache.spark.sql.DataFrame) =
      rows(Pipeline.lmScoreAgainst(model, audit, "doc_id", "text"))
    def bucketDirs(store: String, t: String) = {
      val s = Files.list(Paths.get(store, t))
      try s.toArray.map(_.toString.split("/").last)
        .filter(_.startsWith("_b=")).toSet finally s.close()
    }
    val base = (1L to 12L).map(i => (i, s"rb cat sat mat p$i"))
      .toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_lm_rebucket").toString
    LmCountsStore.init(spark, store, base, "doc_id", "text",
      bucketMode = "range", rangeSpan = 4L)
    // two far-apart shards grow the range-bucket count
    val s1 = (40L to 45L).map(i => (i, s"rb cat new n$i")).toDF("doc_id", "text")
    val s2 = (90L to 95L).map(i => (i, s"rb sat new m$i")).toDF("doc_id", "text")
    val noIds = Seq.empty[Long].toDF("doc_id")
    LmCountsStore.continueAt(spark, store, s1, noIds, "doc_id", "text")
    LmCountsStore.continueAt(spark, store, s2, noIds, "doc_id", "text")
    val corpus = base.unionByName(s1).unionByName(s2)
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(corpus))
    assert(bucketDirs(store, "unidoc").size > 4)
    // migrate range -> hash/4: scores invariant, layout bounded, the
    // store keeps working under the new layout
    LmCountsStore.rebucket(spark, store, nBuckets = 4, bucketMode = "hash")
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(corpus))
    assert(bucketDirs(store, "unidoc").subsetOf(
      (0 until 4).map(b => s"_b=$b").toSet))
    LmCountsStore.continueAt(spark, store,
      Seq((200L, "rb cat sat mat late")).toDF("doc_id", "text"),
      Seq(3L).toDF("doc_id"), "doc_id", "text")
    val corpus2 = corpus.filter(col("doc_id") =!= 3L)
      .unionByName(Seq((200L, "rb cat sat mat late")).toDF("doc_id", "text"))
    assert(rows(LmCountsStore.scoreAgainst(spark, store, audit,
      "doc_id", "text")) == batchScore(corpus2))
  }

  test("incremental line dedup: status flips reclean untouched docs both ways") {
    import graft.operators.{IncrementalLineDedup, LineDedupState, Pipeline}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long)].collect().map(t => t._1 -> t).toMap
    def batch(corpus: org.apache.spark.sql.DataFrame) = {
      val out = Pipeline.dedupLines(corpus, "doc_id", "text", maxDocs = 2)
      val r = rows(out); out.unpersist(); r
    }
    // FOOT appears in docs 1-2 (df 2 <= 2: kept in the base)
    val base = Seq(
      (1L, "one\nFOOT"), (2L, "two\nFOOT"),
      (3L, "BAR\nthree"), (4L, "BAR\nfour"), (5L, "BAR\nfive")
    ).toDF("doc_id", "text") // BAR df 3 > 2: boilerplate in the base
    val st0 = IncrementalLineDedup.preserveLines(base, "doc_id", "text",
      maxDocs = 2)
    assert(rows(st0.out) == batch(base))

    // delta: +6 ("three\nFOOT") pushes FOOT df to 3 — docs 1-2 are
    // UNTOUCHED by the delta but must be recleaned (flip to bad);
    // −4, −5 drop BAR's df to 2 — doc 3 must be recleaned (flip to
    // good). "three" also enters doc 6 (df 2, stays kept).
    val added = Seq((6L, "three\nFOOT")).toDF("doc_id", "text")
    val removed = Seq(4L, 5L).toDF("doc_id")
    val after = base.filter(!col("doc_id").isin(4L, 5L)).unionByName(added)
    val st1 = IncrementalLineDedup.continueLines(st0, added, removed,
      "doc_id", "text")
    val got = rows(st1.out)
    assert(got == batch(after), s"got=$got")
    assert(got(1L)._2 == "one" && got(2L)._2 == "two") // FOOT now removed
    assert(got(3L)._2 == "BAR\nthree")                 // BAR restored

    // replace semantics: re-adding doc 6 with new text evicts its old
    // lines (FOOT df back to 2 — docs 1-2 flip AGAIN, back to kept)
    val doc6v2 = Seq((6L, "solo six")).toDF("doc_id", "text")
    val after2 = after.filter(col("doc_id") =!= 6L).unionByName(doc6v2)
    val noIds = Seq.empty[Long].toDF("doc_id")
    val st2 = IncrementalLineDedup.continueLines(st1, doc6v2, noIds,
      "doc_id", "text")
    assert(rows(st2.out) == batch(after2))

    // zero-change delta is the identity; state round-trips durably
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val st2b = IncrementalLineDedup.continueLines(st2, empty, noIds,
      "doc_id", "text")
    assert(rows(st2b.out) == batch(after2))
    val dir = java.nio.file.Files.createTempDirectory("graft_linededup").toString
    st2b.write(dir)
    val back = LineDedupState.read(spark, dir)
    assert(back.maxDocs == 2L && back.sep == "\n")
    assert(rows(back.out) == batch(after2))
    st0.release(); st1.release(); st2.release(); st2b.release()
  }
}
