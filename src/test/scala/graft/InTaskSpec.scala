package graft

import org.apache.spark.sql.functions._

import graft.algorithms.IncrementalPageRank
import graft.core.{IncrResult, SegmentedStateStore}
import graft.operators.{KeyedUpsertStore, SegSwap}
import graft.streaming.StreamMaintain

/** The in-task path of store-mode One2One continuations
  * ([[graft.core.IncrementalJob]], [[graft.core.InTaskLoop]]) against
  * the distributed loop it replaces for small state. */
class InTaskSpec extends SparkSpec {
  import spark.implicits._

  private val damping = 0.8
  private val edges0 = ((0L until 40L).flatMap(i =>
    Seq((i, (i * 7 + 1) % 40), (i, (i * 3 + 2) % 40)))
    .filter { case (a, b) => a != b }).distinct

  /** A fresh rank store (16 buckets) and edge store (8 buckets) over
    * the 40-node fixture. */
  private def stores(tag: String): (String, String) = {
    val rank = java.nio.file.Files.createTempDirectory(s"graft_it_${tag}_rank").toString
    val edges = java.nio.file.Files.createTempDirectory(s"graft_it_${tag}_edges").toString
    val e = edges0.toDF("src", "dst")
    IncrementalPageRank.preserveTo(spark, rank, e, damping, iterations = 4,
      nBuckets = 16)
    IncrementalPageRank.initEdgeStore(spark, edges, e, nBuckets = 8)
    (rank, edges)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val st = java.nio.file.Files.walk(src)
    try st.forEach { p =>
      val d = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(p, d, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally st.close()
  }

  /** One micro-batch in `pageRankBatch`'s shape and order (continuation
    * against the pre-batch edge store overlaid with the patch, then
    * the edge upsert), at any θ; returns the continuation's result. */
  private def applyBatch(rank: String, edges: String,
      rows: Seq[(Long, Long, String)], id: Long, theta: Double): IncrResult = {
    val batch = rows.toDF("src", "dst", "op")
    val removed = batch.filter($"op" === "D").select($"src".cast("long"))
      .distinct().localCheckpoint(true)
    val patch = IncrementalPageRank.prepareBatch(
      batch.filter($"op" =!= "D").select("src", "dst")).localCheckpoint(true)
    val chg = patch.select("src").unionByName(removed).distinct()
    val r = IncrementalPageRank.continueFromStores(spark, rank, edges, patch,
      chg, damping, iterations = 3, filterThreshold = theta,
      batchId = Some(id)).get
    r.release()
    KeyedUpsertStore.upsertBatch(spark, edges, patch, removed, id)
    patch.unpersist(blocking = false); removed.unpersist(blocking = false)
    r
  }

  private def ranks(rank: String): Map[Long, Double] =
    SegmentedStateStore.openForRead(spark, rank).preserved.out
      .as[(Long, Double)].collect().toMap

  /** The three-batch chain: upserts, a brand-new source (45), removals,
    * and a removed source that keeps its in-links (5 becomes a sink). */
  private val chain = Seq(
    Seq((3L, 11L, "U"), (3L, 17L, "U"), (8L, 21L, "U"), (45L, 1L, "U"),
      (45L, 2L, "U")),
    Seq((5L, 0L, "D"), (14L, 5L, "U"), (3L, 0L, "D")),
    Seq((45L, 7L, "U"), (20L, 45L, "U"), (8L, 0L, "D"), (46L, 9L, "U")))

  for (theta <- Seq(0.0, 0.01))
    test(s"in-task and distributed continuations agree over a batch chain (θ=$theta)") {
      val (rank, edges) = stores(s"agree$theta")
      val copies = Seq("intask", "dist").map { t =>
        val r = java.nio.file.Files.createTempDirectory(s"graft_it_$t").toString
        val e = java.nio.file.Files.createTempDirectory(s"graft_it_${t}e").toString
        copyTree(rank, r); copyTree(edges, e)
        (r, e)
      }
      val Seq((rA, eA), (rB, eB)) = copies
      val (fsA, fsB) = (SegSwap.fsOf(spark, rA), SegSwap.fsOf(spark, rB))
      for ((rows, id) <- chain.zipWithIndex) {
        val a = applyBatch(rA, eA, rows, id.toLong, theta)
        val b = withSqlConf(distributedLoop)(
          applyBatch(rB, eB, rows, id.toLong, theta))
        assert(a.inTask && !b.inTask, s"batch $id paths: ${a.inTask}, ${b.inTask}")
        assert(a.frontierSizes == b.frontierSizes, s"batch $id frontier sizes")
        assert(a.iterations == b.iterations, s"batch $id iterations")
        assert(SegmentedStateStore.openForRead(spark, rA).appliedBatch ==
          SegmentedStateStore.openForRead(spark, rB).appliedBatch)
        val (epA, epB) = (SegSwap.currentEpoch(fsA, rA), SegSwap.currentEpoch(fsB, rB))
        assert(epA == epB, s"batch $id epochs")
        for (t <- Seq("kvs", "out"))
          assert(SegSwap.changedBuckets(fsA, rA, t, epA - 1, epA) ==
            SegSwap.changedBuckets(fsB, rB, t, epB - 1, epB),
            s"batch $id: $t changed buckets differ")
        val (ga, gb) = (ranks(rA), ranks(rB))
        assert(ga.keySet == gb.keySet, s"batch $id key sets")
        for (k <- ga.keySet)
          assert(math.abs(ga(k) - gb(k)) < 1e-12,
            s"batch $id node $k in-task=${ga(k)} distributed=${gb(k)}")
      }
      assert(ranks(rA).contains(46L), "the brand-new source 46 has no rank")
    }

  test("in-task bucket function equals the store's bucket expression") {
    val (rank, _) = stores("bucket")
    val st = SegmentedStateStore.openForRead(spark, rank)
    val keys = (-50L to 200L) :+ Long.MaxValue :+ Long.MinValue
    val want = keys.toDF("k").select(st.bucketOf(col("k"))).as[Int].collect().toSeq
    assert(keys.map(st.bucketFn) == want)
  }

  test("a store above the in-task bound takes the distributed fallback") {
    val (rank, edges) = stores("fallback")
    val rows = Seq((3L, 11L, "U"), (3L, 17L, "U"))
    val small = applyBatch(rank, edges, rows, 0L, 0.0)
    assert(small.inTask, "a 40-node store is far under the in-task bound")
    // a few KB of state against a 1 KB broadcast threshold, which
    // lowers the bound below it
    val big = withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "1024")(
      applyBatch(rank, edges, Seq((8L, 21L, "U")), 1L, 0.0))
    assert(!big.inTask, "state above the bound must run the distributed loop")
    assert(SegmentedStateStore.openForRead(spark, rank).appliedBatch == 1L)
  }

  test("state of unknown size (a frame over an RDD) keeps the distributed loop") {
    import graft.core.IncrementalJob
    val (rank, edges) = stores("unknown")
    val rows = Seq((3L, 11L), (3L, 17L), (8L, 21L))
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(rows))
      .toDF("src", "dst")
    val st = SegmentedStateStore.openForRead(spark, rank)
    assert(IncrementalJob.stateBytes(Seq(st.kvs, st.out)).isDefined)
    assert(IncrementalJob.stateBytes(Seq(st.kvs, st.out, rdd)).isEmpty,
      "an RDD-backed frame has no size statistics")
    // the batch's static rows over that RDD: the overlay's size is
    // unknown, so the continuation keeps the distributed loop
    val patch = IncrementalPageRank.prepareBatch(rdd)
    val r = IncrementalPageRank.continueFromStores(spark, rank, edges, patch,
      patch.select("src").distinct(), damping, iterations = 3,
      batchId = Some(0L)).get
    r.release()
    assert(!r.inTask, "state of unknown size ran in one task")
    assert(SegmentedStateStore.openForRead(spark, rank).appliedBatch == 0L)
  }

  test("a store just under the in-task bound runs in one task and matches the distributed loop") {
    val bound = graft.core.IncrementalJob.InTaskMaxStateBytes
    val n = 80000L
    val e = graft.util.Generators.graphTyped(spark, n).localCheckpoint(true)
    val rank = java.nio.file.Files.createTempDirectory("graft_it_near_rank").toString
    val edges = java.nio.file.Files.createTempDirectory("graft_it_near_edges").toString
    IncrementalPageRank.preserveTo(spark, rank, e, damping, iterations = 4,
      numPartitions = 4, nBuckets = 16)
    IncrementalPageRank.initEdgeStore(spark, edges, e, nBuckets = 8)
    e.unpersist(blocking = false)
    val st = SegmentedStateStore.openForRead(spark, rank)
    val bytes = graft.core.IncrementalJob.stateBytes(Seq(st.kvs, st.out,
      KeyedUpsertStore.open(spark, edges).all)).get
    assert(bytes > bound * 3 / 4 && bytes < bound,
      s"fixture state $bytes B is not just under the $bound B bound")
    def copy(from: String, tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_it_$tag").toString
      copyTree(from, d)
      d
    }
    val (rB, eB) = (copy(rank, "near_dist_rank"), copy(edges, "near_dist_edges"))
    // pr_stream's batch shape: 12 sources given 3 fresh out-edges, 3 removed
    val rows = (0 until 12).flatMap(i => (1 to 3).map(j =>
      (i * 4001L, (i * 4001L + j * 7919L) % n, "U"))) ++
      Seq(7L, 15007L, 30011L).map(s => (s, 0L, "D"))
    val a = applyBatch(rank, edges, rows, 0L, 0.0)
    val b = withSqlConf(distributedLoop)(applyBatch(rB, eB, rows, 0L, 0.0))
    assert(a.inTask && !b.inTask, s"paths: ${a.inTask}, ${b.inTask}")
    assert(a.frontierSizes == b.frontierSizes)
    val (ga, gb) = (ranks(rank), ranks(rB))
    assert(ga.keySet == gb.keySet)
    for (k <- ga.keySet)
      assert(math.abs(ga(k) - gb(k)) < 1e-12,
        s"node $k in-task=${ga(k)} distributed=${gb(k)}")
  }

  test("job count of one pageRankBatch stays at or under the measured count, per path") {
    val batch = Seq((3L, 11L, "U"), (3L, 17L, "U"), (8L, 21L, "U"),
      (5L, 0L, "D")).toDF("src", "dst", "op").localCheckpoint(true)
    def run(tag: String): Int = {
      val (rank, edges) = stores(tag)
      jobsOf(StreamMaintain.pageRankBatch(spark, rank, edges, batch, 0L,
        damping, iterations = 3))
    }
    val inTask = run("jobs_intask")
    val distributed = withSqlConf(distributedLoop)(run("jobs_dist"))
    info(s"jobs: in-task $inTask, distributed $distributed")
    // measured on this fixture (3 rounds + exit refresh, local[4]):
    // in-task 24, distributed 85 — the deterministic counters are the
    // regression signal
    assert(inTask <= 24, s"in-task pageRankBatch ran $inTask jobs")
    assert(distributed <= 85, s"distributed pageRankBatch ran $distributed jobs")
    assert(inTask * 2 <= distributed, s"in-task $inTask vs distributed $distributed")
  }
}
