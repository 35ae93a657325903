package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.{IncrementalPageRank, PageRank}
import graft.core.SegmentedStateStore
import graft.operators.{DedupClusterStore, DupSpansStore, KeyedUpsertStore,
  LmCountsStore, TfidfStore}
import graft.streaming.StreamMaintain

import Main._

/** pr_stream: the 24/7 O(delta) PageRank maintainer. A rank store and
  * an edge store are built in set-up; then fixed micro-batches of
  * ~0.1% of sources (mostly upserts, some deletes) go through
  * `StreamMaintain.pageRankBatch`, each followed by a top-k read. Per
  * batch cost here is Spark jobs times a per-job constant, so loop,
  * scheduling and commit work shows. */
object PrStream {
  val Nodes = 10000
  val Edges = 47000
  val BatchSources = 15
  val BatchDeletes = 3
  val UpsertEdges = 3
  val Iterations = 3
  val PreserveIterations = 4
  val RecomputeIterations = PreserveIterations
  val TopK = 10
  val RankBuckets = 16
  val EdgeBuckets = 8

  private val BatchSchema = StructType(Seq(
    StructField("src", LongType, false), StructField("dst", LongType, false),
    StructField("op", StringType, false)))

  final case class Batch(id: Long, rows: Seq[(Long, Long, String)],
      changed: Set[Long], graphAfter: Map[Long, Set[Long]])

  /** Batch `b` of the chain: `BatchSources` distinct sources; the
    * first `BatchDeletes` of them that have out-edges are removed
    * (`op = "D"`), every other one gets `UpsertEdges` fresh out-edges,
    * so every batch has the same row count. Applies itself to `g`. */
  def nextBatch(seed: Long, b: Long, g: mutable.Map[Long, Set[Long]])
      : Batch = {
    val srcs = Iterator.from(0).map(i => Gen.below(Nodes, seed, b, i, 21))
      .distinct.take(BatchSources).toSeq
    val dels = srcs.filter(g.contains).take(BatchDeletes).toSet
    val rows = srcs.flatMap { s =>
      if (dels(s)) {
        g -= s
        Seq((s, 0L, "D"))
      } else {
        val ds = Iterator.from(0).map(k => Gen.below(Nodes, seed, b, s, k, 23))
          .filter(_ != s).distinct.take(UpsertEdges).toSet
        g(s) = ds
        ds.toSeq.sorted.map(d => (s, d, "U"))
      }
    }
    Batch(b, rows, srcs.toSet, g.toMap)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark; val tr = c.tr
    val rank = s"${c.work}/stores/rank"
    val edges = s"${c.work}/stores/edges"
    val g = Gen.graph(c.seed, Nodes, Edges)
    val e0 = edgesDf(spark, g)
    c.attempt("preserve") {
      tr.span("IncrementalPageRank.preserveTo", "iterative")(
        IncrementalPageRank.preserveTo(spark, rank, e0, Damping,
          PreserveIterations, Cores, RankBuckets))
      tr.span("IncrementalPageRank.initEdgeStore", "store")(
        IncrementalPageRank.initEdgeStore(spark, edges, e0, EdgeBuckets))
    }
    // the replay check continues a byte copy of the rank store taken
    // just before the last refresh (replaying the whole chain would
    // cost as much as the measured loop again)
    val twin = new java.io.File(s"${c.work}/check/rank_twin")
    var last: Batch = null
    def rankState(): Map[String, Double] =
      ranksOf(SegmentedStateStore.openForRead(spark, rank).preserved.out)
        .map { case (k, v) => k.toString -> v }
    def refresh(kind: String, b: Batch): Unit = {
      val df = pin(spark.createDataFrame(spark.sparkContext.parallelize(
        b.rows.map(r => Row(r._1, r._2, r._3)), 1), BatchSchema))
      traceCommit(c, kind, Seq(rank, edges), rankState) {
        c.attempt(kind) {
          val a = tr.span("StreamMaintain.pageRankBatch", "streaming")(
            StreamMaintain.pageRankBatch(spark, rank, edges, df, b.id,
              Damping, Iterations, Cores))
          advice(c, kind, a)
        }
      }
      if (kind == "refresh") c.deltaRows += b.rows.size
      last = b
      df.unpersist(blocking = false)
    }
    c.closedLoop(Seq(rank, edges)) { (id, kind) =>
      if (kind == "refresh") {
        rmrf(twin)
        copyTree(new java.io.File(rank), twin)
      }
      refresh(kind, nextBatch(c.seed, id, g))
      c.reads(kind)(tr.span("SegmentedStateStore.read topK", "store")(
        topK(spark, rank, TopK)))
    }
    val eFinal = edgesDf(spark, g)
    c.attempt("recompute") {
      val res = tr.span("PageRank.run", "iterative")(
        PageRank.run(eFinal, Damping, RecomputeIterations,
          numPartitions = Cores))
      res.dynamic.count()
      tr.add("recompute", "iter.iterations", res.iterations)
      res.release()
    }
    for (o <- tr.ops if o.kind == "recompute")
      tr.add("recompute", "iter.wall_s", o.ns / 1e9)

    // ---- output checks (outside the measured window) ----
    c.check("edge store equals the generated graph") {
      val got = tr.span("KeyedUpsertStore.rows", "store")(
        KeyedUpsertStore.rows(spark, edges).select("src", "dst", "deg")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
      val want = g.iterator.flatMap { case (s, ds) =>
        ds.iterator.map(d => (s, d, ds.size.toLong)) }.toSet
      Checks.sameSet("edge store", got, want)
    }
    c.check("rank store equals a frame-fed replay of the last batch") {
      val eb = edgesDf(spark, last.graphAfter)
      tr.span("IncrementalPageRank.incrementalSeg", "incremental")(
        IncrementalPageRank.incrementalSeg(spark, twin.getPath, eb,
          spark.createDataFrame(last.changed.toSeq.map(Tuple1(_)))
            .toDF("src"), Damping, Iterations, numPartitions = Cores,
          batchId = Some(last.id))).unpersist(blocking = false)
      val want = ranksOf(SegmentedStateStore.openForRead(spark, twin.getPath)
        .preserved.out).map { case (k, v) => k.toString -> v }
      Checks.sameValues("ranks vs replay", rankState(), want, 1e-9)
    }
    c.check("re-delivering the last batch changes nothing") {
      val before = rankState()
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        last.rows.map(r => Row(r._1, r._2, r._3)), 1), BatchSchema)
      tr.span("StreamMaintain.pageRankBatch", "streaming")(
        StreamMaintain.pageRankBatch(spark, rank, edges, df, last.id,
          Damping, Iterations, Cores))
      val fence = KeyedUpsertStore.lastBatch(spark, edges)
      if (fence != last.id) Some(s"edge fence $fence, want ${last.id}")
      else Checks.sameValues("ranks after re-delivery", rankState(),
        before, 0.0)
    }
  }
}

/** corpus_stream: the text-delta store family. Four stores (tfidf,
  * lmcounts, dupspans, dedupclusters) are inited in set-up; then
  * micro-batches of fresh documents plus a few deletions go through
  * `StreamMaintain.corpusBatch`, each followed by a cluster and
  * dup-score read of the batch's documents. */
object CorpusStream {
  val Docs = 1000
  val BatchDocs = 20
  val BatchDeletes = 3
  val Buckets = 2
  val Kinds = Seq("tfidf", "lmcounts", "dupspans", "dedupclusters")

  private val BatchSchema = StructType(Seq(
    StructField("doc_id", LongType, false),
    StructField("text", StringType, true),
    StructField("op", StringType, false)))

  def docsDf(c: Ctx, ids: Seq[Long]): DataFrame =
    pin(c.spark.createDataFrame(c.spark.sparkContext.parallelize(
      ids.map(i => Row(i, Gen.doc(c.seed, i))), Cores),
      StructType(BatchSchema.fields.take(2))))

  def initAll(c: Ctx, dir: String, docs: DataFrame): Unit = {
    val s = c.spark
    def p(k: String) = s"$dir/$k"
    c.tr.span("TfidfStore.init", "text")(
      TfidfStore.init(s, p("tfidf"), docs, "doc_id", "text",
        nBuckets = Buckets))
    c.tr.span("LmCountsStore.init", "text")(
      LmCountsStore.init(s, p("lmcounts"), docs, "doc_id", "text",
        nBuckets = Buckets))
    c.tr.span("DupSpansStore.init", "text")(
      DupSpansStore.init(s, p("dupspans"), docs, "doc_id", "text",
        nBuckets = Buckets))
    c.tr.span("DedupClusterStore.init", "text")(
      DedupClusterStore.init(s, p("dedupclusters"), docs, "doc_id", "text",
        nBuckets = Buckets))
  }

  /** Every store's full read, keyed for comparison. */
  def reads(c: Ctx, dir: String, corpus: DataFrame)
      : Seq[(String, Map[String, Double])] = {
    val s = c.spark
    def p(k: String) = s"$dir/$k"
    c.tr.span("text store reads", "text")(Seq(
      "tfidf" -> Checks.collect(TfidfStore.tfidf(s, p("tfidf"))),
      "lmcounts" -> Checks.collect(LmCountsStore.scoreAgainst(s,
        p("lmcounts"), corpus, "doc_id", "text")),
      "dupspans" -> Checks.collect(DupSpansStore.scores(s, p("dupspans"))),
      "dedupclusters" -> Checks.collect(
        DedupClusterStore.clusters(s, p("dedupclusters")))))
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark; val tr = c.tr
    val dir = s"${c.work}/stores"
    val stores = Kinds.map(k => k -> s"$dir/$k")
    val live = mutable.ArrayBuffer.from(0L until Docs)
    var nextId = Docs.toLong
    val d0 = docsDf(c, live.toSeq)
    c.attempt("preserve")(initAll(c, dir, d0))
    d0.unpersist(blocking = false)
    def clusterState(): Map[String, Double] =
      DedupClusterStore.clusters(spark, s"$dir/dedupclusters").collect()
        .map(r => r.get(0).toString -> r.getAs[Number](1).doubleValue).toMap
    def batch(b: Long, kind: String): Unit = {
      val fresh = (0 until BatchDocs).map(i => nextId + i)
      nextId += BatchDocs
      val gone = (0 until BatchDeletes).map { i =>
        val j = Gen.below(live.size, c.seed, b, i, 41).toInt
        val id = live(j); live(j) = live.last; live.remove(live.size - 1); id
      }
      live ++= fresh
      val rows = fresh.map(i => Row(i, Gen.doc(c.seed, i), "U")) ++
        gone.map(i => Row(i, null, "D"))
      val df = pin(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), BatchSchema))
      traceCommit(c, kind, stores.map(_._2), clusterState) {
        c.attempt(kind) {
          val a = tr.span("StreamMaintain.corpusBatch", "streaming")(
            StreamMaintain.corpusBatch(spark, stores, df, b))
          advice(c, kind, a.values)
        }
      }
      if (kind == "refresh") c.deltaRows += rows.size
      df.unpersist(blocking = false)
      val ids = spark.createDataFrame(fresh.map(Tuple1(_))).toDF("doc_id")
      c.reads(kind)(tr.span("cluster and score read", "text") {
        DedupClusterStore.clustersFor(spark, s"$dir/dedupclusters", ids)
          .collect()
        DupSpansStore.scoresFor(spark, s"$dir/dupspans", ids).collect()
      })
    }
    c.closedLoop(stores.map(_._2))(batch)

    val ref = s"${c.work}/check/ref"
    val corpus = docsDf(c, live.toSeq.sorted)
    c.attempt("recompute")(initAll(c, ref, corpus))
    c.check("every store equals the same store inited on the final corpus") {
      val got = reads(c, dir, corpus); val want = reads(c, ref, corpus)
      got.zip(want).flatMap { case ((k, gv), (_, wv)) =>
        Checks.sameValues(k, gv, wv, 1e-9) }.headOption
    }
  }
}
