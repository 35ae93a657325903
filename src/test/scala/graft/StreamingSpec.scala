package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("restart-safe stream maintenance: checkpoint restart and duplicate delivery are exactly-once") {
    restartSafePageRank()
  }

  test("restart-safe stream maintenance: checkpoint restart and duplicate delivery are exactly-once (distributed loop)") {
    withSqlConf(distributedLoop)(restartSafePageRank())
  }

  private def restartSafePageRank(): Unit = {
    import graft.algorithms.IncrementalPageRank
    import graft.core.SegmentedStateStore
    import graft.operators.KeyedUpsertStore
    import graft.streaming.StreamMaintain
    val edges1 = ((0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 40), (i, (i * 3 + 2) % 40)))
      .filter { case (a, b) => a != b }).distinct.toDF("src", "dst")
    val rankStore = java.nio.file.Files
      .createTempDirectory("graft_restart_rank").toString
    val edgeStore = java.nio.file.Files
      .createTempDirectory("graft_restart_edges").toString
    IncrementalPageRank.preserveTo(spark, rankStore, edges1, 0.8,
      iterations = 4, nBuckets = 16)
    IncrementalPageRank.initEdgeStore(spark, edgeStore, edges1, nBuckets = 8)

    val delta1 = Seq((3L, 11L), (3L, 17L), (8L, 21L)).toDF("src", "dst")
    val delta2 = Seq((14L, 5L), (3L, 29L)).toDF("src", "dst")
    val dir = graft.streaming.DeltaFiles.stage(Seq(delta1, delta2))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString

    // NO driver-side graph variable anywhere: the evolving relation
    // lives in the edge store, the ranks in the rank store, and each
    // batch applies through the fixed-order fenced StreamMaintain body
    var delivered = 0
    def run(poisonSecond: Boolean) = spark.readStream.schema(delta1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            bid: Long) =>
          delivered += 1
          if (poisonSecond && delivered >= 2)
            sys.error("simulated crash at batch 2")
          StreamMaintain.pageRankBatch(spark, rankStore, edgeStore,
            batch, bid, 0.8, iterations = 3)
          ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

    // RUN 1 dies at batch 2, AFTER batch 1 committed to the checkpoint
    val q1 = run(poisonSecond = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(SegmentedStateStore.openForRead(spark, rankStore)
      .appliedBatch == 0L)
    assert(KeyedUpsertStore.lastBatch(spark, edgeStore) == 0L)

    // RUN 2 — the RESTART from the same checkpoint: batch 1 is not
    // redelivered; batch 2 applies once
    delivered = 0
    val q2 = run(poisonSecond = false)
    assert(q2.awaitTermination(120000), "restart run did not finish")
    assert(delivered == 1, s"restart must deliver only batch 2, saw $delivered")
    assert(SegmentedStateStore.openForRead(spark, rankStore)
      .appliedBatch == 1L)
    assert(KeyedUpsertStore.lastBatch(spark, edgeStore) == 1L)

    def ranks() = SegmentedStateStore.openForRead(spark, rankStore)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = ranks()

    // DUPLICATE DELIVERY (a replayed foreachBatch): both fences skip,
    // nothing changes — a re-run continuation would NOT be idempotent,
    // so this is the assertion that makes the pipeline exactly-once
    StreamMaintain.pageRankBatch(spark, rankStore, edgeStore,
      delta2, 1L, 0.8, iterations = 3)
    assert(ranks() == got, "replayed batch mutated the rank store")
    assert(KeyedUpsertStore.lastBatch(spark, edgeStore) == 1L)

    // exactness: equals the batch-driven chain on a second store with
    // a DIFFERENT bucket count (layout- and driver-independent)
    val e2 = edges1.join(delta1.select("src").distinct(), Seq("src"),
      "left_anti").unionByName(delta1).localCheckpoint(true)
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_restart_rank2").toString
    IncrementalPageRank.preserveTo(spark, store2, edges1, 0.8,
      iterations = 4, nBuckets = 8)
    IncrementalPageRank.incrementalSeg(spark, store2, e2,
      delta1.select("src").distinct(), 0.8, iterations = 3)
      .unpersist(blocking = false)
    val e3 = e2.join(delta2.select("src").distinct(), Seq("src"),
      "left_anti").unionByName(delta2).localCheckpoint(true)
    IncrementalPageRank.incrementalSeg(spark, store2, e3,
      delta2.select("src").distinct(), 0.8, iterations = 3)
      .unpersist(blocking = false)
    val want = SegmentedStateStore.openForRead(spark, store2)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"node $k stream=${got(k)} batch=${want(k)}")
    // and the durable edge table holds exactly the final graph, with
    // its incrementally-maintained degrees matching a full re-prepare
    val gotEdges = KeyedUpsertStore.rows(spark, edgeStore)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(gotEdges == e3.as[(Long, Long)].collect().toSet)
    val gotPrepared = KeyedUpsertStore.rows(spark, edgeStore)
      .select("src", "dst", "deg").as[(Long, Long, Long)].collect().toSet
    val wantPrepared = graft.algorithms.PageRank.prepare(e3)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotPrepared == wantPrepared,
      "incrementally-maintained degrees diverged from a full prepare")
    e2.unpersist(blocking = false); e3.unpersist(blocking = false)
  }

  test("streamed deletions: a 'D' batch removes a source end to end, exactly-once") {
    streamedDeletions()
  }

  test("streamed deletions: a 'D' batch removes a source end to end, exactly-once (distributed loop)") {
    withSqlConf(distributedLoop)(streamedDeletions())
  }

  private def streamedDeletions(): Unit = {
    import graft.algorithms.IncrementalPageRank
    import graft.core.SegmentedStateStore
    import graft.operators.KeyedUpsertStore
    import graft.streaming.StreamMaintain
    val edges1 = ((0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 40), (i, (i * 3 + 2) % 40)))
      .filter { case (a, b) => a != b }).distinct.toDF("src", "dst")
    val rankStore = java.nio.file.Files
      .createTempDirectory("graft_sdel_rank").toString
    val edgeStore = java.nio.file.Files
      .createTempDirectory("graft_sdel_edges").toString
    IncrementalPageRank.preserveTo(spark, rankStore, edges1, 0.8,
      iterations = 4, nBuckets = 16)
    IncrementalPageRank.initEdgeStore(spark, edgeStore, edges1, nBuckets = 8)

    // batch 0: plain upserts (3 -> {11, 17}, 8 -> {21})
    val delta1 = Seq((3L, 11L, "U"), (3L, 17L, "U"), (8L, 21L, "U"))
      .toDF("src", "dst", "op")
    StreamMaintain.pageRankBatch(spark, rankStore, edgeStore, delta1, 0L,
      0.8, iterations = 3)
    // batch 1: MIXED ops — srcs 3 and 5 fully REMOVED; src 8 carries
    // both a D marker and an upsert row, which must resolve to the
    // upsert rows (replace-with-something dominates replace-with-
    // nothing — the documented within-batch algebra)
    val delta2 = Seq((8L, 25L, "U"), (8L, 0L, "D"), (5L, 0L, "D"),
      (3L, 0L, "D")).toDF("src", "dst", "op")
    StreamMaintain.pageRankBatch(spark, rankStore, edgeStore, delta2, 1L,
      0.8, iterations = 3)

    def ranks() = SegmentedStateStore.openForRead(spark, rankStore)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = ranks()
    // REPLAY of the deletion batch: both fences skip, nothing changes —
    // a re-applied removal would otherwise re-propagate the retraction
    StreamMaintain.pageRankBatch(spark, rankStore, edgeStore, delta2, 1L,
      0.8, iterations = 3)
    assert(ranks() == got, "replayed deletion batch mutated the rank store")
    assert(KeyedUpsertStore.lastBatch(spark, edgeStore) == 1L)

    // the durable edge table: removed srcs GONE, src 8 holds exactly
    // its upsert row, and the incrementally-maintained degrees match a
    // full re-prepare of the reference graph
    val e2 = edges1.filter(!col("src").isin(3L, 8L))
      .unionByName(delta1.drop("op"))
    val e3 = e2.filter(!col("src").isin(3L, 5L, 8L))
      .unionByName(Seq((8L, 25L)).toDF("src", "dst"))
      .localCheckpoint(true)
    val gotRows = KeyedUpsertStore.rows(spark, edgeStore)
    assert(gotRows.filter(col("src").isin(3L, 5L)).count() == 0,
      "removed srcs still present in the edge store")
    assert(gotRows.select("src", "dst", "deg")
      .as[(Long, Long, Long)].collect().toSet ==
      graft.algorithms.PageRank.prepare(e3)
        .as[(Long, Long, Long)].collect().toSet,
      "edge store after deletion diverged from a full prepare")

    // exactness: equals the frame-fed batch chain on a second store
    // with a different bucket count
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_sdel_rank2").toString
    IncrementalPageRank.preserveTo(spark, store2, edges1, 0.8,
      iterations = 4, nBuckets = 8)
    IncrementalPageRank.incrementalSeg(spark, store2, e2,
      Seq(3L, 8L).toDF("src"), 0.8, iterations = 3)
      .unpersist(blocking = false)
    IncrementalPageRank.incrementalSeg(spark, store2, e3,
      Seq(3L, 5L, 8L).toDF("src"), 0.8, iterations = 3)
      .unpersist(blocking = false)
    val want = SegmentedStateStore.openForRead(spark, store2)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"node $k stream=${got(k)} batch=${want(k)}")
  }

  test("streamed deletions, matvec twin: a 'D' batch removes a column exactly-once") {
    import graft.algorithms.IncrementalMatVec
    import graft.core.SegmentedStateStore
    import graft.operators.KeyedUpsertStore
    import graft.streaming.StreamMaintain
    val cells = (for (i <- 0L until 30L;
        j <- Seq((i * 7 + 1) % 30, (i * 3 + 2) % 30) if i != j)
      yield (i, j, 1.0 + (i * 13 + j * 7) % 5)).distinct.toDF("i", "j", "w")
    val rs = cells.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = cells.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .localCheckpoint(true)
    val b = IncrementalMatVec.universe(m1, 0.2).localCheckpoint(true)
    val sp = java.nio.file.Files
      .createTempDirectory("graft_mvdel_state").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_mvdel_cells").toString
    IncrementalMatVec.preserveTo(spark, sp, m1, b, iterations = 3,
      nBuckets = 8)
    IncrementalMatVec.initCellStore(spark, cp, m1, nBuckets = 8)
    // batch 0 halves column 3's cells; batch 1 DELETES columns 3 and 7
    val d1 = m1.filter(col("j") === 3)
      .select(col("i"), col("j"), (col("v") * 0.5).as("v"))
      .withColumn("op", lit("U")).localCheckpoint(true)
    StreamMaintain.matvecBatch(spark, sp, cp, d1, 0L, b, iterations = 2)
    val d2 = Seq((0L, 3L, 0.0, "D"), (0L, 7L, 0.0, "D"))
      .toDF("i", "j", "v", "op")
    StreamMaintain.matvecBatch(spark, sp, cp, d2, 1L, b, iterations = 2)
    def xs() = SegmentedStateStore.openForRead(spark, sp)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = xs()
    StreamMaintain.matvecBatch(spark, sp, cp, d2, 1L, b, iterations = 2)
    assert(xs() == got, "replayed deletion batch mutated the state store")
    val m2 = m1.withColumn("v",
      when(col("j") === 3, col("v") * 0.5).otherwise(col("v")))
      .localCheckpoint(true)
    val m3 = m2.filter(!col("j").isin(3L, 7L)).localCheckpoint(true)
    assert(KeyedUpsertStore.rows(spark, cp)
      .as[(Long, Long, Double)].collect().toSet ==
      m3.as[(Long, Long, Double)].collect().toSet,
      "cell store after column deletion diverged")
    // batch-chain equality
    val sp2 = java.nio.file.Files
      .createTempDirectory("graft_mvdel_state2").toString
    IncrementalMatVec.preserveTo(spark, sp2, m1, b, iterations = 3,
      nBuckets = 4)
    IncrementalMatVec.incrementalSeg(spark, sp2, m2, b,
      Seq(3L).toDF("j"), iterations = 2, filterThreshold = 0.0)
    IncrementalMatVec.incrementalSeg(spark, sp2, m3, b,
      Seq(3L, 7L).toDF("j"), iterations = 2, filterThreshold = 0.0)
    val want = SegmentedStateStore.openForRead(spark, sp2)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"idx $k stream=${got(k)} batch=${want(k)}")
  }

  test("matvec stream maintenance: chained batches, duplicate delivery, batch-chain equality") {
    import graft.algorithms.IncrementalMatVec
    import graft.core.SegmentedStateStore
    import graft.operators.KeyedUpsertStore
    import graft.streaming.StreamMaintain
    // deterministic sparse matrix, damped row-normalized
    val cells = (for (i <- 0L until 30L;
        j <- Seq((i * 7 + 1) % 30, (i * 3 + 2) % 30) if i != j)
      yield (i, j, 1.0 + (i * 13 + j * 7) % 5)).distinct.toDF("i", "j", "w")
    val rs = cells.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = cells.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .localCheckpoint(true)
    val b = IncrementalMatVec.universe(m1, 0.2).localCheckpoint(true)
    val sp = java.nio.file.Files
      .createTempDirectory("graft_mvs_state").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_mvs_cells").toString
    IncrementalMatVec.preserveTo(spark, sp, m1, b, iterations = 3,
      nBuckets = 8)
    IncrementalMatVec.initCellStore(spark, cp, m1, nBuckets = 8)
    // two COLUMN-replacement deltas; both touch column 3, so order is
    // semantic (exactly the pageRankBatch chain shape)
    def delta(of: org.apache.spark.sql.DataFrame, mod: Long, f: Double) =
      of.filter(col("j") % 10 === mod)
        .select(col("i"), col("j"), (col("v") * f).as("v"))
        .localCheckpoint(true)
    val d1 = delta(m1, 3L, 0.5)
    StreamMaintain.matvecBatch(spark, sp, cp, d1, 0L, b, iterations = 2)
    val m2 = m1.withColumn("v",
      when(col("j") % 10 === 3, col("v") * 0.5).otherwise(col("v")))
      .localCheckpoint(true)
    val d2 = delta(m2, 3L, 0.5) // halve the same columns again
    StreamMaintain.matvecBatch(spark, sp, cp, d2, 1L, b, iterations = 2)
    def xs() = SegmentedStateStore.openForRead(spark, sp)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = xs()
    // duplicate delivery: both fences skip, nothing changes
    StreamMaintain.matvecBatch(spark, sp, cp, d2, 1L, b, iterations = 2)
    assert(xs() == got, "replayed matvec batch mutated the state store")
    assert(KeyedUpsertStore.lastBatch(spark, cp) == 1L)
    // equality with the frame-fed batch chain on a second store with a
    // DIFFERENT bucket count
    val sp2 = java.nio.file.Files
      .createTempDirectory("graft_mvs_state2").toString
    IncrementalMatVec.preserveTo(spark, sp2, m1, b, iterations = 3,
      nBuckets = 4)
    val chg = d1.select("j").distinct()
    IncrementalMatVec.incrementalSeg(spark, sp2, m2, b, chg,
      iterations = 2, filterThreshold = 0.0)
    val m3 = m2.withColumn("v",
      when(col("j") % 10 === 3, col("v") * 0.5).otherwise(col("v")))
    IncrementalMatVec.incrementalSeg(spark, sp2, m3, b, chg,
      iterations = 2, filterThreshold = 0.0)
    val want = SegmentedStateStore.openForRead(spark, sp2)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"idx $k stream=${got(k)} batch=${want(k)}")
    // and the cell store holds exactly the final matrix
    assert(KeyedUpsertStore.rows(spark, cp)
      .as[(Long, Long, Double)].collect().toSet ==
      m3.as[(Long, Long, Double)].collect().toSet)
  }

  test("kmeans stream maintenance (One2All): restart, duplicate, deletion, Lloyd-chain equality") {
    import graft.algorithms.IncrementalKMeans
    import graft.core.SegmentedStateStore
    import graft.operators.KeyedUpsertStore
    import graft.streaming.StreamMaintain
    import org.apache.spark.sql.streaming.Trigger
    // three well-separated planar clusters, 8 points each — separation
    // keeps every cluster non-empty through the chain, so the
    // empty-cluster rule never has to tie-break the reference
    def vecOf(i: Long): Seq[Double] = {
      val (bx, by) = (i % 3) match {
        case 0 => (0.0, 0.0); case 1 => (10.0, 0.0); case _ => (0.0, 10.0)
      }
      Seq(bx + (i % 8) * 0.1, by + ((i * 7) % 5) * 0.1)
    }
    val pts1 = (0L until 24L).map(i => (i, vecOf(i))).toDF("id", "vec")
    val centerStore = java.nio.file.Files
      .createTempDirectory("graft_kms_centers").toString
    val pointStore = java.nio.file.Files
      .createTempDirectory("graft_kms_points").toString
    IncrementalKMeans.preserveToSeg(spark, centerStore, pts1, k = 3,
      iterations = 4, nBuckets = 8)
    IncrementalKMeans.initPointStore(spark, pointStore, pts1, nBuckets = 8)
    def centers(): Map[Int, (Seq[Double], Long)] =
      SegmentedStateStore.openForRead(spark, centerStore).preserved.out
        .as[(Int, Seq[Double], Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val c0 = centers() // base centers BEFORE any batch — the chain seed

    // batch 0 moves two points across clusters; batch 1 DELETES point 5
    // and moves point 3 again (mixed-op deletion on the One2All member)
    val delta1 = Seq((3L, Seq(9.5, 0.5), "U"), (8L, Seq(0.4, 9.6), "U"))
      .toDF("id", "vec", "op")
    val delta2 = Seq((5L, Seq(0.0, 0.0), "D"), (3L, Seq(0.2, 9.9), "U"))
      .toDF("id", "vec", "op")
    val dir = graft.streaming.DeltaFiles.stage(Seq(delta1, delta2))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_kms_ckpt").toString
    var delivered = 0
    def run(poisonSecond: Boolean) = spark.readStream.schema(delta1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            bid: Long) =>
          delivered += 1
          if (poisonSecond && delivered >= 2)
            sys.error("simulated crash at batch 2")
          StreamMaintain.kmeansBatch(spark, centerStore, pointStore,
            batch, bid, iterations = 2)
          ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    // RUN 1 dies at batch 2 after batch 1 committed to the checkpoint
    val q1 = run(poisonSecond = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(SegmentedStateStore.openForRead(spark, centerStore)
      .appliedBatch == 0L)
    assert(KeyedUpsertStore.lastBatch(spark, pointStore) == 0L)
    // RUN 2 — restart from the checkpoint: only batch 2 delivers
    delivered = 0
    val q2 = run(poisonSecond = false)
    assert(q2.awaitTermination(120000), "kmeans restart run did not finish")
    assert(delivered == 1, s"restart must deliver only batch 2, saw $delivered")
    val got = centers()
    // DUPLICATE delivery: both fences skip
    StreamMaintain.kmeansBatch(spark, centerStore, pointStore, delta2, 1L,
      iterations = 2)
    assert(centers() == got, "replayed kmeans batch mutated the center store")
    assert(KeyedUpsertStore.lastBatch(spark, pointStore) == 1L)

    // reference: the θ=0 contract says each incremental iteration IS a
    // Lloyd step over the updated points from the current centers —
    // chain 2 steps per batch, driver-side, from the store's own seed
    def lloyd(points: Seq[(Long, Seq[Double])],
        cs0: Map[Int, (Seq[Double], Long)],
        steps: Int): Map[Int, (Seq[Double], Long)] = {
      var cs = cs0
      for (_ <- 1 to steps) {
        val byC = points.groupBy { case (_, v) =>
          cs.toSeq.map { case (cid, (cv, _)) =>
            (v.zip(cv).map(t => (t._1 - t._2) * (t._1 - t._2)).sum, cid)
          }.min._2 // min by (dist, cid): ties to the lowest center id
        }
        cs = cs.map { case (cid, (cv, n)) =>
          byC.get(cid) match {
            case Some(ps) =>
              val mean = cv.indices.map(d => ps.map(_._2(d)).sum / ps.size)
              cid -> ((mean, ps.size.toLong))
            case None => cid -> ((cv, n))
          }
        }
      }
      cs
    }
    val pts2 = (0L until 24L).map(i => i -> (i match {
      case 3L => Seq(9.5, 0.5); case 8L => Seq(0.4, 9.6); case _ => vecOf(i)
    }))
    val pts3 = pts2.filterNot(_._1 == 5L).map {
      case (3L, _) => 3L -> Seq(0.2, 9.9); case p => p
    }
    val want = lloyd(pts3, lloyd(pts2, c0, 2), 2)
    assert(got.keySet == want.keySet)
    for (cid <- got.keySet) {
      val (gv, gn) = got(cid); val (wv, wn) = want(cid)
      assert(gn == wn, s"center $cid count stream=$gn lloyd=$wn")
      gv.zip(wv).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9,
          s"center $cid stream=$gv lloyd=$wv")
      }
    }
    // the durable point table holds exactly the post-deletion point set
    assert(KeyedUpsertStore.rows(spark, pointStore)
      .as[(Long, Seq[Double])].collect().toMap == pts3.toMap,
      "point store diverged from the post-deletion point set")
  }

  test("ivf stream maintenance: restart, duplicate, deletion, frozen-quantizer equality") {
    import graft.operators.Similarity
    import graft.streaming.StreamMaintain
    // deterministic vectors, none zero-norm
    def v(i: Long) = Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toDouble)
    val all = (0L until 40L).map(i => (i, v(i))).toDF("id", "vec")
    val base = all.filter($"id" % 10 =!= 3)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream_idx").toString
    Similarity.buildIvfIndex(base, idx, nlist = 4)
    assert(Similarity.ivfLastBatch(spark, idx) == -1L)

    // batch 1 adds the ≡3 ids; batch 2 REMOVES the ≡7 ids via op="D"
    val delta1 = all.filter($"id" % 10 === 3)
      .select($"id", $"vec", lit("U").as("op"))
    val delta2 = base.filter($"id" % 10 === 7)
      .select($"id", lit(null).cast("array<double>").as("vec"),
        lit("D").as("op"))
    val dir = graft.streaming.DeltaFiles.stage(Seq(delta1, delta2))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream_ck").toString

    var delivered = 0
    def run(poisonSecond: Boolean) = spark.readStream.schema(delta1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            bid: Long) =>
          delivered += 1
          if (poisonSecond && delivered >= 2)
            sys.error("simulated crash at batch 2")
          StreamMaintain.ivfBatch(spark, idx, batch, bid)
          ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

    // run 1 dies at batch 2, after batch 1 committed to the checkpoint
    val q1 = run(poisonSecond = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(Similarity.ivfLastBatch(spark, idx) == 0L)

    // restart: batch 1 not redelivered, batch 2 (the deletion) applies
    delivered = 0
    val q2 = run(poisonSecond = false)
    assert(q2.awaitTermination(120000), "restart run did not finish")
    assert(delivered == 1, s"restart must deliver only batch 2, saw $delivered")
    assert(Similarity.ivfLastBatch(spark, idx) == 1L)

    val queries = all.filter($"id" < 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"nid", round($"cosine", 9).as("c"), $"rk")
        .as[(Long, Long, Double, Int)].collect().toSet
    val got = key(Similarity.probeIvfIndex(spark, idx, queries,
      k = 3, nprobe = 2))

    // duplicate delivery: the fence skips without touching a list
    assert(StreamMaintain.ivfBatch(spark, idx, delta2, 1L).isEmpty)
    assert(Similarity.ivfLastBatch(spark, idx) == 1L)
    assert(key(Similarity.probeIvfIndex(spark, idx, queries,
      k = 3, nprobe = 2)) == got, "replayed batch mutated the index")
    // locator rebucket between batches: fence and results survive
    Similarity.ivfRebucketLoc(spark, idx, newLocB = 8)
    assert(Similarity.ivfLastBatch(spark, idx) == 1L,
      "fence lost across the locator rebucket")
    assert(StreamMaintain.ivfBatch(spark, idx, delta2, 1L).isEmpty)
    assert(key(Similarity.probeIvfIndex(spark, idx, queries,
      k = 3, nprobe = 2)) == got)

    // frozen-quantizer equality: equals a from-scratch build over the
    // post-delta corpus under the BASE centroids
    val cents = spark.read.parquet(s"$idx/centroids")
      .select($"cid".as("id"), $"cvec".as("vec"))
    val corpus2 = all.filter($"id" % 10 =!= 7)
    val ref = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream_ref").toString
    Similarity.buildIvfIndex(corpus2, ref, nlist = 4,
      centroids = Some(cents))
    val want = key(Similarity.probeIvfIndex(spark, ref, queries,
      k = 3, nprobe = 2))
    assert(got == want,
      s"stream-maintained != rebuilt;\nonly-got=${got -- want}\nonly-want=${want -- got}")
    // the removed ids are really gone from the lists
    val live = graft.operators.SegSwap.resolvedTable(spark, idx, "lists",
      org.apache.spark.sql.types.StructType.fromDDL(
        "nid BIGINT, nvec ARRAY<DOUBLE>, cid BIGINT, _b INT"))
      .select("nid").as[Long].collect().toSet
    assert(live == corpus2.select("id").as[Long].collect().toSet)
  }

  test("dedup stream maintenance: restart, duplicate, deletion + replace, full-recompute equality") {
    import graft.operators.{Dedup, DedupClusterStore}
    import graft.streaming.StreamMaintain
    // near-dup groups of 3 over disjoint token sets (the segmented-store
    // spec's corpus shape)
    def doc(i: Long) = {
      val g = i / 3; val v = i % 3
      (i, (0 until 8).map(k => s"tok${g}x$k").mkString(" ") + s" v$v$g")
    }
    val base = (0L until 60L).map(doc).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_dedup_stream").toString
    DedupClusterStore.init(spark, store, base, "doc_id", "text",
      maxHamming = 3, nBuckets = 16)
    assert(DedupClusterStore.lastBatch(spark, store) == -1L)

    // batch 1: +100 joins group 2's cluster AND doc 10 is REPLACED with
    // group 4's exact text (an upsert that moves a doc across clusters);
    // batch 2: docs 7 and 8 are REMOVED via op="D"
    val g2text = (0 until 8).map(k => s"tok2x$k").mkString(" ") + " v02"
    val g4text = (0 until 8).map(k => s"tok4x$k").mkString(" ") + " v04"
    val delta1 = Seq((100L, g2text, "U"), (10L, g4text, "U"))
      .toDF("doc_id", "text", "op")
    val delta2 = Seq((7L, null: String, "D"), (8L, null: String, "D"))
      .toDF("doc_id", "text", "op")
    val dir = graft.streaming.DeltaFiles.stage(Seq(delta1, delta2))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dedup_stream_ck").toString

    var delivered = 0
    def run(poisonSecond: Boolean) = spark.readStream.schema(delta1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            bid: Long) =>
          delivered += 1
          if (poisonSecond && delivered >= 2)
            sys.error("simulated crash at batch 2")
          StreamMaintain.dedupBatch(spark, store, batch, bid)
          ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

    val q1 = run(poisonSecond = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(DedupClusterStore.lastBatch(spark, store) == 0L)
    delivered = 0
    val q2 = run(poisonSecond = false)
    assert(q2.awaitTermination(120000), "restart run did not finish")
    assert(delivered == 1, s"restart must deliver only batch 2, saw $delivered")
    assert(DedupClusterStore.lastBatch(spark, store) == 1L)

    def labels() = DedupClusterStore.clusters(spark, store)
      .as[(Long, Long)].collect().toMap
    val got = labels()
    // duplicate delivery: the fence skips, nothing moves
    assert(StreamMaintain.dedupBatch(spark, store, delta2, 1L).isEmpty)
    assert(labels() == got, "replayed batch mutated the cluster store")

    // exactness: equals a full recompute over the post-delta corpus
    val corpus2 = base.filter(!$"doc_id".isin(7L, 8L, 10L))
      .unionByName(Seq((100L, g2text), (10L, g4text)).toDF("doc_id", "text"))
    val full = Dedup.connectedComponents(
      Dedup.simhashNearDups(corpus2, "doc_id", "text", maxHamming = 3))
    val want = full.as[(Long, Long)].collect().toMap
    full.unpersist()
    assert(got == want,
      s"stream-maintained != full recompute; got=${got.size} want=${want.size} " +
        s"diff=${(got.toSet -- want.toSet).take(5)} / ${(want.toSet -- got.toSet).take(5)}")
    // the replaced doc 10 now clusters with doc 12 (whose exact text
    // it took); its old group-3 mates no longer claim it
    assert(got(10L) == got(12L))
  }

  test("corpusBatch: one document stream maintains tfidf + lm + dupspans + clusters, " +
      "mid-family crash heals on replay") {
    import graft.operators.{DedupClusterStore, DupSpansStore,
      LmCountsStore, TfidfStore}
    import graft.streaming.StreamMaintain
    def doc(i: Long) = {
      val g = i / 3; val v = i % 3
      (i, (0 until 8).map(k => s"tok${g}x$k").mkString(" ") + s" v$v$g")
    }
    val base = (0L until 45L).map(doc).toDF("doc_id", "text")
    def mkStores(tag: String, corpus: org.apache.spark.sql.DataFrame) = {
      def dir(n: String) = java.nio.file.Files
        .createTempDirectory(s"graft_corpus_${tag}_$n").toString
      val (tp, lp, sp, cp) = (dir("tf"), dir("lm"), dir("sp"), dir("cl"))
      TfidfStore.init(spark, tp, corpus, "doc_id", "text", nBuckets = 8)
      LmCountsStore.init(spark, lp, corpus, "doc_id", "text", nBuckets = 8)
      DupSpansStore.init(spark, sp, corpus, "doc_id", "text",
        w = 4, nBuckets = 8, withCut = true)
      DedupClusterStore.init(spark, cp, corpus, "doc_id", "text",
        maxHamming = 3, nBuckets = 8)
      Seq("tfidf" -> tp, "lmcounts" -> lp, "dupspans" -> sp,
        "dedupclusters" -> cp)
    }
    val stores = mkStores("live", base)

    val g2text = (0 until 8).map(k => s"tok2x$k").mkString(" ") + " v02"
    val delta1 = Seq((100L, g2text, "U"), (101L, "fresh words here", "U"))
      .toDF("doc_id", "text", "op")
    val delta2 = Seq((7L, null: String, "D"), (100L, null: String, "D"))
      .toDF("doc_id", "text", "op")
    val dropDir = graft.streaming.DeltaFiles.stage(Seq(delta1, delta2))

    // MID-FAMILY CRASH simulation before the stream ever runs: batch 0
    // lands on only the first two stores (the coordinator died between
    // store applies). No rollback needed — each store is just at most
    // one batch behind, not inconsistent.
    StreamMaintain.corpusBatch(spark, stores.take(2),
      delta1, 0L, "doc_id", "text")
    assert(TfidfStore.lastBatch(spark, stores(0)._2) == 0L)
    assert(DupSpansStore.lastBatch(spark, stores(2)._2) == -1L)

    // the real stream now delivers batch 0 to ALL stores: the applied
    // prefix skips on its fence (advice absent), the suffix completes
    var batch0Advice: Set[String] = Set.empty
    graft.streaming.DeltaFiles.runToEnd(spark, delta1.schema, dropDir) {
      (batch, bid) =>
        val a = StreamMaintain.corpusBatch(spark, stores, batch, bid,
          "doc_id", "text")
        if (bid == 0L) batch0Advice = a.keySet
        ()
    }
    assert(batch0Advice == Set("dupspans", "dedupclusters"),
      s"applied prefix must fence out, got $batch0Advice")
    stores.foreach { case (_, p2) =>
      assert(graft.operators.SegSwap.readParamsRow(spark, p2,
        Seq("lastBatch"), "spec").getLong(0) == 1L)
    }

    // full replay of both batches: every store fences, nothing moves
    val pre = readingsOf(stores)
    assert(StreamMaintain.corpusBatch(spark, stores, delta1, 0L).isEmpty)
    assert(StreamMaintain.corpusBatch(spark, stores, delta2, 1L).isEmpty)
    assert(readingsOf(stores) == pre, "replay mutated a store")

    // exactness: every store equals a twin built fresh on the final
    // corpus (base − 7 + 101; 100 was added then removed)
    val finalCorpus = base.filter($"doc_id" =!= 7L)
      .unionByName(Seq((101L, "fresh words here")).toDF("doc_id", "text"))
    val fresh = mkStores("fresh", finalCorpus)
    assert(readingsOf(stores) == readingsOf(fresh),
      "stream-maintained family diverged from built-fresh twins")
  }

  /** Content fingerprint of each store kind (the ForgetSpec pattern). */
  private def readingsOf(stores: Seq[(String, String)]): Map[String, Set[String]] = {
    import graft.operators.{DedupClusterStore, DupSpansStore,
      LmCountsStore, TfidfStore}
    val probe = Seq((900L, "tok2x0 tok2x1 fresh words"))
      .toDF("doc_id", "text")
    stores.map { case (kind, p) =>
      val df = kind match {
        case "tfidf" => TfidfStore.tfidf(spark, p)
          .selectExpr("doc_id", "token", "tf", "df")
        case "lmcounts" => LmCountsStore.scoreAgainst(spark, p, probe,
          "doc_id", "text").selectExpr("doc_id", "nb", "avg_nll", "keep")
        case "dupspans" => DupSpansStore.cuts(spark, p)
          .selectExpr("doc_id", "clean")
        case "dedupclusters" => DedupClusterStore.clusters(spark, p)
          .selectExpr("id", "comp")
      }
      kind -> df.collect().map(_.toString).toSet
    }.toMap
  }

  test("windowed stats over a file stream match the batch computation") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stream = EventStreams.readEventStream(spark, sf)
    val q = EventStreams.windowedStats(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("win_out")
      .agg(sum("cnt").as("n"), round(sum("sum_value"), 4).as("v")).collect()(0)
    val batch = EventStreams.windowedStats(
      spark.read.parquet(s"$sf/events.parquet"))
    // append mode only emits windows whose END is at or below the final
    // watermark (max event time − 30 min lateness).
    val maxTs = EventStreams.withEventTime(spark.read.parquet(s"$sf/events.parquet"))
      .agg(max("event_time")).collect()(0).getTimestamp(0)
    val cutoff = new java.sql.Timestamp(
      maxTs.getTime - 30 * 60 * 1000 - 60 * 60 * 1000)
    val expect = batch.filter(col("window_start") <= cutoff)
      .agg(sum("cnt").as("n"), round(sum("sum_value"), 4).as("v")).collect()(0)
    assert(got.getLong(0) == expect.getLong(0))
    assert(got.getDouble(1) == expect.getDouble(1))
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    // the same documents file arrives twice; maxFilesPerTrigger=1 forces
    // the two arrivals into separate micro-batches, so the dedup state
    // must carry across batches (bounded by the watermark horizon)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = 1700000000L * 1000000000L // fixed epoch-nanos base
    val withTs = docs.withColumn("ts", lit(base) + col("doc_id") * lit(1000000L))
    val dir = java.nio.file.Files.createTempDirectory("stream_dedup").toString
    withTs.coalesce(1).write.mode("append").parquet(dir)
    withTs.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(withTs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = EventStreams.dedupStream(stream, Seq("text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").count() ==
      docs.select("text").distinct().count())
  }

  test("streaming shard ingest maintains the segmented dup-span store") {
    // the production continuous-curation loop: a durable segmented
    // store inited on the base corpus, then crawl shards arriving as
    // files roll it forward one micro-batch at a time via foreachBatch
    // — after the stream drains, the store equals a batch recompute
    // over everything that ever arrived
    import graft.operators.{DupSpansStore, Pipeline}
    def doc(i: Long, text: String) = (i, text)
    val base = ((1L to 28L).map(i => doc(i, s"base b$i c$i d$i e$i")) :+
      doc(29L, "shared passage one two three") :+
      doc(30L, "another original line here")).toDF("doc_id", "text")
    // shard 1 copies base doc 29's text: the UNTOUCHED base doc must
    // flip to duplicated through the stream-driven continuation
    val shard1 = Seq(doc(31L, "shared passage one two three"),
      doc(32L, "fresh crawl alpha beta gamma")).toDF("doc_id", "text")
    val shard2 = Seq(doc(33L, "fresh crawl alpha beta gamma"),
      doc(34L, "late arrival wholly original")).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_store").toString
    DupSpansStore.init(spark, store, base, "doc_id", "text",
      w = 3, maxFrac = 0.5, nBuckets = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_shards").toString
    shard1.coalesce(1).write.mode("append").parquet(dir)
    shard2.coalesce(1).write.mode("append").parquet(dir)
    val noIds = Seq.empty[Long].toDF("doc_id")
    var batches = 0
    val q = spark.readStream.schema(shard1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batches += 1
          DupSpansStore.continueAt(spark, store, batch, noIds,
            "doc_id", "text")
          ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(batches == 2, s"expected 2 micro-batches, got $batches")
    val all = base.unionByName(shard1).unionByName(shard2)
    val want = Pipeline.dupSpanStats(all, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    val got = DupSpansStore.scores(spark, store)
      .as[(Long, Long, Long, Double, Int)].collect().map(t => t._1 -> t).toMap
    assert(got == want)
    assert(got(29L)._4 == 1.0 && got(31L)._4 == 1.0,
      "untouched base doc must flip to duplicated via the stream")
  }

  test("streaming edge deltas maintain the segmented PageRank state") {
    // streaming incremental PageRank: a durable SegmentedStateStore
    // inited on the base graph, then "source rewired" events arriving
    // as files roll the ranks forward one micro-batch at a time via
    // foreachBatch — the generic preserve store fed by a REAL
    // StreamingQuery, exactly the DupSpansStore shard-ingest pattern
    // on the engine's own F27-F31 state
    import graft.algorithms.IncrementalPageRank
    import graft.core.SegmentedStateStore
    val edges1 = ((0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 40), (i, (i * 3 + 2) % 40)))
      .filter { case (a, b) => a != b }).distinct.toDF("src", "dst")
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_pr_store").toString
    IncrementalPageRank.preserveTo(spark, store, edges1, 0.8,
      iterations = 4, nBuckets = 32)

    // two delta batches: each rewires a few sources' out-edges
    val delta1 = Seq((3L, 11L), (3L, 17L), (8L, 21L)).toDF("src", "dst")
    val delta2 = Seq((14L, 5L), (3L, 29L)).toDF("src", "dst")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_pr_deltas").toString
    def parts(): Set[java.nio.file.Path] = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet")).toSet
      finally st.close()
    }
    delta1.coalesce(1).write.mode("append").parquet(dir)
    val first = parts()
    delta2.coalesce(1).write.mode("append").parquet(dir)
    val second = parts() -- first
    // both deltas rewire source 3, so batch ORDER is semantic: pin it
    // explicitly (the file source admits by mtime; same-ms writes
    // would tie-break arbitrarily — the q_sessionize_stream lesson)
    val t0 = System.currentTimeMillis()
    first.foreach(p => java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(t0 - 120000)))
    second.foreach(p => java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(t0)))

    // the graph evolves batch-by-batch: a batch REPLACES its sources'
    // out-edge sets (the q_incr_pagerank delta shape)
    var cur = edges1.localCheckpoint(true)
    var batches = 0
    val q = spark.readStream.schema(delta1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batches += 1
          val chg = batch.select("src").distinct().localCheckpoint(true)
          val next = cur.join(chg, Seq("src"), "left_anti")
            .unionByName(batch.select("src", "dst"))
            .localCheckpoint(true)
          IncrementalPageRank.incrementalSeg(spark, store, next, chg,
            0.8, iterations = 3, filterThreshold = 0.0).count()
          cur = next
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(batches == 2, s"expected 2 micro-batches, got $batches")

    // exactness: the stream-maintained store equals the same two
    // chained continuations applied BATCH-side to a second store with
    // a DIFFERENT bucket count (layout-independent, stream-vs-batch
    // driver-independent; file order is pinned by write order under
    // maxFilesPerTrigger=1)
    val gotStream = SegmentedStateStore.openForRead(spark, store)
      .preserved.out.as[(Long, Double)].collect().toMap
    val e2 = edges1.join(delta1.select("src").distinct(), Seq("src"), "left_anti")
      .unionByName(delta1).localCheckpoint(true)
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_stream_pr_store2").toString
    IncrementalPageRank.preserveTo(spark, store2, edges1, 0.8,
      iterations = 4, nBuckets = 8)
    IncrementalPageRank.incrementalSeg(spark, store2, e2,
      delta1.select("src").distinct(), 0.8, iterations = 3).count()
    val e3 = e2.join(delta2.select("src").distinct(), Seq("src"), "left_anti")
      .unionByName(delta2).localCheckpoint(true)
    IncrementalPageRank.incrementalSeg(spark, store2, e3,
      delta2.select("src").distinct(), 0.8, iterations = 3).count()
    val gotBatch = SegmentedStateStore.openForRead(spark, store2)
      .preserved.out.as[(Long, Double)].collect().toMap
    assert(gotStream.keySet == gotBatch.keySet)
    for (k <- gotStream.keySet)
      assert(math.abs(gotStream(k) - gotBatch(k)) < 1e-12,
        s"node $k stream=${gotStream(k)} batch=${gotBatch(k)}")
  }

  test("gap sessionization with keyed state matches the batch operator") {
    import EventStreams.{SessionEvent, SessionOut}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // adaptive loader: ts arrives as epoch-µs regardless of the file's
    // encoding, so the gap is in µs too (the operator is unit-agnostic)
    val gap = 30L * 60 * 1000000L // 30 min in µs
    val events = graft.queries.Q.eventsUs(spark, sf)
      .select(col("user_id"), col("ts")).as[SessionEvent]
    // batch execution with NoTimeout emits every CLOSED session; each
    // key's final session stays open (a stream would hold it for more
    // data), so the expectation is the batch operator's sessions minus
    // the last session of every user
    val got = EventStreams.sessionizeStream(events, gap,
        GroupStateTimeout.NoTimeout())
      .collect().map(s => (s.user_id, s.session_start, s.session_end, s.n_events))
      .toSet
    val batchSessions = graft.operators.Relational.sessionize(
      graft.queries.Q.eventsUs(spark, sf)
        .select(col("user_id"), col("ts"), col("event_id")),
      "user_id", "ts", "event_id", gap)
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
    val lastPerUser = batchSessions.groupBy("user_id")
      .agg(max("session_id").as("session_id"))
    val expect = batchSessions.join(lastPerUser,
        Seq("user_id", "session_id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expect,
      s"closed-session mismatch: only-stream=${(got -- expect).take(3)} " +
        s"only-batch=${(expect -- got).take(3)}")
  }

  test("sessionization through a real StreamingQuery: state carries across " +
      "micro-batches and EventTimeTimeout closes idle sessions") {
    import EventStreams.{SessionEvent, SessionOut}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val gap = 100L * 1000000000L // 100 s in ns
    // offset from a realistic epoch: a row at exactly the initial
    // watermark (1970-01-01, i.e. raw ts=0) is dropped as late
    def s2ns(s: Long): Long = (1700000000L + s) * 1000000000L
    val input = MemoryStream[SessionEvent]
    // the watermark must be attached upstream of the stateful operator;
    // the typed view keeps the event_time column in the plan
    val withWm = input.toDS()
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "0 seconds")
      .as[SessionEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("sess_ckpt").toString
    val q = EventStreams.sessionizeStream(withWm, gap)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 1: u3 closes a session INLINE within the batch (0 → 300)
      input.addData(SessionEvent(1, s2ns(0)), SessionEvent(1, s2ns(50)),
        SessionEvent(2, s2ns(10)), SessionEvent(3, s2ns(0)),
        SessionEvent(3, s2ns(300)), SessionEvent(3, s2ns(350)))
      q.processAllAvailable()
      // batch 2: u1's 600 closes its carried [0,50] session inline
      // (state crossed the batch boundary); u3's 420 extends [300,·]
      input.addData(SessionEvent(1, s2ns(600)), SessionEvent(3, s2ns(420)))
      q.processAllAvailable()
      // batch 3: a clock key advances the watermark to 2000 s; at the
      // NEXT batch the timeout fires for u2 [10,10] and u3 [300,420]
      input.addData(SessionEvent(99, s2ns(2000)))
      q.processAllAvailable()
      // batch 4: watermark 2000 s > every remaining timeout except the
      // clock keys' own sessions → u1 [600,600] closes via TIMEOUT
      input.addData(SessionEvent(100, s2ns(3000)))
      q.processAllAvailable()

      val got = spark.table("sess_stream").as[SessionOut]
        .collect().map(s => (s.user_id, s.session_start, s.session_end, s.n_events))
        .filter(_._1 < 99).toSet
      // the watermark has passed every u1/u2/u3 session, so the stream
      // must have emitted the COMPLETE batch twin for those users —
      // no open-session subtraction like the batch-mode test above
      val all = Seq((1L, 0L), (1L, 50L), (2L, 10L), (3L, 0L), (3L, 300L),
        (3L, 350L), (1L, 600L), (3L, 420L))
        .zipWithIndex.map { case ((u, s), i) => (u, s2ns(s), i.toLong) }
        .toDF("user_id", "ts", "event_id")
      val expect = graft.operators.Relational.sessionize(
          all, "user_id", "ts", "event_id", gap)
        .groupBy("user_id", "session_id")
        .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(expect.size == 5) // sanity: the scenario has 5 closed sessions
      assert(got == expect,
        s"only-stream=${(got -- expect).take(5)} only-batch=${(expect -- got).take(5)}")
      // the timeout path specifically: u2 has no later event, so its
      // session can only have been emitted by hasTimedOut
      assert(got.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("blocked matvec stream maintenance: maintained tiling, deletions, replay, batch-chain equality") {
    import graft.algorithms.IncrementalMatVec
    import graft.core.SegmentedStateStore
    import graft.operators.TiledMatrixStore
    import graft.streaming.StreamMaintain
    val cells = (for (i <- 0L until 30L;
        j <- Seq((i * 7 + 1) % 30, (i * 3 + 2) % 30) if i != j)
      yield (i, j, 1.0 + (i * 13 + j * 7) % 5)).distinct.toDF("i", "j", "w")
    val rs = cells.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = cells.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .localCheckpoint(true)
    val b = IncrementalMatVec.universe(m1, 0.2).localCheckpoint(true)
    val sp = java.nio.file.Files
      .createTempDirectory("graft_bmv_state").toString
    val tp = java.nio.file.Files
      .createTempDirectory("graft_bmv_tiles").toString
    IncrementalMatVec.preserveBlockedTo(spark, sp, m1, b, blockSize = 8,
      iterations = 3, nBuckets = 8)
    TiledMatrixStore.init(spark, tp, m1, blockSize = 8, cellBuckets = 8,
      tileBuckets = 8, idxBuckets = 4)
    // batch 0 halves the ≡3-mod-10 columns (a replacement batch carries
    // the column's ENTIRE new cell set); batch 1 DELETES the ≡6 columns
    val d1 = m1.filter(col("j") % 10 === 3)
      .select(col("i"), col("j"), (col("v") * 0.5).as("v"))
      .withColumn("op", lit("U")).localCheckpoint(true)
    StreamMaintain.blockedMatvecBatch(spark, sp, tp, d1, 0L, b,
      iterations = 2)
    val m2 = m1.withColumn("v",
      when(col("j") % 10 === 3, col("v") * 0.5).otherwise(col("v")))
      .localCheckpoint(true)
    val d2 = m2.filter(col("j") % 10 === 6).select("j").distinct()
      .select(lit(null).cast("long").as("i"), col("j"),
        lit(null).cast("double").as("v"), lit("D").as("op"))
      .localCheckpoint(true)
    StreamMaintain.blockedMatvecBatch(spark, sp, tp, d2, 1L, b,
      iterations = 2)
    val m3 = m2.filter(col("j") % 10 =!= 6).localCheckpoint(true)
    def xs(p: String) = SegmentedStateStore.openForRead(spark, p)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = xs(sp)
    // duplicate delivery: both stores' fences skip, nothing changes
    StreamMaintain.blockedMatvecBatch(spark, sp, tp, d2, 1L, b,
      iterations = 2)
    assert(xs(sp) == got, "replayed blocked batch mutated the state store")
    // update-equals-rebuild on all three keyings of the tiling
    val tq = java.nio.file.Files
      .createTempDirectory("graft_bmv_tiles2").toString
    TiledMatrixStore.init(spark, tq, m3, blockSize = 8, cellBuckets = 8,
      tileBuckets = 8, idxBuckets = 4)
    val hGot = TiledMatrixStore.open(spark, tp)
    val hWant = TiledMatrixStore.open(spark, tq)
    assert(hGot.cells.as[(Long, Long, Double)].collect().toSet ==
      hWant.cells.as[(Long, Long, Double)].collect().toSet,
      "maintained cells diverged from a fresh tiling")
    def bags(h: TiledMatrixStore.Handle) = h.tilesSource.all
      .select(col("tid"), col("jb"), explode(col("cells")).as("c"))
      .select(col("tid"), col("jb"), col("c.i"), col("c.j"), col("c.v"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(bags(hGot) == bags(hWant),
      "maintained tile bags diverged from a fresh tiling")
    assert(hGot.idxSource.all.as[(Long, Long)].collect().toSet ==
      hWant.idxSource.all.as[(Long, Long)].collect().toSet,
      "maintained tile index diverged from a fresh tiling")
    // equality with the frame-fed BLOCKED batch chain on a second
    // store (same tile granularity — the blocked affected set is
    // tile-wide, so the scalar maintainer is NOT the comparator here)
    val sp2 = java.nio.file.Files
      .createTempDirectory("graft_bmv_state2").toString
    IncrementalMatVec.preserveBlockedTo(spark, sp2, m1, b, blockSize = 8,
      iterations = 3, nBuckets = 4)
    def tilesOf(m: org.apache.spark.sql.DataFrame, pred: org.apache.spark.sql.Column) =
      m.filter(pred)
        .select(IncrementalMatVec.tileId(col("i"), col("j"), 8).as("tid"))
        .distinct()
    IncrementalMatVec.incrementalBlockedSeg(spark, sp2, m2, b,
      tilesOf(m1, col("j") % 10 === 3)
        .union(tilesOf(m2, col("j") % 10 === 3)).distinct(),
      blockSize = 8, iterations = 2, filterThreshold = 0.0)
    IncrementalMatVec.incrementalBlockedSeg(spark, sp2, m3, b,
      tilesOf(m2, col("j") % 10 === 6),
      blockSize = 8, iterations = 2, filterThreshold = 0.0)
    val want = xs(sp2)
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"idx $k stream=${got(k)} batch=${want(k)}")
  }

  test("blocked matvec maintenance policy: K consecutive advisories run a journaled compact, chain stays exact") {
    // round-14 verdict #4: StorePolicy advice was emitted on every
    // commit but nothing ACTED on it. Here the tiling is provisioned
    // tiny (4 tile buckets), so every batch's footprint is over the
    // 10% crossover and AdviceStreak(2) must fire EXACTLY once in a
    // 3-batch chain (after batch 1; the streak resets on firing) —
    // running TiledMatrixStore.compact inside the maintainer loop,
    // fence-safe. The compact is content-invariant, so the maintained
    // pair must stay bit-equal to an identical chain run WITHOUT the
    // policy, and the stream fence must keep advancing across it.
    import graft.algorithms.IncrementalMatVec
    import graft.core.SegmentedStateStore
    import graft.operators.{StorePolicy, TiledMatrixStore}
    import graft.streaming.StreamMaintain
    val cells = (for (i <- 0L until 24L;
        j <- Seq((i * 5 + 1) % 24, (i * 3 + 2) % 24) if i != j)
      yield (i, j, 1.0 + (i * 11 + j * 3) % 4)).distinct.toDF("i", "j", "w")
    val rs = cells.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = cells.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .localCheckpoint(true)
    val b = IncrementalMatVec.universe(m1, 0.2).localCheckpoint(true)
    def build(tag: String) = {
      val sp = java.nio.file.Files
        .createTempDirectory(s"graft_bmvpol_${tag}_s").toString
      val tp = java.nio.file.Files
        .createTempDirectory(s"graft_bmvpol_${tag}_t").toString
      IncrementalMatVec.preserveBlockedTo(spark, sp, m1, b, blockSize = 8,
        iterations = 3, nBuckets = 4)
      TiledMatrixStore.init(spark, tp, m1, blockSize = 8, cellBuckets = 4,
        tileBuckets = 4, idxBuckets = 2)
      (sp, tp)
    }
    def batchOf(lo: Long, hi: Long) = m1
      .filter(col("j") % 10 >= lo && col("j") % 10 < hi)
      .select(col("i"), col("j"), (col("v") * 0.5).as("v"))
      .withColumn("op", lit("U")).localCheckpoint(true)
    val batches = Seq(batchOf(3, 4), batchOf(6, 7), batchOf(8, 9))
    val (spP, tpP) = build("pol")
    val (spN, tpN) = build("nopol")
    val streak = new StorePolicy.AdviceStreak(2)
    batches.zipWithIndex.foreach { case (d, i) =>
      StreamMaintain.blockedMatvecBatch(spark, spP, tpP, d, i.toLong, b,
        iterations = 2, maintenance = Some(streak))
      StreamMaintain.blockedMatvecBatch(spark, spN, tpN, d, i.toLong, b,
        iterations = 2)
    }
    // one extra epoch on the policy store: 3 applyDelta commits + ONE
    // compact (fired after batch 1, streak reset, not re-fired at 3)
    assert(TiledMatrixStore.currentEpoch(spark, tpP) ==
      TiledMatrixStore.currentEpoch(spark, tpN) + 1,
      "the policy must have run exactly one compact")
    assert(streak.streak == 1, "streak must have reset when it fired")
    // the fence survived the mid-chain compact and kept advancing
    assert(TiledMatrixStore.lastBatch(spark, tpP) == 2L)
    // content equality across state and all three keyings
    def xs(p: String) = SegmentedStateStore.openForRead(spark, p)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = xs(spP); val want = xs(spN)
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"idx $k policy=${got(k)} plain=${want(k)}")
    def bags(tp: String) = TiledMatrixStore.open(spark, tp).tilesSource.all
      .select(col("tid"), explode(col("cells")).as("c"))
      .select(col("tid"), col("c.i"), col("c.j"), col("c.v"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(bags(tpP) == bags(tpN),
      "policy compact changed the tiling's content")
    assert(TiledMatrixStore.open(spark, tpP).cells
      .as[(Long, Long, Double)].collect().toSet ==
      TiledMatrixStore.open(spark, tpN).cells
        .as[(Long, Long, Double)].collect().toSet)
  }

  test("blocked matvec: crash between state apply and tiling apply heals on redelivery") {
    // the 3-table store's crash window: the state continuation lands,
    // the process dies BEFORE applyDelta. On redelivery the tiling
    // fence is still behind (it applies LAST), so the surgery
    // recomputes against the pre-batch bags while the STATE fence
    // skips its side — the fixed apply order must leave the pair
    // exactly equal to an uninterrupted chain
    import graft.algorithms.IncrementalMatVec
    import graft.core.SegmentedStateStore
    import graft.operators.TiledMatrixStore
    import graft.streaming.StreamMaintain
    val cells = (for (i <- 0L until 24L;
        j <- Seq((i * 5 + 1) % 24, (i * 3 + 2) % 24) if i != j)
      yield (i, j, 1.0 + (i * 11 + j * 3) % 4)).distinct.toDF("i", "j", "w")
    val rs = cells.groupBy("i").agg(sum(abs(col("w"))).as("rs"))
    val m1 = cells.join(rs, "i")
      .select(col("i"), col("j"), (col("w") / col("rs") * 0.8).as("v"))
      .localCheckpoint(true)
    val b = IncrementalMatVec.universe(m1, 0.2).localCheckpoint(true)
    def build(tag: String) = {
      val sp = java.nio.file.Files
        .createTempDirectory(s"graft_bmvcrash_${tag}_s").toString
      val tp = java.nio.file.Files
        .createTempDirectory(s"graft_bmvcrash_${tag}_t").toString
      IncrementalMatVec.preserveBlockedTo(spark, sp, m1, b, blockSize = 8,
        iterations = 3, nBuckets = 4)
      TiledMatrixStore.init(spark, tp, m1, blockSize = 8, cellBuckets = 4,
        tileBuckets = 4, idxBuckets = 2)
      (sp, tp)
    }
    val d1 = m1.filter(col("j") % 10 === 3)
      .select(col("i"), col("j"), (col("v") * 0.5).as("v"))
      .withColumn("op", lit("U")).localCheckpoint(true)
    // reference chain: both batches applied cleanly
    val (sp0, tp0) = build("ref")
    StreamMaintain.blockedMatvecBatch(spark, sp0, tp0, d1, 0L, b,
      iterations = 2)
    // crashed chain: batch 0's STATE applies, then we "crash" before
    // the tiling apply — exactly the fixed-apply-order window
    val (sp1, tp1) = build("crash")
    locally {
      val patch = d1.drop("op")
        .select(col("i").cast("long"), col("j").cast("long"),
          col("v").cast("double")).localCheckpoint(true)
      val delta = TiledMatrixStore.prepareDelta(spark, tp1, patch,
        spark.range(0).select(col("id").as("j")))
      val (out, _) = IncrementalMatVec.incrementalBlockedFromStores(spark,
        sp1, tp1, delta, b, iterations = 2, filterThreshold = 0.0,
        batchId = Some(0L))
      out.unpersist(blocking = false)
      delta.release() // crash here: applyDelta never runs
      patch.unpersist(blocking = false)
    }
    assert(TiledMatrixStore.lastBatch(spark, tp1) == -1L,
      "tiling must not have applied before the crash")
    // redelivery of the SAME batch: state fence skips, tiling applies
    StreamMaintain.blockedMatvecBatch(spark, sp1, tp1, d1, 0L, b,
      iterations = 2)
    assert(TiledMatrixStore.lastBatch(spark, tp1) == 0L)
    def xs(p: String) = SegmentedStateStore.openForRead(spark, p)
      .preserved.out.as[(Long, Double)].collect().toMap
    val got = xs(sp1); val want = xs(sp0)
    assert(got.keySet == want.keySet)
    for (k <- got.keySet)
      assert(math.abs(got(k) - want(k)) < 1e-12,
        s"idx $k healed=${got(k)} clean=${want(k)}")
    def bags(tp: String) = TiledMatrixStore.open(spark, tp).tilesSource.all
      .select(col("tid"), explode(col("cells")).as("c"))
      .select(col("tid"), col("c.i"), col("c.j"), col("c.v"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(bags(tp1) == bags(tp0),
      "healed tiling diverged from the clean chain")
  }

  test("stateful running totals accumulate across batches") {
    import EventStreams.{UserEvent, UserRunning}
    val events = graft.queries.Q.eventsUs(spark, sf)
      .select(col("user_id"), col("ts"), col("value")).as[UserEvent]
    val got = EventStreams.runningUserTotals(events)
      .collect().map(r => r.user_id -> r).toMap
    val expect = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    for ((u, (n, t)) <- expect) {
      assert(got(u).n == n)
      assert(math.abs(got(u).total - t) < 1e-6)
    }
  }
}
