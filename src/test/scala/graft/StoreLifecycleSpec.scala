package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.algorithms.IncrementalPageRank
import graft.core.SegmentedStateStore
import graft.operators._

/** The store lifecycle ([[SegStore]]) checked once per store kind over
  * a tiny fixture: the params layout each init writes, rebucket and
  * compact keeping the rows and every params field but the layout one,
  * rollback equal to the as-of read, export reading equal and taking a
  * continuation, and [[StoreTxn]] recovering a hand-written manifest
  * that names the kind. */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lc_$tag").toString

  // ---- fixtures ----------------------------------------------------------

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")
  private def text(i: Long): String =
    (0 until 12).map(k => words(((i * 7 + k * 3 + k * k * (i % 3)) % 12).toInt))
      .mkString(" ")
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, text(i))).toDF("doc_id", "text")
  private def lineDocs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"shared header\nbody ${i % 3}\nunique $i"))
      .toDF("doc_id", "text")
  private val base = 0L until 20L
  private def noIds: DataFrame = Seq.empty[Long].toDF("id")
  // batch b adds doc 100+b and removes doc 1+b
  private def added(b: Long) = Seq(100L + b)
  private def removed(b: Long) = Seq(1L + b).toDF("id")

  private def vec(i: Long, d: Int) =
    Array.tabulate(d)(x => ((i * 7 + x * 3) % 11 - 5).toDouble)
  private def vecs(ids: Seq[Long], d: Int): DataFrame =
    ids.map(i => (i, vec(i, d))).toDF("id", "vec")

  private val edges0 = (0L until 30L).flatMap(s =>
    Seq((s, (s * 7 + 1) % 30), (s, (s * 3 + 2) % 30))).filter(e => e._1 != e._2)
  // after batch b, sources 1..b+1 are rewired
  private def edgesAfter(b: Long): DataFrame = {
    val moved = (1L to b + 1).toSet
    (edges0.filterNot(e => moved(e._1)) ++
      moved.toSeq.map(s => (s, (s * 11 + 5) % 30)))
      .filter(e => e._1 != e._2).distinct.toDF("src", "dst")
  }

  private val cells = (for (i <- 0L until 20L;
      j <- Seq((i * 7 + 1) % 20, (i * 3 + 2) % 20) if i != j)
    yield (i, j, 1.0 + (i * 13 + j * 7) % 5)).distinct.toDF("i", "j", "v")

  /** One store kind: its tables, the params layout its init writes
    * (`name:type` in file order), the layout field a rebucket moves,
    * and its init / batch-`b` continuation / rebucket. */
  case class Kind(store: SegStore, tables: Seq[String], frozen: Seq[String],
      params: String, layoutField: String, init: String => Unit,
      continue: (String, Long) => Unit, rebucket: (String, Int) => Unit)

  private val kinds = Seq(
    Kind(SegmentedStateStore, Seq("kvs", "out"), Nil,
      "k2Col:s b:i k2Ddl:s kvsDdl:s outDdl:s appliedBatch:l", "b",
      p => IncrementalPageRank.preserveTo(spark, p, edgesAfter(-1L), 0.8,
        iterations = 3, numPartitions = 4, nBuckets = 4),
      (p, b) => IncrementalPageRank.incrementalSeg(spark, p, edgesAfter(b),
        Seq(b + 1).toDF("src"), 0.8, iterations = 2, numPartitions = 4,
        batchId = Some(b)).unpersist(blocking = true),
      (p, n) => SegmentedStateStore.rebucket(spark, p, n)),
    Kind(DupSpansStore, Seq("spans", "ntoks", "out", "dfreq"), Nil,
      "w:i maxFrac:d b:i mode:s span:l idDdl:s withCut:z spansDdl:s " +
        "ntoksDdl:s dfreqDdl:s outDdl:s textDdl:s cutDdl:s lastBatch:l", "b",
      p => DupSpansStore.init(spark, p, docs(base), "doc_id", "text", w = 3,
        nBuckets = 4),
      (p, b) => DupSpansStore.continueBatch(spark, p, docs(added(b)),
        removed(b), "doc_id", "text", b),
      (p, n) => DupSpansStore.rebucket(spark, p, n)),
    Kind(LmCountsStore, Seq("unidoc", "bidoc", "uni", "bi"), Nil,
      "b:i mode:s span:l idDdl:s unidocDdl:s bidocDdl:s uniDdl:s biDdl:s " +
        "lastBatch:l", "b",
      p => LmCountsStore.init(spark, p, docs(base), "doc_id", "text",
        nBuckets = 4),
      (p, b) => LmCountsStore.continueBatch(spark, p, docs(added(b)),
        removed(b), "doc_id", "text", b),
      (p, n) => LmCountsStore.rebucket(spark, p, n)),
    Kind(DedupClusterStore, Seq("bands", "comps"), Nil,
      "maxHamming:i maxBucket:i b:i idDdl:s bandsDdl:s compsDdl:s " +
        "lastBatch:l", "b",
      p => DedupClusterStore.init(spark, p, docs(base), "doc_id", "text",
        nBuckets = 4),
      (p, b) => DedupClusterStore.continueBatch(spark, p, docs(added(b)),
        removed(b), "doc_id", "text", b),
      (p, n) => DedupClusterStore.rebucket(spark, p, n)),
    Kind(LineDedupStore, Seq("lines", "dfreq", "out"), Nil,
      "maxDocs:l sep:s b:i idDdl:s linesDdl:s dfreqDdl:s outDdl:s", "b",
      p => LineDedupStore.init(spark, p, lineDocs(base), "doc_id", "text",
        maxDocs = 5L, nBuckets = 4),
      (p, b) => LineDedupStore.continueAt(spark, p, lineDocs(added(b)),
        removed(b), "doc_id", "text"),
      (p, n) => LineDedupStore.rebucket(spark, p, n)),
    Kind(DecontamStore, Seq("shingles", "evalsh"), Nil,
      "w:i b:i idDdl:s evalIdDdl:s shinglesDdl:s evalshDdl:s", "b",
      p => DecontamStore.init(spark, p, docs(base), "doc_id", "text",
        docs(Seq(3L, 50L)).toDF("eid", "etext"), "eid", "etext",
        nBuckets = 4),
      (p, b) => DecontamStore.continueAt(spark, p, docs(added(b)),
        removed(b), Seq.empty[(Long, String)].toDF("eid", "etext"), noIds,
        "doc_id", "text", "eid", "etext"),
      (p, n) => DecontamStore.rebucket(spark, p, n)),
    Kind(TfidfStore, Seq("tf", "dfreq", "docs"), Nil,
      "b:i n:l idDdl:s tfDdl:s dfreqDdl:s docsDdl:s lastBatch:l", "b",
      p => TfidfStore.init(spark, p, docs(base), "doc_id", "text",
        nBuckets = 4),
      (p, b) => TfidfStore.continueBatch(spark, p, docs(added(b)),
        removed(b), "doc_id", "text", b),
      (p, n) => TfidfStore.rebucket(spark, p, n)),
    Kind(SemanticDedupStore, Seq("assign", "out"), Seq("cents"),
      "tau:d foldLimit:i b:i idDdl:s assignDdl:s outDdl:s", "b",
      p => SemanticDedupStore.init(spark, p, vecs(base, 8), nlist = 2,
        tau = 0.9, nBuckets = 4),
      (p, b) => SemanticDedupStore.continueAt(spark, p, vecs(added(b), 8),
        removed(b)),
      (p, n) => SemanticDedupStore.rebucket(spark, p, n)),
    Kind(KeyedUpsertStore, Seq("rows"), Nil,
      "keyCol:s b:i keyDdl:s lastBatch:l rowsDdl:s", "b",
      p => KeyedUpsertStore.init(spark, p,
        base.map(k => (k, k * 10)).toDF("k", "v"), "k", nBuckets = 4),
      (p, b) => KeyedUpsertStore.upsertBatch(spark, p,
        Seq((100L + b, b)).toDF("k", "v"), removed(b), b),
      (p, n) => KeyedUpsertStore.rebucket(spark, p, n)),
    Kind(Similarity.IvfStore, Seq("lists", "loc"), Seq("centroids"),
      "listsDdl:s lastBatch:l locB:i", "locB",
      p => Similarity.buildIvfIndex(vecs(base, 8), p, nlist = 2),
      (p, b) => Similarity.updateIvfIndex(spark, p, vecs(added(b), 8),
        removed(b), batchId = Some(b)),
      (p, n) => Similarity.ivfRebucketLoc(spark, p, n)),
    Kind(Pq.IvfPqStore, Seq("lists", "loc"), Seq("centroids", "codebooks"),
      "listsDdl:s m:i lastBatch:l locB:i residual:i", "locB",
      p => Pq.buildIvfPqIndex(vecs(base, 16), p, nlist = 2, m = 4, ksub = 8),
      (p, b) => Pq.updateIvfPqIndex(spark, p, vecs(added(b), 16),
        removed(b), batchId = Some(b)),
      (p, n) => Pq.ivfPqRebucketLoc(spark, p, n)),
    Kind(TiledMatrixStore, Seq("cells", "tiles", "tidx"), Nil,
      "blockSize:i bc:i bt:i bi:i lastBatch:l", "bc",
      p => TiledMatrixStore.init(spark, p, cells, blockSize = 8,
        cellBuckets = 4, tileBuckets = 4, idxBuckets = 2),
      (p, b) => {
        val patch = cells.filter(col("j") === b + 1)
          .select(col("i"), col("j"), (col("v") * 2).as("v")).localCheckpoint(true)
        val d = TiledMatrixStore.prepareDelta(spark, p, patch,
          Seq(5L + b).toDF("j"))
        TiledMatrixStore.applyDelta(spark, p, patch, d, b)
        d.release()
      },
      (p, n) => TiledMatrixStore.rebucket(spark, p, cellBuckets = n)))

  // ---- readers -----------------------------------------------------------

  /** The params record as (name, type tag, value) lines. */
  private def kv(path: String): Seq[(String, String, String)] =
    Files.readAllLines(Paths.get(s"$path/params/kv.txt")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(n, t, v) = l.split(" ", 3)
        (java.net.URLDecoder.decode(n, "UTF-8"), t, v)
      }
  private def layout(path: String): String =
    kv(path).map { case (n, t, _) => s"$n:$t" }.mkString(" ")

  private def rows(df: DataFrame): Seq[String] =
    df.drop("_b").collect().map(_.toString).toSeq.sorted
  private def schemas(path: String, k: Kind): Seq[(String, StructType)] =
    k.tables.map(t => t -> spark.read.parquet(s"$path/$t").schema)
  private def live(path: String, sch: Seq[(String, StructType)]) =
    sch.map { case (t, s) => t -> rows(SegSwap.resolvedTable(spark, path, t, s)) }
  private def asOf(path: String, sch: Seq[(String, StructType)], e: Long) =
    sch.map { case (t, s) => t -> rows(SegSwap.snapshotTable(spark, path, t, s, e)) }

  test("StoreTxn kinds are the stores' declared kinds, named as manifests record them") {
    assert(StoreTxn.kinds.keySet == Set("state", "dupspans", "lmcounts",
      "dedupclusters", "linededup", "decontam", "tfidf", "semdedup",
      "keyedupsert", "ivf", "ivfpq", "tiledmat"))
    assert(kinds.map(_.store.kind).toSet == StoreTxn.kinds.keySet)
  }

  kinds.foreach { k =>
    test(s"lifecycle (${k.store.kind}): rebucket, compact, rollback, export and txn recovery") {
      val s = k.store
      val path = tmp(s.kind)
      k.init(path)
      assert(layout(path) == k.params, "init writes the store's params layout")
      SegSwap.setRetention(SegSwap.fsOf(spark, path), path, 8)
      k.continue(path, 0L)
      assert(layout(path) == k.params, "a continuation keeps the layout")
      val fence = s.lastBatch(spark, path)
      val sch = schemas(path, k)
      val rows0 = live(path, sch)
      val kv0 = kv(path)

      // rebucket: same rows, only the layout field moves
      k.rebucket(path, 3)
      assert(live(path, sch) == rows0, "rebucket keeps the rows")
      val kv1 = kv(path)
      assert(kv1 == kv0.map {
        case (n, t, _) if n == k.layoutField => (n, t, "3")
        case other => other
      }, "rebucket rewrites only the layout field")
      assert(s.lastBatch(spark, path) == fence)
      // compact: same rows, same params
      s.compact(spark, path)
      assert(live(path, sch) == rows0, "compact keeps the rows")
      assert(kv(path) == kv1)

      // a continuation, then the as-of read of the epoch before it
      val e = s.currentEpoch(spark, path)
      k.continue(path, 1L)
      val rows2 = live(path, sch)
      assert(rows2 != rows0, "the continuation must change the store")
      val atE = asOf(path, sch, e)
      assert(atE == rows0, "as-of read of the pre-continuation epoch")

      // export at e: reads equal, and takes a continuation
      val dst = tmp(s"${s.kind}_export")
      s.exportAt(spark, path, e, dst)
      assert(live(dst, sch) == atE, "export reads as of its epoch")
      assert(kv(dst) == kv1)
      k.frozen.foreach { d =>
        assert(rows(spark.read.parquet(s"$dst/$d")) ==
          rows(spark.read.parquet(s"$path/$d")), s"export copies $d")
      }
      assert(s.currentEpoch(spark, dst) == 0L)
      k.continue(dst, 1L)
      assert(s.currentEpoch(spark, dst) == 1L)
      assert(s.lastBatch(spark, dst) == s.lastBatch(spark, path))

      // rollback equals the as-of read; the fence reverts with the rows
      s.rollbackTo(spark, path, e)
      assert(live(path, sch) == atE, "rollback equals the as-of read")
      assert(kv(path) == kv1, "params revert with the rows")
      // redo: the rolled-back batch applies again
      k.continue(path, 1L)
      assert(live(path, sch) != rows0, "the redone batch applies")
      assert(s.lastBatch(spark, path) == s.lastBatch(spark, dst))

      // a txn manifest in its on-disk format naming this kind recovers
      val txn = tmp(s"${s.kind}_txn")
      Files.write(Paths.get(s"$txn/txn_manifest"),
        s"${s.kind}\t$path\t$e\t-".getBytes("UTF-8"))
      assert(StoreTxn.recover(spark, txn))
      assert(live(path, sch) == atE, "manifest recovery rolls back")
      assert(kv(path) == kv1)
    }
  }

  test("a store laid out as the previous build wrote it rebuckets, rolls back and continues") {
    // rows and params exactly as the per-store code before SegStore
    // wrote a KeyedUpsertStore: _b = pmod(xxhash64(k), 4), kv.txt
    // fields keyCol, b, keyDdl, lastBatch, rowsDdl
    val p = tmp("compat")
    val init = (0L until 40L).map(k => (k, k * 10))
    SegSwap.writeBuckets(init.toDF("k", "v")
      .withColumn("_b", expr("cast(pmod(xxhash64(k), 4L) as int)")), s"$p/rows")
    val params = Seq("keyCol s k", "b i 4", "keyDdl s BIGINT",
      "lastBatch l 3", "rowsDdl s k+BIGINT%2Cv+BIGINT%2C_b+INT")
    Files.createDirectories(Paths.get(s"$p/params"))
    Files.write(Paths.get(s"$p/params/kv.txt"),
      params.mkString("\n").getBytes("UTF-8"))
    def kvText = new String(Files.readAllBytes(Paths.get(s"$p/params/kv.txt")), "UTF-8")
    def content = KeyedUpsertStore.rows(spark, p).as[(Long, Long)].collect().toSet
    assert(KeyedUpsertStore.lastBatch(spark, p) == 3L)
    assert(content == init.toSet)

    KeyedUpsertStore.rebucket(spark, p, 8)
    assert(kvText == params.updated(1, "b i 8").mkString("\n"),
      "rebucket rewrites b in place, every other byte as it was")
    assert(content == init.toSet)
    val placed = spark.read.parquet(s"$p/rows")
      .select(($"_b" === expr("cast(pmod(xxhash64(k), 8L) as int)")).as("ok"))
      .as[Boolean].collect()
    assert(placed.nonEmpty && placed.forall(identity), "rows sit in the new buckets")

    KeyedUpsertStore.rollbackTo(spark, p, 0L)
    assert(kvText == params.mkString("\n"), "rollback restores the record")
    assert(content == init.toSet)
    assert(KeyedUpsertStore.upsertBatch(spark, p,
      Seq((5L, 0L), (100L, 1L)).toDF("k", "v"), Seq(7L).toDF("k"), 4L))
    assert(!KeyedUpsertStore.upsertBatch(spark, p,
      Seq((6L, 0L)).toDF("k", "v"), Seq.empty[Long].toDF("k"), 4L))
    assert(KeyedUpsertStore.lastBatch(spark, p) == 4L)
    assert(content == init.toSet - ((5L, 50L)) - ((7L, 70L)) + ((5L, 0L)) +
      ((100L, 1L)))
  }

  test("a params dir without kv.txt fails loudly, asking for a re-init") {
    val p = tmp("nokv")
    TfidfStore.init(spark, p, docs(base), "doc_id", "text", nBuckets = 2)
    Files.delete(Paths.get(s"$p/params/kv.txt"))
    val e = intercept[IllegalArgumentException](TfidfStore.lastBatch(spark, p))
    assert(e.getMessage.contains("written by an older build; re-init the store"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException](TfidfStore.tfidf(spark, p))
    assert(e2.getMessage.contains("tfidfstore"), e2.getMessage)
  }
}
