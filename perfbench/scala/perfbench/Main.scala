package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental-refresh benchmark: one closed-loop client drives the
  * engine's public entry points through a chain of deltas and reports
  * end-to-end metrics (untraced run) or per-layer metrics (traced run).
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <workDir> <resultFile>
  *
  * The result file gets one JSON object with the keys correct,
  * attempted, failed and metrics; `<resultFile>.extra.json` gets the
  * figures reported beside the metrics (canary, speed-up, op counts). */
object Main {

  val Cores = 4
  val Damping = 0.8
  /** Stream workloads: untimed warm-up refreshes before the window (the
    * first calls pay class loading and code generation that a
    * long-running maintainer pays once), the least number of measured
    * refreshes, and reads after each refresh. */
  val WarmRefreshes = 1
  val MinRefreshes = 4
  val ReadsPerRefresh = 2

  final class Ctx(val spark: SparkSession, val tr: Trace, val seed: Long,
      val seconds: Double, val work: String) {
    var attempted = 0
    var failed = 0
    val deltaRows = mutable.ArrayBuffer.empty[Long]
    val canary = mutable.ArrayBuffer.empty[Double]
    var stateMb = 0.0
    var liveHeapMb = 0.0
    var setupS = 0.0
    private var windowStart = 0L

    /** A timed op that counts as attempted, and as failed if it throws
      * (the run then goes on with the next op). */
    def attempt[T](kind: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(tr.op(kind)(f)) catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $kind op failed: $e")
        e.printStackTrace()
        None
      }
    }
    /** An output check, run as an op of kind "check". */
    def check(what: String)(f: => Option[String]): Unit =
      attempt("check")(f).foreach {
        case None => ()
        case Some(why) =>
          failed += 1
          System.err.println(s"[perfbench] check failed: $why")
      }

    /** Ends set-up: records setup_s, times the start canary and opens
      * the measured window. */
    def startWindow(): Unit = {
      val jvmStart = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime
      setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      canary += Canary.run()
      windowStart = System.nanoTime()
    }
    def elapsed: Double = (System.nanoTime() - windowStart) / 1e9
    /** Closed loop: go on while the window is open, and until at least
      * `min` refreshes have run. Times the mid-run canary once. */
    def more(done: Int, min: Int): Boolean = {
      if (canary.size == 1 && elapsed >= seconds / 2) canary += Canary.run()
      done < min || elapsed < seconds
    }
    /** The stream workloads' closed loop: `step(batchId, kind)` runs one
      * refresh of `kind` and the reads after it, first `WarmRefreshes`
      * times as set-up, then through the measured window. State size is
      * taken after the `MinRefreshes`-th measured refresh, so it covers
      * the same commits however many the window holds. */
    def closedLoop(stores: Seq[String])(step: (Long, String) => Unit): Unit = {
      for (b <- 0 until WarmRefreshes) step(b, "setup")
      startWindow()
      var n = 0
      while (more(n, MinRefreshes)) {
        step(WarmRefreshes + n, "refresh")
        n += 1
        if (n == MinRefreshes) {
          stateMb = Listing.bytes(stores) / (1024.0 * 1024.0)
          sampleLiveHeap()
        }
      }
    }
    /** Live heap: heap in use right after a full collection, i.e. what
      * the engine, Spark and the benchmark hold, whatever the collector's
      * sizing. Runs between ops, so no op time includes it. */
    def sampleLiveHeap(): Unit = {
      System.gc()
      val used = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
      liveHeapMb = math.max(liveHeapMb, used / (1024.0 * 1024.0))
    }
    /** The ops of `kind` after a refresh of `kind`: reads are timed as
      * "read" in the window and count as set-up before it. */
    def reads(kind: String)(f: => Any): Unit =
      for (_ <- 0 until ReadsPerRefresh)
        attempt(if (kind == "refresh") "read" else kind)(f)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val seed = seedS.toLong
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.LogQuiet()
    val tr = new Trace(traceS == "1", Cores)
    if (tr.traced) spark.sparkContext.addSparkListener(tr.recorder)
    val ctx = new Ctx(spark, tr, seed, secondsS.toDouble, work)
    workload match {
      case "pr_stream" => PrStream.run(ctx)
      case "corpus_stream" => CorpusStream.run(ctx)
    }
    ctx.sampleLiveHeap()
    ctx.canary += Canary.run()
    report(ctx, out)
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident memory outside the heap: VmHWM minus the committed
    * heap. The heap is fixed in size and pre-touched, so it is resident
    * all run long and VmHWM exceeds it by exactly that peak. */
  private def offHeapPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwmMb = try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN) finally src.close()
    hwmMb - java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / (1024.0 * 1024.0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def report(c: Ctx, out: String): Unit = {
    val tr = c.tr
    val refresh = tr.secs("refresh")
    val e2e = Seq(
      ("setup_s", c.setupS, "s"),
      ("refresh_p50_s", median(refresh), "s"),
      ("delta_rows_per_s", c.deltaRows.sum / refresh.sum, "rows/s"),
      ("read_p50_s", median(tr.secs("read")), "s"),
      ("preserve_s", median(tr.secs("preserve")), "s"),
      ("recompute_s", median(tr.secs("recompute")), "s"),
      ("state_mb", c.stateMb, "MB"),
      ("peak_mem_mb", offHeapPeakMb + c.liveHeapMb, "MB"))
    val metrics: Seq[(String, Double, String)] =
      if (!tr.traced) e2e
      else {
        org.apache.spark.PerfbenchBus.drain(c.spark.sparkContext)
        val pk = tr.perKind
        val perOp = PerLayer.Metrics.map { case (kind, m, unit) =>
          (s"$kind.$m", pk(kind)(m), unit) }
        val self = tr.selfTimes
        val layers = PerLayer.Layers.map(l =>
          (s"self_s.$l", self.getOrElse(l, 0.0), "s"))
        val wall = tr.ops.map(_.ns).sum / 1e9
        val overhead = tr.overheadNs / 1e9 + tr.recorder.callbackNs / 1e9
        perOp ++ layers ++ Seq(
          ("trace.overhead_s", overhead, "s"),
          ("trace.overhead_frac", overhead / wall, "ratio"),
          ("trace.refresh_p50_s", median(refresh), "s"))
      }
    val mJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = c.failed == 0
    writeFile(out, s"""{"correct": $correct, "attempted": ${c.attempted}, """ +
      s""""failed": ${c.failed}, "metrics": {$mJson}}""")
    val speedup = median(tr.secs("recompute")) / median(refresh)
    val counts = OpKind.All.map(k => s""""$k": [${tr.secs(k).map(num)
      .mkString(", ")}]""").mkString(", ")
    writeFile(out + ".extra.json",
      s"""{"failed_frac": ${num(c.failed.toDouble / c.attempted)}, """ +
      s""""speedup": ${num(speedup)}, "canary_s": [${c.canary.map(num)
        .mkString(", ")}], "op_s": {$counts}, "delta_rows": ${c.deltaRows.sum}}""")
    if (tr.traced) {
      val w = new java.io.PrintWriter(out + ".spans.jsonl")
      try tr.spans.foreach { s =>
        w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""name": "${s.name}", "layer": "${s.layer}", """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
      } finally w.close()
    }
  }

  private def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try w.println(s) finally w.close()
  }

  // ---- shared helpers ------------------------------------------------

  def edgesDf(spark: SparkSession, g: collection.Map[Long, Set[Long]])
      : DataFrame = {
    val rows = g.iterator.flatMap { case (s, ds) =>
      ds.iterator.map(d => org.apache.spark.sql.Row(s, d)) }.toSeq
    pin(spark.createDataFrame(spark.sparkContext.parallelize(rows, Cores),
      StructType(Seq(StructField("src", LongType, false),
        StructField("dst", LongType, false)))))
  }

  /** Materialize a driver-built frame once so the engine reads cached
    * blocks, not a re-serialized local collection. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def ranksOf(df: DataFrame): Map[Long, Double] =
    df.select(col("node").cast("long"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def topK(spark: SparkSession, store: String, k: Int): Array[Long] =
    graft.core.SegmentedStateStore.openForRead(spark, store).preserved.out
      .orderBy(desc("rank"), asc("node")).limit(k).collect()
      .map(_.getAs[Long]("node"))

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete(); ()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).toSeq.flatten.foreach(f =>
        copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** Traced runs only: files and bytes a commit added to `stores`, and
    * the share of keys whose stored output changed, attributed to
    * `kind`. `state` reads the keyed output; both run between ops. */
  def traceCommit[T](c: Ctx, kind: String, stores: Seq[String],
      state: () => Map[String, Double])(op: => T): T =
    if (!c.tr.traced) op else {
      val (before, s0) = c.tr.tracingOnly((stores.map(s =>
        Listing.files(new File(s))).reduce(_ ++ _), state()))
      val r = op
      c.tr.tracingOnly {
        val after = stores.map(s => Listing.files(new File(s))).reduce(_ ++ _)
        val (nf, nb) = Listing.added(before, after)
        c.tr.add(kind, "store.commit_files", nf)
        c.tr.add(kind, "store.commit_bytes", nb.toDouble)
        val s1 = state()
        val keys = s0.keySet ++ s1.keySet
        c.tr.add(kind, "incr.keys_changed",
          keys.count(k => s0.get(k) != s1.get(k)).toDouble)
        c.tr.add(kind, "incr.keys_total", keys.size.toDouble)
      }
      r
    }

  def advice(c: Ctx, kind: String,
      as: Iterable[graft.operators.StorePolicy.ContinueAdvice]): Unit =
    as.foreach { a =>
      c.tr.add(kind, "store.touched_buckets", a.touchedBuckets)
      c.tr.add(kind, "store.total_buckets", a.totalBuckets)
    }
}

/** Fixed single-thread CPU loop, timed at run start, middle and end,
  * so a run slowed by other load on the machine can be recognized. */
object Canary {
  private def loop(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 25)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("[perfbench] canary fixed point")
    (System.nanoTime() - t0) / 1e9
  }
  private lazy val warm = loop()
  def run(): Double = { warm; loop() }
}
