package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The op kinds every workload reports, in report order. An op is one
  * closed-loop step timed by the benchmark; ops never overlap. */
object OpKind {
  val All: Seq[String] =
    Seq("setup", "preserve", "refresh", "read", "recompute", "check")
}

/** One finished op: its kind, wall-clock interval (ms, for listener
  * attribution), duration (ns) and the JVM counters it moved. */
final case class OpRecord(id: Int, kind: String, startMs: Long, endMs: Long,
    ns: Long, gcMs: Long, codegen: Long)

/** A span around one call into a layer of the engine, recorded from the
  * benchmark's own code. `parent` is the enclosing span (-1 for an op's
  * root span); spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, endNs: Long)

/** Spark-side events, buffered as they arrive and attributed to ops by
  * time at run end. Ops run one at a time on the driver, so a job
  * belongs to the op whose interval holds its submission time; this also
  * covers jobs submitted from pool threads, which do not see the
  * driver thread's local properties. */
final class Recorder extends SparkListener {
  final case class Job(time: Long, stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, finish: Long,
      shuffleRead: Long, shuffleWrite: Long, input: Long, output: Long)
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stagesDone = mutable.ArrayBuffer.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[Task]
  @volatile var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f
    callbackNs += System.nanoTime() - t0
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.synchronized { jobs += Job(e.time, e.stageIds) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed { stagesDone.synchronized { stagesDone += e.stageInfo.stageId } }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val t = if (m == null) Task(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, 0, 0, 0, 0)
      else Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    tasks.synchronized { tasks += t }
  }
}

/** Op timing (always on) plus, when `traced`, the span recorder and the
  * Spark listener. Per-layer numbers come only from traced runs. */
final class Trace(val traced: Boolean, cores: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  val recorder = new Recorder
  /** Per-op-kind sums of the layer metrics the workloads measure
    * themselves (bucket fractions, commit listings, changed keys,
    * iteration counts). */
  val extra = mutable.Map.empty[(String, String), Double]
    .withDefaultValue(0.0)
  /** Driver time spent on tracing outside the listener (store listings,
    * before/after state reads), in ns. */
  var overheadNs = 0L

  private var opSeq = 0
  private var curOp = -1
  private var spanSeq = 0
  private val stack = mutable.Stack.empty[Int]

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private def codegen: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** Run one op of `kind`. */
  def op[T](kind: String)(f: => T): T = {
    require(curOp < 0, s"op '$kind' started inside another op")
    opSeq += 1
    curOp = opSeq
    val g0 = gcMs; val c0 = codegen
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f finally {
      val ns = System.nanoTime() - t0
      ops += OpRecord(curOp, kind, ms0, System.currentTimeMillis(), ns,
        gcMs - g0, codegen - c0)
      curOp = -1
    }
  }

  /** A span around one call into `layer` (a module of the engine). */
  def span[T](name: String, layer: String)(f: => T): T =
    if (!traced) f else {
      spanSeq += 1
      val id = spanSeq
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try f finally {
        stack.pop()
        spans += Span(id, parent, curOp, name, layer, t0, System.nanoTime())
      }
    }

  /** Driver work done only for tracing, excluded from op timings by
    * running between ops, and reported as overhead. */
  def tracingOnly[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally overheadNs += System.nanoTime() - t0
  }

  def add(kind: String, metric: String, v: Double): Unit =
    extra((kind, metric)) += v

  /** Seconds per op of one kind, in run order. */
  def secs(kind: String): Seq[Double] =
    ops.filter(_.kind == kind).map(_.ns / 1e9).toSeq

  /** Layer self time: each span's duration minus what its child spans
    * cover, summed per layer; time in an op outside every span is the
    * benchmark's own ("bench"). */
  def selfTimes: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    val layers = spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))
        .sum / 1e9
    }
    val opNs = ops.map(_.ns).sum
    val topNs = spans.filter(_.parent < 0).map(s => s.endNs - s.startNs).sum
    layers + ("bench" -> (opNs - topNs) / 1e9)
  }

  /** Per-op-kind layer counters from the listener, the JVM and the
    * workload's own sums. Call after the listener bus has drained. */
  def perKind: Map[String, Map[String, Double]] = {
    val r = recorder
    val byTime = ops.sortBy(_.startMs)
    def opAt(t: Long): Option[OpRecord] =
      byTime.find(o => t >= o.startMs && t <= o.endMs)
    val stageOp = mutable.Map.empty[Int, OpRecord]
    val jobsPer = mutable.Map.empty[String, Int].withDefaultValue(0)
    r.jobs.foreach { j =>
      opAt(j.time).foreach { o =>
        jobsPer(o.kind) += 1
        j.stages.foreach(s => stageOp(s) = o)
      }
    }
    val stagesPer = r.stagesDone.flatMap(stageOp.get).groupBy(_.kind)
      .map { case (k, v) => k -> v.size }
    val tasksBy = r.tasks.flatMap(t => stageOp.get(t.stage).map(_ -> t))
      .groupBy(_._1.kind)
    OpKind.All.map { kind =>
      val kOps = ops.filter(_.kind == kind)
      val wall = kOps.map(_.ns).sum / 1e9
      val ts = tasksBy.getOrElse(kind, mutable.ArrayBuffer.empty).map(_._2)
      val busy = ts.map(t => t.finish - t.launch).sum / 1e3
      // wall time of each op during which no task of it was running
      val driverOnly = kOps.map { o =>
        val iv = tasksBy.getOrElse(kind, mutable.ArrayBuffer.empty)
          .collect { case (oo, t) if oo.id == o.id =>
            (math.max(t.launch, o.startMs), math.min(t.finish, o.endMs)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a >= end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        math.max(0.0, o.ns / 1e9 - covered / 1e3)
      }.sum
      val mb = 1024.0 * 1024.0
      val iters = extra((kind, "iter.iterations"))
      kind -> Map(
        "spark.jobs" -> jobsPer(kind).toDouble,
        "spark.stages" -> stagesPer.getOrElse(kind, 0).toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.driver_only_s" -> driverOnly,
        "spark.task_busy_s" -> busy,
        "spark.busy_frac" -> (if (wall > 0) busy / (wall * cores) else 0.0),
        "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
        "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
        "spark.input_mb" -> ts.map(_.input).sum / mb,
        "spark.output_mb" -> ts.map(_.output).sum / mb,
        "store.touched_bucket_frac" -> ratio(kind, "store.touched_buckets",
          "store.total_buckets"),
        "store.commit_files" -> extra((kind, "store.commit_files")),
        "store.commit_mb" -> extra((kind, "store.commit_bytes")) / mb,
        "incr.keys_changed_frac" -> ratio(kind, "incr.keys_changed",
          "incr.keys_total"),
        "iter.iterations" -> iters,
        "iter.s_per_iteration" ->
          (if (iters > 0) extra((kind, "iter.wall_s")) / iters else 0.0),
        "jvm.gc_s" -> kOps.map(_.gcMs).sum / 1e3,
        "jvm.codegen_compiles" -> kOps.map(_.codegen).sum.toDouble)
    }.toMap
  }

  private def ratio(kind: String, num: String, den: String): Double = {
    val d = extra((kind, den))
    if (d > 0) extra((kind, num)) / d else 0.0
  }
}

/** Metric names of a traced run, in report order. */
object PerLayer {
  private val Spark = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_only_s" -> "s",
    "spark.task_busy_s" -> "s", "spark.busy_frac" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB")
  private val Jvm = Seq("jvm.gc_s" -> "s", "jvm.codegen_compiles" -> "count")
  /** Recorded by the workloads around each delta commit. */
  private val Commit = Seq("store.touched_bucket_frac" -> "ratio",
    "store.commit_files" -> "count", "store.commit_mb" -> "MB",
    "incr.keys_changed_frac" -> "ratio")
  /** Recorded from `PageRank.run`'s result. */
  private val Iter = Seq("iter.iterations" -> "count",
    "iter.s_per_iteration" -> "s")
  /** Reads write no output, and compile no code after the warm-up
    * reads of set-up. */
  private val NotOnRead = Set("spark.output_mb", "jvm.codegen_compiles")
  /** (op kind, metric, unit): the listener's and the JVM's counters for
    * every kind, and the workloads' own figures only for the kinds
    * whose ops record them. */
  val Metrics: Seq[(String, String, String)] = OpKind.All.flatMap { kind =>
    val own = kind match {
      case "setup" | "refresh" => Commit
      case "recompute" => Iter
      case _ => Nil
    }
    (Spark ++ own ++ Jvm)
      .filterNot { case (m, _) => kind == "read" && NotOnRead(m) }
      .map { case (m, u) => (kind, m, u) }
  }
  /** Layers with a self-time metric; "bench" is the benchmark's own
    * driver code (generation, bookkeeping) inside ops. */
  val Layers: Seq[String] = Seq("streaming", "incremental", "iterative",
    "store", "text", "bench")
}

/** On-disk listing of store directories, for state size and for the
  * files a commit added. */
object Listing {
  def files(root: java.io.File): Map[String, Long] =
    if (!root.exists) Map.empty
    else if (root.isFile) Map(root.getPath -> root.length)
    else Option(root.listFiles).toSeq.flatten.flatMap(files).toMap

  def bytes(roots: Seq[String]): Long =
    roots.map(r => files(new java.io.File(r)).values.sum).sum

  /** (files, bytes) present in `after` but not in `before` (or resized). */
  def added(before: Map[String, Long], after: Map[String, Long])
      : (Int, Long) = {
    val fresh = after.filter { case (p, n) => !before.get(p).contains(n) }
    (fresh.size, fresh.values.sum)
  }
}
