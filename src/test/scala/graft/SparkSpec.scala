package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites get
  * it lazily so sbt forks once). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
      // iterative driver loops emit fresh codegen classes every
      // iteration; the default 100-entry codegen cache thrashes and
      // recompilation dominates wall time (measured 5-8x slowdown)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    graft.util.LogQuiet()
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Run `f` with session SQL confs set, restoring the previous values
    * after (e.g. `spark.sql.autoBroadcastJoinThreshold` = −1 sends
    * store-mode One2One continuations down the distributed loop). */
  def withSqlConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The number of Spark jobs `f` runs. */
  def jobsOf(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; org.apache.spark.ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** The conf that turns the in-task path off. */
  val distributedLoop: (String, String) =
    "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** Deterministically empty the shared session's block store: catalog
    * caches AND raw RDD-level blocks (localCheckpoints — index builds
    * and delta pins create these; `clearCache` cannot see them and the
    * ContextCleaner reclaims them only when a GC happens to run, which
    * made absolute storage-emptiness assertions flaky as the suite
    * grew). Tests that create such blocks call this on exit; tests
    * that ASSERT emptiness call it on entry so they measure only the
    * operators under test.
    *
    * CAUTION: localCheckpoint blocks are the ONLY copy of their data
    * (lineage is truncated), so call this only when no live frame in
    * scope still depends on checkpointed/persisted state — a call
    * mid-test, while e.g. a PreservedState or a staged store
    * replacement frame is still unreleased, turns into a
    * "Checkpoint block not found" crash at the next action, far from
    * the cause. Entry/exit of a test (every current call site) is the
    * safe position. */
  def drainStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
