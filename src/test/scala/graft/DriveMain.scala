package graft

import org.apache.spark.sql.SparkSession

/** Gate driver: runs the named [[SparkEntry]] queries over the
  * testdata dir (`GRAFT_SF_DIR`, default sf0.001) and prints each one's
  * row count and wall time; with `GRAFT_OUT` set, each result is also
  * written there as parquet.
  * `sbt "Test/runMain graft.DriveMain <query>..."` */
object DriveMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DriveMain <query>...")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.LogQuiet()
    val dir = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.foreach { n =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      val c = sys.env.get("GRAFT_OUT") match {
        case Some(out) =>
          df.write.mode("overwrite").parquet(s"$out/$n")
          spark.read.parquet(s"$out/$n").count()
        case None => df.count()
      }
      println(f"$n: $c rows, ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
