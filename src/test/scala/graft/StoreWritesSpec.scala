package graft

import java.nio.file.{Files, Path => NioPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.algorithms.IncrementalPageRank
import graft.core.SegmentedStateStore
import graft.operators.{NioLocalFileSystem, SegSwap}

/** Store writes through the engine's local filesystem
  * ([[NioLocalFileSystem]]: [[SegSwap.fsOf]] and
  * [[SegSwap.stageBuckets]]) against Hadoop's own. */
class StoreWritesSpec extends SparkSpec {
  import spark.implicits._

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → permission bits (sticky, setuid and setgid
    * included) of everything under `root`, with the random part of
    * Spark's file names masked. */
  private def modes(root: NioPath): Map[String, Int] = {
    val st = Files.walk(root)
    try st.iterator.asScala.filter(_ != root).map(p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f-]{27}", "<uuid>") -> mode(p)).toMap
    finally st.close()
  }

  private def fsWith(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  /** Creates files and directories through `fs` under a fresh dir: a
    * file with its `.crc`, a file with an explicit mode, a directory
    * chain, a directory with an explicit mode, one set to a mode with
    * the sticky bit, and a directory inside a setgid directory. */
  private def layout(fs: FileSystem, tag: String): NioPath = {
    val root = Files.createTempDirectory(s"graft_fsperm_$tag")
    val r = new Path(root.toUri)
    val out = fs.create(new Path(r, "a/b/part"), true)
    out.write(7); out.close()
    fs.create(new Path(r, "a/explicit"), new FsPermission("640"), true,
      4096, 1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(r, "c/d/e"))
    fs.mkdirs(new Path(r, "f"), new FsPermission("750"))
    fs.mkdirs(new Path(r, "sticky"))
    fs.setPermission(new Path(r, "sticky"),
      new FsPermission(Integer.parseInt("1755", 8).toShort))
    Files.createDirectory(root.resolve("g"))
    assert(new ProcessBuilder("chmod", "2775", root.resolve("g").toString)
      .start().waitFor() == 0)
    fs.mkdirs(new Path(r, "g/h"))
    root
  }

  for (umask <- Seq("022", "077"))
    test(s"files and directories get Hadoop's permissions under umask $umask") {
      val want = modes(layout(fsWith(new LocalFileSystem, umask), s"hadoop$umask"))
      val got = modes(layout(fsWith(new NioLocalFileSystem, umask), s"nio$umask"))
      assert(got == want)
      val u = Integer.parseInt(umask, 8)
      assert(got("a/b/part") == (Integer.parseInt("666", 8) & ~u))
      assert(got("a/b/.part.crc") == (Integer.parseInt("666", 8) & ~u))
      assert(got("c/d/e") == (Integer.parseInt("777", 8) & ~u))
      assert(got("sticky") == Integer.parseInt("1755", 8),
        "the sticky bit falls back to Hadoop's chmod")
    }

  test("a store written through the engine's filesystem equals one written through Hadoop's") {
    val edges0 = (0L until 60L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 60), (i, (i * 3 + 2) % 60))).filter(e => e._1 != e._2)
    val e1 = edges0.toDF("src", "dst")
    val e2 = (edges0 ++ Seq((3L, 50L), (61L, 4L))).toDF("src", "dst")
    def build(tag: String): String = {
      val rank = Files.createTempDirectory(s"graft_fsstore_$tag").toString
      IncrementalPageRank.preserveTo(spark, rank, e1, 0.8, iterations = 4,
        nBuckets = 8)
      IncrementalPageRank.incrementalSeg(spark, rank, e2,
        Seq(3L, 61L).toDF("src"), 0.8, iterations = 3)
        .unpersist(blocking = false)
      rank
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // the class Hadoop resolves for file: on this classpath
    val hadoopFs = FileSystem.getFileSystemClass("file", conf)
    val engine = build("engine")
    val hadoop = {
      val prev = SegSwap.localFsClass
      SegSwap.localFsClass = hadoopFs
      try build("hadoop") finally SegSwap.localFsClass = prev
    }
    def rowsByBucket(path: String, t: String) =
      spark.read.parquet(s"$path/$t").collect().map(_.toSeq)
        .groupBy(_.last).map { case (b, rs) => b -> rs.map(_.toString).sorted.toSeq }
    val (fsE, fsH) = (SegSwap.fsOf(spark, engine), SegSwap.fsOf(spark, hadoop))
    val epoch = SegSwap.currentEpoch(fsE, engine)
    assert(epoch == 1L && SegSwap.currentEpoch(fsH, hadoop) == epoch)
    for (t <- Seq("kvs", "out")) {
      assert(SegSwap.liveBuckets(fsE, engine, t) == SegSwap.liveBuckets(fsH, hadoop, t))
      assert(rowsByBucket(engine, t) == rowsByBucket(hadoop, t), s"$t rows per bucket")
      assert(SegSwap.changedBuckets(fsE, engine, t, 0L, 1L) ==
        SegSwap.changedBuckets(fsH, hadoop, t, 0L, 1L), s"$t changed buckets")
    }
    assert(modes(Paths.get(engine)) == modes(Paths.get(hadoop)),
      "file and directory permissions")
    // nothing session-wide changed: the session's file: filesystem is
    // still Hadoop's cached one, and its conf carries no override
    assert(hadoopFs != classOf[NioLocalFileSystem])
    assert(FileSystem.get(new java.net.URI("file:///"), conf).getClass == hadoopFs)
    assert(!conf.getBoolean("fs.file.impl.disable.cache", false))
    assert(SegSwap.fsOf(spark, engine).getClass == classOf[NioLocalFileSystem])
  }

  /** (file name, matched patterns, `path:line`) of every `src/main`
    * line matching one of `patterns`. */
  private def sourceHits(patterns: Seq[String]): List[(String, Seq[String], String)] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toList.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if patterns.exists(l.contains) =>
            (f.getFileName.toString, patterns.filter(l.contains), s"$f:${i + 1}")
        }
      } finally files.close()
  }

  test("store buckets are written and filesystems chosen only in SegSwap") {
    // every bucketed store write goes through SegSwap.stageBuckets and
    // every engine filesystem through SegSwap.fsOf; a direct write or
    // getFileSystem call elsewhere would bring back a chmod process per
    // created file
    val hits = sourceHits(Seq("partitionBy(\"_b\")", ".getFileSystem("))
    assert(hits.map(h => (h._1, h._2)).sortBy(_._2.head) ==
      Seq("SegSwap.scala" -> Seq(".getFileSystem("),
        "SegSwap.scala" -> Seq("partitionBy(\"_b\")")),
      hits.map(_._3).mkString("\n"))
  }

  test("store lifecycle ops are called only from SegStore") {
    // rollback, export and rebucket live once, in SegStore; a store
    // calling them itself would be a new copy of the lifecycle
    val hits = sourceHits(Seq("SegSwap.rollbackTo(", "SegSwap.exportSnapshot(",
      "augmentFromStaging = true"))
    assert(hits.map(_._1).toSet == Set("SegStore.scala") && hits.size == 3,
      hits.map(_._3).mkString("\n"))
  }

  test("frames are pinned only through GraftSqlShim.pin and released by Pins") {
    // one pin call and one release scope: a second materializer or a
    // local release buffer would be a new copy of the pin lifecycle
    val pinHits = sourceHits(Seq("checkpointedLeaf", "IncrMat",
      "ListBuffer.empty[() => Unit]", "def mat(", "def mat[", "def pin(",
      "def pin["))
      .filterNot(h => Set("GraftSqlShim.scala", "Pins.scala").contains(h._1))
    assert(pinHits.isEmpty, pinHits.map(_._3).mkString("\n"))
    // bucket predicates go through SegStore.inBuckets. The sites left
    // can see an empty bucket set, where inBuckets' lit(false) lets
    // Catalyst drop the scan and its jobs: a rollback restoring no
    // bucket, and IVF probes of an empty query set
    val inHits = sourceHits(Seq("col(\"_b\").isin("))
    assert(inHits.map(_._1).sorted == Seq("Pq.scala", "SegStore.scala",
      "SegSwap.scala", "Similarity.scala"), inHits.map(_._3).mkString("\n"))
  }
}
