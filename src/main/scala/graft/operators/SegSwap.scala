package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The journaled touched-bucket swap shared by every segmented durable
  * store ([[DupSpansStore]], [[LmCountsStore]]): state tables live as
  * Parquet partitioned by a bucket column `_b`, a continuation stages
  * replacement content for ONLY the touched buckets, and one
  * atomically-renamed journal is the commit point for the multi-table
  * install. Contract (single concurrent writer, any number of readers):
  *
  *  - [[commit]] stages every table's touched buckets under
  *    `seg_staging/`, writes the journal (tmp + rename — a torn write
  *    can never masquerade as a commit), then rolls forward;
  *  - [[recover]] (WRITER-only) finishes an interrupted swap: a
  *    committed journal rolls FORWARD (staged dirs renamed in, "empty"
  *    buckets deleted; idempotent — a missing staged dir means its
  *    rename already happened), no journal rolls BACK (live state
  *    untouched, staging discarded);
  *  - READERS resolve the journal non-destructively via
  *    [[resolvedTable]] (staged dirs read in place, nothing renamed or
  *    deleted) — so concurrent readers can never race each other's
  *    roll-forward or discard a writer's pre-journal staging
  *    ([[Similarity.updateIvfIndex]]'s reader/writer lesson);
  *  - a malformed journal line aborts with the store untouched;
  *  - every commit advances the store's EPOCH, and the files an install
  *    replaces are RETIRED (renamed under `seg_retired/e=<epoch>/`)
  *    instead of deleted, so [[snapshotTable]] serves a consistent
  *    as-of-epoch view of any epoch inside the retention horizon
  *    ([[retentionOf]], default [[DefaultRetainEpochs]]) — the
  *    mechanical answer to the old "readers between, not during,
  *    commits" caveat: a commit no longer destroys the pre-commit
  *    view, so a reader overtaken by one RE-RESOLVES its epoch (one
  *    metadata pass) instead of losing it. Retire is one O(1) rename per touched
  *    bucket and retained bytes are the SUM OF THE LAST K DELTAS (not
  *    K store copies), so the horizon is cheap at 100 TB; epochs past
  *    it are garbage-collected at the next commit;
  *  - the single-writer contract is MECHANICAL, not just documented:
  *    writer entry points take a [[acquireLease]] writer lease (epoch-
  *    numbered lock file) — a second concurrent writer fails loudly at
  *    entry instead of deleting the first's staging mid-commit, a
  *    crashed writer's lease expires after a TTL and is taken over
  *    with a higher epoch, and [[commit]] re-checks the lease epoch
  *    right before the journal rename so a writer that stalled past
  *    its TTL (and was taken over) aborts instead of clobbering the
  *    successor's state (epoch fencing).
  */
private[graft] object SegSwap {

  private val Staging = "seg_staging"
  private val Journal = "seg_swap_journal"
  private val Lease = "seg_writer_lease"
  private val Retired = "seg_retired"
  private val Snapshots = "seg_snapshots"
  private val Pins = "seg_pins"
  private val EpochFile = "seg_epoch"
  private val RetainFile = "seg_retain"
  private val FloorFile = "seg_floor"
  // bucket ids may be negative (range bucketing of negative ids);
  // state "dir" swaps a whole un-bucketed directory (bucket field
  // ignored — params migration during a rebucket)
  private val JournalLine = """^([A-Za-z0-9_]+) (-?\d+) (staged|empty|dir)$""".r
  // optional journal header carrying the commit's epoch (absent on
  // journals written before the snapshot layer — resolved as
  // installed-epoch + 1)
  private val EpochHeader = """^epoch (\d+)$""".r

  /** The filesystem of `path` for the engine's own store I/O. A local
    * path (`file:`, or scheme-less under a local default FS) gets
    * [[NioLocalFileSystem]], which creates files and directories
    * without a `chmod` process each; one instance per Hadoop conf, like
    * Hadoop's own cache. Any other scheme gets Hadoop's filesystem for
    * it. The session's cached `file:` filesystem is left as it is. */
  def fsOf(spark: SparkSession, path: String): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    if (!isLocal(p, conf)) p.getFileSystem(conf)
    else synchronized {
      val cls = localFsClass
      if (!(localFs._1 eq conf) || localFs._2.getClass != cls) {
        val fs = cls.getDeclaredConstructor().newInstance()
        fs.initialize(java.net.URI.create("file:///"), conf)
        localFs = (conf, fs)
      }
      localFs._2
    }
  }
  private var localFs: (Configuration, FileSystem) = (null, null)

  /** The local filesystem class of [[fsOf]] and the store table writes.
    * Specs set the class Hadoop resolves for `file:` to compare a store
    * written the forking way. */
  @volatile private[graft] var localFsClass: Class[_ <: FileSystem] =
    classOf[NioLocalFileSystem]

  private def isLocal(p: HPath, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The write of one bucket-partitioned store table: `df` (carrying
    * the bucket column `_b`) repartitioned on `_b`, so each bucket is
    * one task's contiguous file instead of tasks × buckets small files,
    * overwriting `dir` as one parquet dir per bucket. The frame is
    * built here, on the caller's thread (thread-local analyzer confs
    * apply); the returned thunk runs the write, so independent table
    * writes can overlap through [[graft.util.Par]].
    *
    * A local `dir` is written through [[NioLocalFileSystem]]: the
    * write's own options carry `fs.file.impl` and disable the
    * filesystem cache for it, and Spark folds write options into that
    * write job's Hadoop conf only. */
  private[graft] def stageBuckets(df: DataFrame, dir: String): () => Unit = {
    val w = localWriter(df.repartition(col("_b")), dir)
    () => w.partitionBy("_b").parquet(dir)
  }

  /** [[stageBuckets]], run now. */
  private[graft] def writeBuckets(df: DataFrame, dir: String): Unit =
    stageBuckets(df, dir)()

  /** The write of one un-bucketed store table (centroids, codebooks, a
    * durable loop segment): `df` overwriting `dir` as parquet, through
    * [[NioLocalFileSystem]] like [[stageBuckets]]. */
  private[graft] def writeTable(df: DataFrame, dir: String): Unit =
    localWriter(df, dir).parquet(dir)

  private def localWriter(df: DataFrame, dir: String) = {
    val local = isLocal(new HPath(dir), df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").options(if (!local) Map.empty[String, String]
      else Map("fs.file.impl" -> localFsClass.getName,
        "fs.file.impl.disable.cache" -> "true"))
  }

  /** Cast an id column to the store's PINNED type before hashing.
    * Bucket functions hash the id's physical representation
    * (`xxhash64(int 5)` ≠ `xxhash64(long 5)`), so a continuation whose
    * delta carries a different id dtype than the init corpus would
    * compute different buckets and silently strand stale rows in
    * buckets that are never read or evicted. Pinning the DDL at init
    * and casting every incoming id to it makes bucket placement
    * dtype-independent; an uncastable dtype fails loudly. */
  private[graft] def castToPinned(df: DataFrame, c: String,
      pinnedDdl: String, what: String): DataFrame = {
    val t = StructType.fromDDL(s"x $pinnedDdl").head.dataType
    val in = df.schema(c).dataType
    require(org.apache.spark.sql.catalyst.expressions.Cast.canCast(in, t),
      s"segswap: $what id column '$c' has dtype ${in.sql}, which cannot " +
        s"cast to the store's pinned id dtype $pinnedDdl")
    if (in == t) df else df.withColumn(c, col(c).cast(t))
  }

  /** Reset a store directory for a fresh [[init]]: remove the params
    * marker FIRST (its absence marks the store incomplete — a crash
    * mid-init can then never read as a complete-but-inconsistent
    * store), plus any stale journal/staging/lease from a previous
    * life. */
  private[graft] def resetForInit(fs: FileSystem, path: String,
      paramsDir: String = "params"): Unit = {
    fs.delete(new HPath(s"$path/$paramsDir"), true)
    fs.delete(new HPath(s"$path/$Journal"), false)
    fs.delete(new HPath(s"$path/$Staging"), true)
    fs.delete(new HPath(s"$path/$Lease"), false)
    // a re-init starts a new store life: its epoch line restarts at 0
    // and snapshots of the previous life are gone by definition
    fs.delete(new HPath(s"$path/$Retired"), true)
    fs.delete(new HPath(s"$path/$Snapshots"), true)
    fs.delete(new HPath(s"$path/$EpochFile"), false)
    fs.delete(new HPath(s"$path/$RetainFile"), false)
    fs.delete(new HPath(s"$path/$FloorFile"), false)
  }

  // ---- small atomic text-file helpers (lease, epoch, manifests) ---------

  private[graft] def readText(fs: FileSystem, p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** tmp + OVERWRITING rename — a torn write can never masquerade as
    * the file, and an existing destination is replaced with NO
    * missing-file window: concurrent readers of epoch/floor/retention
    * markers must never observe absence mid-overwrite (it reads as the
    * 0 default — a spurious "fresh store" during a writer's
    * roll-forward; round-10 advice).
    *
    * Local FS: POSIX rename(2) via java.nio ATOMIC_MOVE+REPLACE
    * (measured on this platform: 0 missing reads across 8.6M
    * concurrent polls of 20k overwrites, where Hadoop's
    * delete-then-rename shows ~1% and FileContext's local OVERWRITE —
    * delete-based under the hood — ~23%). The nio path bypasses the
    * checksum layer, so it also drops any legacy `.crc` sidecar a
    * previous fs-level write left (a stale sidecar would fail
    * verification against the new bytes; absent sidecars read
    * unverified, which is fine for single-line markers validated by
    * parse).
    *
    * Remote FS (HDFS & co): FileContext's OVERWRITE rename is atomic
    * namenode-side; clusters without FileContext support fall back to
    * delete+rename, where the window exists but is bounded by two
    * metadata ops of the single fenced writer. */
  private[graft] def writeTextAtomic(fs: FileSystem, dst: String,
      text: String): Unit = {
    val d = new HPath(dst)
    val tmp = new HPath(dst + ".tmp")
    val scheme = fs.getUri.getScheme
    if (scheme == null || scheme == "file") {
      val dNio = java.nio.file.Paths.get(d.toUri.getPath)
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      if (dNio.getParent != null)
        java.nio.file.Files.createDirectories(dNio.getParent)
      java.nio.file.Files.write(tmpNio, text.getBytes("UTF-8"))
      // drop legacy sidecars BEFORE the move: old bytes merely read
      // unverified, whereas new-bytes-against-stale-crc would throw a
      // ChecksumException in exactly the concurrent reader this path
      // protects
      if (dNio.getParent != null) {
        java.nio.file.Files.deleteIfExists(
          dNio.getParent.resolve("." + dNio.getFileName + ".crc"))
        java.nio.file.Files.deleteIfExists(
          dNio.getParent.resolve("." + dNio.getFileName + ".tmp.crc"))
      }
      java.nio.file.Files.move(tmpNio, dNio,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      if (d.getParent != null) fs.mkdirs(d.getParent)
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      def fallbackRename(): Unit = {
        fs.delete(d, false)
        require(fs.rename(tmp, d), s"segswap: could not write $dst")
      }
      try org.apache.hadoop.fs.FileContext.getFileContext(d.toUri, fs.getConf)
        .rename(tmp, d, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: UnsupportedOperationException => fallbackRename()
        case e: java.io.IOException =>
          // the namenode rename may have SUCCEEDED with the client
          // seeing a transient failure: blindly running delete(dst)+
          // rename(tmp) then deletes the freshly-installed marker and
          // the tmp rename fails (tmp already consumed), leaving the
          // marker ABSENT — the spurious fresh-store read this writer
          // exists to prevent. Verify before falling back: tmp consumed
          // and dst present = the rename took effect, we are done; tmp
          // still present = the rename verifiably did not install, the
          // delete+rename path is safe; neither = unrecoverable here.
          if (!fs.exists(tmp) && fs.exists(d)) ()
          else if (fs.exists(tmp)) fallbackRename()
          else throw e
      }
    }
  }

  // ---- writer lease (epoch-fenced single-writer enforcement) ------------

  private val LeaseLine = """^(\d+) (\d+)$""".r

  /** Default lease TTL: long enough for any continuation at test and
    * bench scales; a production deploy tunes it to its slowest
    * expected continuation (too short → spurious takeovers, fenced by
    * [[checkFence]]; too long → a crashed writer blocks successors
    * for the TTL). */
  private[graft] val DefaultLeaseTtlMs: Long = 30L * 60 * 1000

  private def readLeaseFile(fs: FileSystem,
      path: String): Option[(Long, Long)] = {
    val lp = new HPath(s"$path/$Lease")
    if (!fs.exists(lp)) None
    else {
      val in = fs.open(lp)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      text match {
        case LeaseLine(e, t) => Some((e.toLong, t.toLong))
        // a torn lease (the rename-based write makes this corruption,
        // not an expected state) reads as epoch 0 at time 0: always
        // stale, so the next writer takes over at epoch 1+
        case _ => Some((0L, 0L))
      }
    }
  }

  /** Take the writer lease on `path` or fail loudly. The lease file
    * carries `epoch timestampMs`; a live lease (age ≤ ttl) rejects the
    * caller — the SINGLE-writer contract enforced mechanically instead
    * of by convention — while a stale one (crashed writer) is taken
    * over with epoch+1. The acquire itself is check-then-rename (not
    * atomic across hosts on a raw FS): it deterministically catches
    * accidental concurrent writers, the failure mode the contract
    * guards; it is not a Byzantine-proof distributed lock. Returns the
    * held epoch — pass it to [[commit]] as `fence`. */
  private[graft] def acquireLease(fs: FileSystem, path: String,
      ttlMs: Long = DefaultLeaseTtlMs): Long = {
    val now = System.currentTimeMillis()
    readLeaseFile(fs, path) match {
      case Some((epoch, ts)) if now - ts <= ttlMs =>
        throw new IllegalStateException(
          s"segswap: another writer holds the lease on $path (epoch " +
            s"$epoch, age ${now - ts} ms, ttl $ttlMs ms) — the store " +
            "contract is single concurrent writer; wait for it, or if " +
            s"it is known dead delete $path/$Lease")
      case other =>
        val epoch = other.map(_._1 + 1).getOrElse(1L)
        val tmp = new HPath(s"$path/$Lease.tmp")
        val dst = new HPath(s"$path/$Lease")
        val out = fs.create(tmp, true)
        try out.write(s"$epoch $now".getBytes("UTF-8")) finally out.close()
        fs.delete(dst, false)
        require(fs.rename(tmp, dst),
          s"segswap: could not install writer lease $dst")
        epoch
    }
  }

  /** Is a writer lease on `path` currently live (present and within
    * TTL)? Read-only — used by [[StoreTxn]]'s owner-marker fence to
    * decide whether a marker's owning coordinator can still be
    * running. */
  private[graft] def leaseLive(fs: FileSystem, path: String,
      ttlMs: Long = DefaultLeaseTtlMs): Boolean = {
    val now = System.currentTimeMillis()
    readLeaseFile(fs, path).exists { case (_, ts) => now - ts <= ttlMs }
  }

  /** Release the lease IF still held at our epoch (a takeover's lease
    * is never deleted by the fenced-out writer). Idempotent. */
  private[graft] def releaseLease(fs: FileSystem, path: String,
      epoch: Long): Unit =
    if (readLeaseFile(fs, path).exists(_._1 == epoch))
      fs.delete(new HPath(s"$path/$Lease"), false)

  /** Epoch fence: abort unless the lease file still carries `epoch`.
    * Called by [[commit]] immediately before the journal rename (the
    * commit point) — a writer that stalled past its TTL and was taken
    * over fails HERE, with its staging discarded by the successor's
    * recover, instead of installing a stale journal over the
    * successor's state. */
  private[graft] def checkFence(fs: FileSystem, path: String, epoch: Long): Unit = {
    val held = readLeaseFile(fs, path)
    require(held.exists(_._1 == epoch),
      s"segswap: writer fenced out on $path — the lease is now " +
        s"${held.map(h => s"epoch ${h._1}").getOrElse("released")}, this " +
        s"writer held epoch $epoch (its lease expired and was taken " +
        "over); aborting before the journal so the new writer's state " +
        "is untouched")
  }

  /** Acquire → run → release (release skipped by a takeover's fence;
    * a crashed JVM leaves the lease to expire via TTL). Writer entry
    * points (`continueAt`/`rebucket`/`compact`) wrap their whole
    * recover-stage-commit span in this. */
  private[graft] def withWriterLease[T](spark: SparkSession, path: String,
      ttlMs: Long = DefaultLeaseTtlMs)(body: Long => T): T = {
    val fs = fsOf(spark, path)
    val epoch = acquireLease(fs, path, ttlMs)
    try body(epoch) finally releaseLease(fs, path, epoch)
  }

  // ---- epochs, retention, snapshot manifests ----------------------------

  /** Epochs retained for [[snapshotTable]] by default: the current
    * install plus this many predecessors stay readable. Retained bytes
    * are the sum of the last K deltas (each commit retires only its
    * touched buckets), so a small K is cheap even at 100 TB; a store
    * that needs longer time travel raises it via [[setRetention]] and a
    * store that wants the pre-snapshot disk profile sets 0. */
  private[graft] val DefaultRetainEpochs: Int = 2

  /** Installed epoch (commits fully rolled forward). 0 = fresh store. */
  private def installedEpoch(fs: FileSystem, path: String): Long =
    readText(fs, new HPath(s"$path/$EpochFile"))
      .map(_.trim.toLong).getOrElse(0L)

  /** The store's current epoch as READERS see it: a committed-but-not-
    * installed journal already IS the next epoch (readers resolve its
    * content via [[resolvedTable]]). */
  def currentEpoch(fs: FileSystem, path: String): Long =
    journalRaw(fs, path) match {
      case Some((epoch, _)) => epoch
      case None => installedEpoch(fs, path)
    }

  /** Persist a non-default retention horizon for the store. */
  def setRetention(fs: FileSystem, path: String, epochs: Int): Unit = {
    require(epochs >= 0, s"segswap: negative retention $epochs")
    writeTextAtomic(fs, s"$path/$RetainFile", epochs.toString)
  }

  def retentionOf(fs: FileSystem, path: String): Int =
    readText(fs, new HPath(s"$path/$RetainFile"))
      .map(_.trim.toInt).getOrElse(DefaultRetainEpochs)

  /** Bucket-set manifest of `table` as of `epoch` (one `e=<epoch>/
    * <table>` text file per commit that touched the table, written by
    * the roll-forward). A manifest stays authoritative for every later
    * epoch until the table's next touch; [[gcRetired]] prunes each
    * table to the horizon plus the one pre-horizon manifest that rule
    * still needs. */
  private def writeManifest(fs: FileSystem, path: String, epoch: Long,
      table: String, buckets: Set[Int]): Unit =
    writeTextAtomic(fs, s"$path/$Snapshots/e=$epoch/$table",
      buckets.toSeq.sorted.mkString("\n"))

  private def manifestEpochsFor(fs: FileSystem, path: String,
      table: String): Seq[Long] = {
    val root = new HPath(s"$path/$Snapshots")
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("e=") => n.stripPrefix("e=").toLong }
      .filter(e => fs.exists(new HPath(s"$path/$Snapshots/e=$e/$table")))
      .sorted
  }

  private def readManifest(fs: FileSystem, path: String, epoch: Long,
      table: String): Set[Int] =
    readText(fs, new HPath(s"$path/$Snapshots/e=$epoch/$table"))
      .map(_.linesIterator.filter(_.nonEmpty).map(_.trim.toInt).toSet)
      .getOrElse(Set.empty)

  /** The bucket set of `table` as of `epoch`: the latest manifest at or
    * before `epoch`; with none (the table untouched up to `epoch`), the
    * EARLIEST later manifest (its bootstrap twin — [[commit]] records
    * the pre-state of a table's first touch, so this is the set that
    * held unchanged since init); with no manifests at all (never
    * touched by any commit), the live listing is valid for every epoch. */
  private def bucketsAt(fs: FileSystem, path: String, table: String,
      epoch: Long): Set[Int] = {
    val eps = manifestEpochsFor(fs, path, table)
    eps.filter(_ <= epoch).lastOption.orElse(eps.headOption) match {
      case Some(m) => readManifest(fs, path, m, table)
      case None => liveBuckets(fs, path, table)
    }
  }

  private def retiredEpochs(fs: FileSystem, path: String): Seq[Long] = {
    val root = new HPath(s"$path/$Retired")
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("e=") => n.stripPrefix("e=").toLong }
      .sorted
  }

  /** Bucket ids commit `epoch` RETIRED for `table` — the pre-images it
    * replaced (or dropped). Empty when the commit never touched it. */
  private def retiredBucketsOf(fs: FileSystem, path: String, epoch: Long,
      table: String): Set[Int] = {
    val dir = new HPath(s"$path/$Retired/e=$epoch/$table")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("_b=") =>
        s.stripPrefix("_b=").toInt }.toSet
  }

  /** Buckets of `table` whose content CAN differ between committed
    * epochs `a` ≤ `b`: every bucket some commit in (a, b] replaced or
    * dropped (its pre-image sits in that commit's retired dir) plus
    * buckets created between the epochs' manifests. Everything else
    * provably held its exact files across the interval, so an
    * epoch-to-epoch audit (diff) prunes to this set. Sound under
    * rebucket/compact too — those commits replace every bucket, so the
    * set degenerates to all of them (no pruning, still correct). */
  private[graft] def changedBuckets(fs: FileSystem, path: String,
      table: String, a: Long, b: Long): Set[Int] = {
    val replaced = retiredEpochs(fs, path).filter(f => f > a && f <= b)
      .flatMap(f => retiredBucketsOf(fs, path, f, table)).toSet
    val atA = bucketsAt(fs, path, table, a)
    val atB = bucketsAt(fs, path, table, b)
    replaced ++ (atB -- atA) ++ (atA -- atB)
  }

  // ---- reader pins (GC fences for long snapshot reads) ------------------

  /** Default pin TTL: long enough for any single audit/diff/export read
    * of a snapshot; a pin is a READER liveness claim, so like the
    * writer lease it expires rather than wedging GC forever when its
    * holder dies. */
  private[graft] val DefaultPinTtlMs: Long = 60L * 60 * 1000

  /** Min pinned epoch among unexpired pins (lazily deleting expired
    * pin files — the pin twin of the lease's stale-takeover). */
  private def pinnedFloor(fs: FileSystem, path: String,
      excluding: Option[String] = None): Option[Long] = {
    val root = new HPath(s"$path/$Pins")
    if (!fs.exists(root)) return None
    val nowMs = System.currentTimeMillis()
    val live = fs.listStatus(root).toSeq.flatMap { st =>
      val token = st.getPath.getName
      if (token.endsWith(".tmp") || excluding.contains(token)) None
      else readText(fs, st.getPath).flatMap { text =>
        text.trim.split(" ") match {
          case Array(e, exp) if exp.toLong >= nowMs => Some(e.toLong)
          case _ => fs.delete(st.getPath, false); None // expired/torn
        }
      }
    }
    if (live.isEmpty) None else Some(live.min)
  }

  /** PIN `epoch` against GC: while an unexpired pin at P exists, every
    * retired epoch > P (and the manifests that resolve it) survives
    * roll-forward GC, so ALL epochs ≥ P stay snapshot-readable no
    * matter how many commits land during the read — the missing half
    * of the reader contract (a pin-less long read races the writer's
    * per-commit GC once `retention` commits pass it). Pin-then-verify:
    * the pin file lands first, THEN the epoch is re-checked against
    * the horizon — if it already fell past (or falls past between the
    * two steps, in which case GC could not yet have seen the pin but
    * may have collected the files), the pin is withdrawn and the call
    * fails loudly, never handing out a claim on collected files.
    * Returns the pin token for [[releasePin]]. */
  def pinEpoch(fs: FileSystem, path: String, epoch: Long,
      ttlMs: Long = DefaultPinTtlMs): String = {
    val now = currentEpoch(fs, path)
    require(epoch <= now,
      s"segswap: cannot pin future epoch $epoch of $path (current $now)")
    val token = s"p-${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    writeTextAtomic(fs, s"$path/$Pins/$token",
      s"$epoch ${System.currentTimeMillis() + ttlMs}")
    // floor re-check AFTER the pin file lands (the truncation twin of
    // pin-then-verify): a pin racing truncateHistory's floor write
    // self-withdraws here, so no pin below the floor ever survives
    val floor = historyFloorOf(fs, path)
    if (epoch < floor) {
      fs.delete(new HPath(s"$path/$Pins/$token"), false)
      sys.error(s"segswap: epoch $epoch of $path is below the history " +
        s"floor ($floor) — history was truncated (deletion scrub); " +
        "epochs below it are not reconstructible")
    }
    val horizon = currentEpoch(fs, path) - retentionOf(fs, path)
    if (epoch < horizon &&
        !pinnedFloor(fs, path, excluding = Some(token)).exists(_ <= epoch)) {
      fs.delete(new HPath(s"$path/$Pins/$token"), false)
      sys.error(s"segswap: epoch $epoch of $path is already past the " +
        s"retention horizon ($horizon) and no earlier pin covers it — " +
        "pin before the epoch leaves the horizon (or raise retention)")
    }
    token
  }

  /** Release a pin token (idempotent; an unreleased pin expires via
    * its TTL). */
  def releasePin(fs: FileSystem, path: String, token: String): Unit = {
    val _ = fs.delete(new HPath(s"$path/$Pins/$token"), false)
  }

  /** Drop retired epochs past the retention horizon, and prune each
    * table's manifests to the horizon too — per table, everything
    * strictly older than the latest manifest at-or-before the cut goes
    * (that one stays authoritative for every still-readable epoch), so
    * a long-lived store carries O(horizon) manifests per table, not
    * O(#commits). Runs at the end of every roll-forward. */
  private def gcRetired(fs: FileSystem, path: String, epoch: Long): Unit = {
    // a pin at P needs every retired epoch > P (reading E ≥ P uses
    // the first retiring commit AFTER E, never E's own), so the cut
    // backs off to the pinned floor
    val cut0 = epoch - retentionOf(fs, path)
    val cut = pinnedFloor(fs, path) match {
      case Some(p) => math.min(cut0, p)
      case None => cut0
    }
    gcRetiredAt(fs, path, cut)
  }

  private def gcRetiredAt(fs: FileSystem, path: String, cut: Long): Unit = {
    retiredEpochs(fs, path).filter(_ <= cut).foreach { e =>
      fs.delete(new HPath(s"$path/$Retired/e=$e"), true)
    }
    val snapRoot = new HPath(s"$path/$Snapshots")
    if (fs.exists(snapRoot)) {
      val eps = fs.listStatus(snapRoot).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("e=") => n.stripPrefix("e=").toLong }
      val byTable = eps.flatMap { e =>
        fs.listStatus(new HPath(s"$path/$Snapshots/e=$e")).toSeq
          .filterNot(_.getPath.getName.endsWith(".tmp"))
          .map(s => (s.getPath.getName, e))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      byTable.foreach { case (table, ms) =>
        val keepFloor = ms.filter(_ <= cut).lastOption.getOrElse(Long.MinValue)
        ms.filter(_ < keepFloor).foreach { m =>
          fs.delete(new HPath(s"$path/$Snapshots/e=$m/$table"), false)
        }
      }
      // drop epoch dirs emptied by the per-table pruning
      eps.foreach { e =>
        val d = new HPath(s"$path/$Snapshots/e=$e")
        if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, true)
      }
    }
  }

  /** Retired epochs in (`epoch`, current] that replaced ≥90% of some
    * table's buckets as of `epoch` — the signature of a lifecycle
    * commit (rebucket/compact/respan; a genuinely store-wide delta
    * matches too, and earns the same advice). A [[rollbackTo]] across
    * one of these restages the whole store, not just the poisoned
    * delta's buckets. O(#retired × #tables) text-manifest reads. */
  private[graft] def wholeStoreCommitsSince(fs: FileSystem, path: String,
      epoch: Long, tables: Seq[String]): Seq[Long] = {
    val atE = tables.map(n => n -> bucketsAt(fs, path, n, epoch)).toMap
    retiredEpochs(fs, path).filter(_ > epoch).filter { f =>
      tables.exists { n =>
        val base = atE(n)
        base.size >= 4 && retiredBucketsOf(fs, path, f, n)
          .intersect(base).size >= math.ceil(base.size * 0.9)
      }
    }
  }

  /** PUBLISH a consistent as-of view of the store: copy `tables`'
    * bucket files exactly as of `epoch` (and each of `dirTables`' dirs,
    * e.g. `params`) into `dst`, which becomes a FRESH STANDALONE store
    * — readable, continuable, epoch 0, carrying none of the source's
    * history. This is the model-versioning publish step: freeze
    * yesterday's LM/TF-IDF state to a serving path while the source
    * keeps taking continuations.
    *
    * Reader-side: the source is never mutated, and the whole copy is
    * GC-fenced by a reader pin (which also rejects epochs below the
    * history floor or past the unpinned retention horizon — the same
    * loud guards as any snapshot read). Only INSTALLED epochs export:
    * a committed-but-uninstalled journal's bucket manifests don't
    * exist yet, so callers racing a writer re-run after the next
    * install (or after `recover`). File-level copy: no decode, no
    * shuffle, O(store bytes at epoch) sequential I/O. */
  def exportSnapshot(spark: SparkSession, src: String, epoch: Long,
      dst: String, tables: Seq[String], dirTables: Seq[String]): Unit = {
    val fs = fsOf(spark, src)
    val installed = installedEpoch(fs, src)
    require(epoch <= installed,
      s"segswap: cannot export epoch $epoch of $src — only installed " +
        s"epochs (<= $installed) are exportable; recover() or wait for " +
        "the pending journal's roll-forward first")
    val dfs = fsOf(spark, dst)
    require(!dfs.exists(new HPath(dst)) ||
        dfs.listStatus(new HPath(dst)).isEmpty,
      s"segswap: export destination $dst is not empty")
    // race sentinels captured BEFORE the copy: installedEpoch catches a
    // PRE-EXISTING journal rolling forward mid-copy (its install renames
    // live files without advancing currentEpoch); currentEpoch — which
    // counts a committed-but-uninstalled journal as the next epoch —
    // catches a NEW commit whose journal rename lands before any install
    // rename, so an install whose seg_epoch write trails the final check
    // is still visible as an advanced currentEpoch (round-10 advice).
    val startInstalled = installed
    val startCurrent = currentEpoch(fs, src)
    val token = pinEpoch(fs, src, epoch)
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      def copy(sp: String, dp: String): Unit =
        require(org.apache.hadoop.fs.FileUtil.copy(fs, new HPath(sp),
          dfs, new HPath(dp), false, conf),
          s"segswap: export copy $sp -> $dp failed")
      tables.foreach { name =>
        bucketSources(fs, src, name, epoch).foreach { case (base, bs) =>
          bs.foreach(b => copy(s"$base/_b=$b", s"$dst/$name/_b=$b"))
        }
        // a legitimately-empty table still needs its dir: the export's
        // readers (resolvedTable) treat a missing dir as an error, an
        // empty one as an empty frame — same as the source
        dfs.mkdirs(new HPath(s"$dst/$name"))
      }
      dirTables.foreach { n =>
        copy(snapshotDirPath(fs, src, n, epoch), s"$dst/$n")
      }
      // the pin fences GC, not INSTALLS: a commit rolling forward during
      // the copy renames live files this export resolved, and a
      // file-level copy that hits the fresh file reads post-epoch
      // content with no error signal (snapshotTable re-resolves; a copy
      // cannot). Verify BOTH sentinels and refuse a mixed-epoch export
      // rather than publish.
      if (installedEpoch(fs, src) != startInstalled ||
          currentEpoch(fs, src) != startCurrent) {
        dfs.delete(new HPath(dst), true)
        sys.error(s"segswap: export of epoch $epoch of $src raced a " +
          "writer install — the copied files may mix epochs; the " +
          "partial export was deleted, retry")
      }
    } finally releasePin(fs, src, token)
  }

  /** Oldest epoch whose as-of view is still reconstructible. 0 (every
    * epoch since init) unless [[truncateHistory]] deliberately scrubbed
    * history — deletion propagation must make purged rows GONE from
    * disk, and the retired/snapshot layer retains exactly the
    * pre-deletion bucket files a plain continuation would hide. */
  def historyFloorOf(fs: FileSystem, path: String): Long =
    readText(fs, new HPath(s"$path/$FloorFile"))
      .map(_.trim.toLong).getOrElse(0L)

  /** DESTROY the store's time-travel history: every retired epoch is
    * deleted (not renamed) and the floor is raised to the current
    * epoch, so snapshot reads, rollbacks, and pins below it fail
    * loudly instead of silently reading live content for a
    * since-replaced bucket. This is the scrub half of deletion
    * propagation ([[Forget]]): a removal continuation takes purged
    * rows out of the LIVE view, but their bytes survive in
    * `seg_retired/` until the horizon passes — a right-to-be-forgotten
    * sweep must collapse that history at the delete, not K commits
    * later. Refuses while a reader pin is live (the pin IS the claim
    * those files stay readable); a pin racing the floor write
    * self-withdraws via [[pinEpoch]]'s post-write floor re-check.
    * History restarts above the floor: commits after the truncation
    * retire and time-travel normally. */
  def truncateHistory(spark: SparkSession, path: String): Unit =
    withWriterLease(spark, path) { _ =>
      recover(spark, path) // install any pending swap; live dirs = truth
      val fs = fsOf(spark, path)
      val now = installedEpoch(fs, path)
      val prior = historyFloorOf(fs, path)
      def failPinned(p: Long): Nothing =
        sys.error(s"segswap: cannot truncate history of $path — a " +
          s"reader pin holds epoch $p; wait for its release or TTL")
      // pre-check BEFORE the floor lands: an already-pinned long read
      // must never even transiently see "below the history floor" from
      // a truncation that is about to abort on its pin
      pinnedFloor(fs, path).filter(_ < now).foreach(failPinned)
      writeTextAtomic(fs, s"$path/$FloorFile", now.toString)
      // re-check AFTER (the pin-then-verify twin): a pin that landed in
      // the window aborts the truncation; one that lands later
      // self-withdraws against the floor in pinEpoch
      pinnedFloor(fs, path).filter(_ < now).foreach { p =>
        writeTextAtomic(fs, s"$path/$FloorFile", prior.toString)
        failPinned(p)
      }
      gcRetiredAt(fs, path, now)
    }

  // ---- shared params codec ----------------------------------------------

  /** ONE params writer for the store family: a single (name → scalar)
    * record as ONE atomically-renamed text file inside the params dir.
    * Scalars only (Int/Long/Double/Boolean/String) — params are
    * configuration, not data.
    *
    * Why text and not a parquet table (the pre-r15 format): params are
    * read on EVERY store open / fence check / as-of resolve, and a
    * `spark.read.parquet(...).collect()` is a full Spark job (listing,
    * footer decode, plan, schedule — measured 30-80 ms each on warm
    * local data). The driver-side text read is free of all of that, and
    * the heavy store/stream gates pay it dozens of times per run
    * (optimization guide §1.2: per-task work AFTER algorithm shape —
    * here the "task" was a whole scheduled job for one tiny row). The
    * write side drops a Spark write job (parquet committer, task
    * launch) per init/commit the same way. Values are URL-encoded so
    * DDL strings survive any separator; doubles round-trip via
    * `java.lang.Double.toString/parseDouble` (shortest-exact). The
    * atomic tmp+rename is [[writeTextAtomic]]'s — a torn write can
    * never masquerade as params, same contract the parquet form's
    * _SUCCESS-less dir never actually had. */
  private val ParamsKvFile = "kv.txt"

  private[graft] def writeParamsTo(spark: SparkSession, dst: String,
      fields: Seq[(String, Any)]): Unit = {
    def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
    val lines = fields.map { case (n, v) =>
      val (t, s) = v match {
        case x: Int => ("i", x.toString)
        case x: Long => ("l", x.toString)
        case x: Double => ("d", x.toString)
        case x: Boolean => ("z", x.toString)
        case x: String => ("s", enc(x))
        case other => throw new IllegalArgumentException(
          s"segswap: unsupported params field '$n' of " +
            s"${if (other == null) "null" else other.getClass.getName}")
      }
      s"${enc(n)} $t $s"
    }
    writeTextAtomic(fsOf(spark, dst), s"$dst/$ParamsKvFile",
      lines.mkString("\n"))
  }

  /** The params record at `dir`, fields in file order. A dir without
    * the kv file fails loudly: its store predates the text codec (or
    * its init never finished). */
  private def readParamsKv(fs: FileSystem, path: String, dir: String,
      what: String): Seq[(String, Any)] = {
    val text = readText(fs, new HPath(s"$dir/$ParamsKvFile"))
    require(text.isDefined,
      s"$what: store at $path has no params record ($dir/$ParamsKvFile) " +
        "— written by an older build; re-init the store")
    def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
    text.get.linesIterator.filter(_.nonEmpty).map { line =>
      line.split(" ", 3) match {
        case Array(n, t, v) =>
          val value: Any = t match {
            case "i" => v.toInt
            case "l" => v.toLong
            case "d" => v.toDouble
            case "z" => v.toBoolean
            case "s" => dec(v)
            case other => throw new IllegalStateException(
              s"segswap: corrupt params line type '$other' in $dir")
          }
          dec(n) -> value
        case _ => throw new IllegalStateException(
          s"segswap: corrupt params line '$line' in $dir")
      }
    }.toSeq
  }

  /** ONE params reader: journal-aware ([[resolvedDirPath]] — a
    * committed-but-uninstalled rebucket's NEW params are visible
    * without mutating anything) and NAME-based (a field missing from
    * an older layout fails with a clear message telling the operator
    * to re-init, never a positional ClassCastException deep in a
    * getter). `defaults` is the params-schema-EVOLUTION escape hatch:
    * a key a NEWER build added (e.g. the IVF-PQ `residual` flag) reads
    * its default from a store an older build wrote, instead of forcing
    * a re-init of a perfectly readable durable store — only keys with
    * no default keep the fail-loudly contract. */
  private[graft] def readParams(spark: SparkSession, path: String,
      what: String, defaults: Map[String, Any] = Map.empty): SegStore.Params = {
    val fs = fsOf(spark, path)
    new SegStore.Params(readParamsKv(fs, path,
      resolvedDirPath(fs, path, "params"), what), what, path, defaults)
  }

  /** [[readParams]] AS OF an epoch — params metadata (N, bucket mode,
    * fences) resolved from the same commit the snapshot data tables
    * come from, so an as-of derived read is consistent end to end. */
  private[graft] def readParamsAt(spark: SparkSession, path: String,
      what: String, epoch: Long,
      defaults: Map[String, Any] = Map.empty): SegStore.Params = {
    val fs = fsOf(spark, path)
    new SegStore.Params(readParamsKv(fs, path,
      snapshotDirPath(fs, path, "params", epoch), what), what, path, defaults)
  }

  /** The `want` fields of [[readParams]] as one row, in `want` order. */
  private[graft] def readParamsRow(spark: SparkSession, path: String,
      want: Seq[String], what: String,
      defaults: Map[String, Any] = Map.empty): org.apache.spark.sql.Row =
    readParams(spark, path, what, defaults).row(want)

  /** Stage, journal, and install `touched` = (table, replacement rows
    * for the touched buckets, touched bucket set). Replacement-frame
    * residence contract: frames must be either materialized
    * (lineage-free leaves) or lazy plans reading ONLY the store's LIVE
    * bucket dirs constructed AFTER writer-entry [[recover]]. Lazy
    * live-file plans are safe because staging completes before any
    * live file is retired (the journal rename is the first destructive
    * step) — this is the streamed compact/rebucket path, which avoids
    * materializing a whole store through the block manager. A plan
    * that reads a PENDING journal's staged dirs (a [[resolvedTable]]
    * taken before recover) is NOT safe: commit deletes the staging dir
    * first.
    *
    * With `augmentFromStaging`, each table's journaled bucket set is
    * its provided set UNION the `_b=` dirs actually staged — for
    * rebucket-style rewrites whose destination buckets are only known
    * after the write, saving a separate full scan to enumerate them.
    *
    * `fence` (a held [[acquireLease]] epoch) is re-checked immediately
    * before the journal rename — the epoch-fencing half of the
    * single-writer contract.
    *
    * Ends with `refreshByPath`: a swap REPLACES files under `path`, and
    * Spark's CacheManager matches new reads against still-cached plans
    * by canonicalized equality — a caller that cached the store's
    * content before the swap (e.g. a chained continuation's finish())
    * would silently get the PRE-swap rows back on its next
    * identically-shaped read (found by the chained-continuation spec:
    * "Asked to cache already cached data", stale ranks). Refreshing the
    * path invalidates and recaches every plan that reads it. */
  def commit(spark: SparkSession, path: String,
      touched: Seq[(String, DataFrame, Set[Int])],
      dirSwaps: Seq[(String, String => Unit)] = Nil,
      fence: Option[Long] = None,
      augmentFromStaging: Boolean = false): Unit = {
    if (!augmentFromStaging && !touched.exists(_._3.nonEmpty) &&
      dirSwaps.isEmpty) return
    val fs = fsOf(spark, path)
    fs.delete(new HPath(s"$path/$Staging"), true)
    // the per-table staging writes are INDEPENDENT (distinct dirs, the
    // journal lands after all of them), so they overlap through
    // graft.util.Par (guide §2.6)
    graft.util.Par.foreach(touched.collect {
      case (n, df, bs) if bs.nonEmpty || augmentFromStaging =>
        stageBuckets(df, s"$path/$Staging/$n")
    })
    // whole-dir swaps (e.g. the params table during a rebucket — its
    // new bucket count must install ATOMICALLY with the re-bucketed
    // data or a crash would leave readers deriving buckets with the
    // wrong B): the caller's writer stages the dir's new content, and
    // a `dir` journal line carries it through the same roll-forward
    dirSwaps.foreach { case (n, write) => write(s"$path/$Staging/$n") }
    val finalTouched = if (!augmentFromStaging) touched else
      touched.map { case (n, df, bs) =>
        val dir = new HPath(s"$path/$Staging/$n")
        val stagedBs = if (!fs.exists(dir)) Set.empty[Int]
          else fs.listStatus(dir).toSeq.map(_.getPath.getName)
            .collect { case s if s.startsWith("_b=") =>
              s.stripPrefix("_b=").toInt }.toSet
        (n, df, bs ++ stagedBs)
      }
    // the fence runs AFTER staging (cheap to redo, owned by us either
    // way) and immediately BEFORE the commit point: a fenced-out
    // writer must never journal
    fence.foreach(checkFence(fs, path, _))
    // journal AFTER staging succeeds; its appearance is the atomic
    // commit point
    val lines = finalTouched.flatMap { case (n, _, bs) =>
      bs.toSeq.sorted.map { b =>
        val staged = fs.exists(new HPath(s"$path/$Staging/$n/_b=$b"))
        s"$n $b ${if (staged) "staged" else "empty"}"
      }
    } ++ dirSwaps.map { case (n, _) => s"$n 0 dir" }
    if (lines.isEmpty) { // augment mode over an empty store: nothing to swap
      fs.delete(new HPath(s"$path/$Staging"), true)
      return
    }
    // this commit's epoch, and the snapshot bootstrap: a table's FIRST
    // journaled touch records its pre-commit bucket set as the manifest
    // of the PREVIOUS epoch (live dirs are untouched until the
    // roll-forward below, so the listing here IS the state at epoch-1;
    // a crash before the journal leaves a manifest that is correct
    // regardless)
    val epoch = installedEpoch(fs, path) + 1
    finalTouched.map(_._1).distinct.foreach { n =>
      if (manifestEpochsFor(fs, path, n).isEmpty)
        writeManifest(fs, path, epoch - 1, n, liveBuckets(fs, path, n))
    }
    val jTmp = new HPath(s"$path/$Journal.tmp")
    val jDst = new HPath(s"$path/$Journal")
    val out = fs.create(jTmp, true)
    try out.write((s"epoch $epoch" +: lines).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(jTmp, jDst),
      s"segswap: could not commit swap journal $jDst")
    recover(fs, path) // the journaled roll-forward IS the swap
    spark.catalog.refreshByPath(path)
  }

  /** Writer-entry recovery with the same cache hygiene as [[commit]]:
    * a roll-forward can replace files, so cached plans over `path`
    * must be refreshed here too. */
  def recover(spark: SparkSession, path: String): Unit = {
    recover(fsOf(spark, path), path)
    spark.catalog.refreshByPath(path)
  }

  /** The pending journal, if any, as (epoch, entries). A header-less
    * journal (written before the snapshot layer, or hand-crafted by the
    * crash specs) commits the NEXT epoch after the installed one. */
  private def journalRaw(fs: FileSystem,
      path: String): Option[(Long, Seq[(String, Int, String)])] = {
    val jDst = new HPath(s"$path/$Journal")
    readText(fs, jDst).map { text =>
      var epoch: Option[Long] = None
      val entries = text.linesIterator.filter(_.nonEmpty).zipWithIndex
        .flatMap {
          case (EpochHeader(e), 0) => epoch = Some(e.toLong); None
          case (JournalLine(n, b, st), _) => Some((n, b.toInt, st))
          case (bad, _) => throw new IllegalStateException(
            s"segswap: corrupt swap journal line '$bad' in $jDst")
        }.toSeq
      (epoch.getOrElse(installedEpoch(fs, path) + 1), entries)
    }
  }

  private def journalEntries(fs: FileSystem,
      path: String): Seq[(String, Int, String)] =
    journalRaw(fs, path).map(_._2).getOrElse(Nil)

  /** WRITER-side roll-forward/rollback of an interrupted swap. Only
    * the single writer may call this — it renames/deletes live
    * directories. Readers use [[resolvedTable]], which resolves the
    * same journal WITHOUT mutating anything (two concurrent readers,
    * or a reader racing the writer's commit-time recover, previously
    * raced each other's delete/rename and could observe a bucket
    * missing between the two). */
  def recover(fs: FileSystem, path: String): Unit = {
    journalRaw(fs, path).foreach { case (epoch, entries) =>
      entries.foreach { case (n, b, st) =>
        val sub = if (st == "dir") n else s"$n/_b=$b"
        val live = new HPath(s"$path/$sub")
        val stage = new HPath(s"$path/$Staging/$sub")
        // the file set this install replaces is RETIRED, not deleted:
        // one rename into the epoch's retired dir keeps every previous
        // epoch inside the retention horizon readable via
        // [[snapshotTable]]. Idempotent under crash-rerun: a live dir
        // already renamed away is simply absent on the second pass.
        def retireLive(): Unit = if (fs.exists(live)) {
          val dst = new HPath(s"$path/$Retired/e=$epoch/$sub")
          fs.mkdirs(dst.getParent)
          require(fs.rename(live, dst),
            s"segswap: could not retire $live to $dst")
        }
        if (st != "empty" && fs.exists(stage)) {
          retireLive()
          require(fs.rename(stage, live),
            s"segswap: could not install $stage")
        } else if (st == "empty") retireLive()
        // staged/dir && !exists(stage): rename already happened — idempotent
      }
      // post-install bucket manifests for this epoch's touched tables
      // (written by the roll-forward, not the committer, so a crash
      // right after the journal rename still produces them on replay)
      entries.filter(_._3 != "dir").map(_._1).distinct.foreach { n =>
        writeManifest(fs, path, epoch, n, liveBuckets(fs, path, n))
      }
      // epoch line BEFORE the journal delete: a crash between re-runs
      // the idempotent roll-forward and rewrites the same value
      writeTextAtomic(fs, s"$path/$EpochFile", epoch.toString)
      fs.delete(new HPath(s"$path/$Journal"), false)
      gcRetired(fs, path, epoch)
    }
    // writer-only orphan cleanup: un-journaled staging is a crashed
    // writer's pre-commit scratch, superseded by this writer's run
    fs.delete(new HPath(s"$path/$Staging"), true)
  }

  /** READ-ONLY view of a table under the journal: a committed-but-not-
    * yet-installed swap is resolved by reading staged bucket dirs in
    * place of their live counterparts (and skipping journaled "empty"
    * buckets), without renaming or deleting anything — so any number
    * of readers can run concurrently, and a reader can never destroy a
    * writer's staging or race another reader's roll-forward. With no
    * journal this is a plain live read. The residual visibility caveat
    * is inherent to rename-based swaps: a reader OVERLAPPING the
    * writer's install may see staged files vanish mid-scan (the store
    * contract is single writer, readers between — not during —
    * commits). The same caveat binds LAZY frames across commits: the
    * journal is resolved at plan-construction time, so a frame built
    * here (or any store `kvs`/`out`/`scores` view) must be consumed —
    * collected or materialized — BEFORE the next writer commit, whose
    * install renames/deletes the very paths the stale plan holds.
    * Store-mode continuations honor this by materializing their
    * results before returning ([[graft.core.IncrementalJob.finish]]). */
  def resolvedTable(spark: SparkSession, path: String, name: String,
      schema: StructType): DataFrame = {
    val fs = fsOf(spark, path)
    val mine = journalEntries(fs, path).filter(_._1 == name)
    // a whole-dir swap replaces the table root itself
    if (mine.exists(_._3 == "dir"))
      return spark.read.schema(schema)
        .parquet(resolvedDirPath(fs, path, name))
    val live = spark.read.schema(schema).parquet(s"$path/$name")
    if (mine.isEmpty) return live
    // staged buckets whose rename already happened (a writer crashed
    // mid-install) are correct in the LIVE dir; the rest read staged
    val (installed, pending) = mine.partition { case (_, b, st) =>
      st == "staged" && !fs.exists(new HPath(s"$path/$Staging/$name/_b=$b"))
    }
    val excluded = pending.map(_._2)
    val liveSide =
      if (excluded.isEmpty) live
      else live.filter(!col("_b").isin(excluded.map(Integer.valueOf): _*))
    val stagedDirs = pending.collect { case (_, b, "staged") =>
      s"$path/$Staging/$name/_b=$b" }
    val _ = installed // live-side rows already current for these
    if (stagedDirs.isEmpty) liveSide
    else liveSide.unionByName(spark.read.schema(schema)
      .option("basePath", s"$path/$Staging/$name")
      .parquet(stagedDirs: _*))
  }

  /** Live `_b=` bucket ids of a table from the FS listing — valid for
    * a WRITER after [[recover]] (live dirs are then the truth; a
    * reader under a pending journal must go through [[resolvedTable]]
    * instead). Shared by every store's rebucket/compact. */
  private[graft] def liveBuckets(fs: FileSystem, path: String,
      table: String): Set[Int] = {
    val dir = new HPath(s"$path/$table")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_b=") =>
        n.stripPrefix("_b=").toInt }.toSet
  }

  /** Time-travel read: the content of `name` AS OF `epoch`, for any
    * epoch inside the retention horizon. Resolution is pure convention,
    * no per-file metadata: the content a bucket held at epoch E is
    * either still live (never replaced since) or sits in the retired
    * dir of the FIRST commit after E that replaced it —
    * `min{F > E : seg_retired/e=F has the bucket}`. The bucket set at E
    * comes from the epoch's manifest ([[bucketsAt]]), so buckets
    * created after E are never read and buckets emptied after E are
    * found in their retiring epoch.
    *
    * What this buys over [[resolvedTable]]: epoch E stays RE-RESOLVABLE
    * for the whole horizon — before the snapshot layer, the pre-commit
    * view was simply GONE the moment an install renamed its files; now
    * any reader re-derives a consistent as-of-E frame at any time, and
    * a post-E continuation can be audited, diffed, or rolled back
    * against it. The plan-residence caveat is narrowed, not erased: the
    * RETIRED portion of a snapshot plan is immutable until GC, but
    * buckets still resolving to live dirs can be renamed by a later
    * commit — a frame held across one re-resolves (one metadata pass)
    * rather than dying unrecoverably. */
  def snapshotTable(spark: SparkSession, path: String, name: String,
      schema: StructType, epoch: Long): DataFrame = {
    val fs = fsOf(spark, path)
    journalRaw(fs, path) match {
      // the pending journal IS the requested epoch: the resolved view
      case Some((je, _)) if epoch == je =>
        return resolvedTable(spark, path, name, schema)
      case _ => ()
    }
    val now = currentEpoch(fs, path)
    require(epoch <= now,
      s"segswap: snapshot epoch $epoch of $path/$name is in the future " +
        s"(current epoch $now)")
    // the floor outranks pins: truncation refused while pins were live,
    // so nothing below it is readable under ANY claim
    val floor = historyFloorOf(fs, path)
    require(epoch >= floor,
      s"segswap: snapshot epoch $epoch of $path/$name is below the " +
        s"history floor ($floor) — history was truncated (deletion " +
        "scrub), its retired files are gone")
    val horizon = now - retentionOf(fs, path)
    require(epoch >= horizon ||
        pinnedFloor(fs, path).exists(_ <= epoch),
      s"segswap: snapshot epoch $epoch of $path/$name is past the " +
        s"retention horizon (current epoch $now, retained back to " +
        s"$horizon) and no pin covers it — its retired files were " +
        "garbage-collected; raise retention via setRetention, or " +
        "pinEpoch before a long read, before the commits that should " +
        "stay readable")
    val groups = bucketSources(fs, path, name, epoch)
    if (groups.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    groups.map { case (base, bs) =>
      spark.read.schema(schema).option("basePath", base)
        .parquet(bs.toSeq.sorted.map(b => s"$base/_b=$b"): _*)
    }.reduce(_ unionByName _)
  }

  /** Bucket→source-dir resolution of `table` AS OF `epoch`: each wanted
    * bucket is served by the FIRST retiring commit after the epoch,
    * falling back to the live dir for buckets never since replaced.
    * ONE resolver shared by [[snapshotTable]] (lazy reads) and
    * [[exportSnapshot]] (file copies), so the two views can never
    * diverge. Fails loudly when a wanted bucket is neither live nor
    * retained. */
  private def bucketSources(fs: FileSystem, path: String, name: String,
      epoch: Long): Seq[(String, Set[Int])] = {
    var remaining = bucketsAt(fs, path, name, epoch)
    if (remaining.isEmpty) return Nil
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, Set[Int])]
    retiredEpochs(fs, path).filter(_ > epoch).foreach { f =>
      val here = remaining.intersect(retiredBucketsOf(fs, path, f, name))
      if (here.nonEmpty) {
        groups += ((s"$path/$Retired/e=$f/$name", here))
        remaining = remaining -- here
      }
    }
    if (remaining.nonEmpty) {
      val missing = remaining.filterNot(b =>
        fs.exists(new HPath(s"$path/$name/_b=$b")))
      require(missing.isEmpty,
        s"segswap: epoch $epoch of $path/$name is unreadable — " +
          s"buckets ${missing.toSeq.sorted.mkString(",")} are neither " +
          "live nor in any retained epoch (store predates the snapshot " +
          "layer, or retired files were removed outside GC)")
      groups += ((s"$path/$name", remaining))
    }
    groups.toSeq
  }

  /** ROLLBACK as a new commit: restore `tables` (and any `dirTables`
    * replaced since) to their content AS OF `epoch`, through the same
    * journaled swap as any continuation — a REVERT, not a reset.
    * History is preserved: the rollback retires what it replaces, so
    * the rolled-away epochs stay resolvable (and a rollback can itself
    * be rolled back) until GC. The touched set is exactly the buckets
    * that could differ from epoch's view — every bucket some later
    * commit replaced, plus buckets created since (journaled "empty" so
    * the install drops them). Takes the writer lease; fails loudly
    * past the retention horizon (via [[snapshotTable]]'s own guard). */
  def rollbackTo(spark: SparkSession, path: String, epoch: Long,
      tables: Seq[(String, StructType)],
      dirTables: Seq[String] = Nil): Unit =
    withWriterLease(spark, path) { lease =>
      recover(spark, path) // install any pending swap; live dirs = truth
      val fs = fsOf(spark, path)
      val now = installedEpoch(fs, path)
      require(epoch <= now,
        s"segswap: cannot roll $path back to future epoch $epoch " +
          s"(current $now)")
      // explicit floor check (snapshotTable would also catch it, but
      // only for tables with changed buckets — a post-truncation
      // rollback must fail loudly, never half-noop)
      val floor = historyFloorOf(fs, path)
      require(epoch >= floor,
        s"segswap: cannot roll $path back to epoch $epoch — it is " +
          s"below the history floor ($floor); history was truncated " +
          "(deletion scrub) and the pre-floor content no longer exists")
      if (epoch < now) { // rolling back to `now` is a no-op, not a commit
      val later = retiredEpochs(fs, path).filter(_ > epoch)
      // "roll back FIRST, respan after" (measured in the round-10
      // seg_timetravel probe): a lifecycle commit (rebucket/compact/
      // respan) between the target and head replaced EVERY bucket, so
      // this revert's pruning degenerates from delta-proportional to
      // corpus-wide. Still correct — but name the commit to blame, so
      // an operator with a poisoned shard learns to revert before the
      // next lifecycle op, not after.
      val whole = wholeStoreCommitsSince(fs, path, epoch, tables.map(_._1))
      if (whole.nonEmpty)
        System.err.println(s"[segswap] rollback of $path to epoch " +
          s"$epoch is CORPUS-WIDE: commit${if (whole.size > 1) "s" else ""} " +
          s"${whole.mkString(", ")} (a rebucket/compact/respan, or a " +
          "store-wide delta) replaced ~every bucket since the target: " +
          "roll back BEFORE lifecycle ops to keep reverts " +
          "delta-proportional")
      val touched = tables.map { case (name, schema) =>
        val atE = bucketsAt(fs, path, name, epoch)
        val replacedSince =
          later.flatMap(f => retiredBucketsOf(fs, path, f, name)).toSet
        val created = liveBuckets(fs, path, name) -- atE
        val changed = replacedSince ++ created
        val restore = changed.intersect(atE)
        // the staged frame: the as-of view pruned to the buckets being
        // restored (partition pruning on _b); buckets in changed\atE
        // stage nothing and journal "empty", dropping what was created
        val frame = snapshotTable(spark, path, name, schema, epoch)
          .filter(col("_b").isin(restore.toSeq.map(Integer.valueOf): _*))
        (name, frame, changed)
      }
      val conf = spark.sparkContext.hadoopConfiguration
      val dirSwaps = dirTables.flatMap { n =>
        // only dirs actually replaced since `epoch` need restoring
        later.find(f => fs.exists(new HPath(s"$path/$Retired/e=$f/$n")))
          .map { f =>
            n -> ((dst: String) => {
              val src = new HPath(s"$path/$Retired/e=$f/$n")
              require(org.apache.hadoop.fs.FileUtil.copy(
                fs, src, fs, new HPath(dst), false, conf),
                s"segswap: could not stage rollback copy of $src")
              ()
            })
          }
      }
      if (touched.exists(_._3.nonEmpty) || dirSwaps.nonEmpty)
        commit(spark, path, touched, dirSwaps, fence = Some(lease))
      }
    }

  /** [[snapshotTable]]'s whole-dir twin (params tables): the dir's
    * content as of `epoch` — the first retiring epoch after it, else
    * the live (journal-resolved, when the pending journal is the
    * requested epoch) dir. */
  def snapshotDirPath(fs: FileSystem, path: String, name: String,
      epoch: Long): String = {
    journalRaw(fs, path) match {
      case Some((je, _)) if epoch == je =>
        return resolvedDirPath(fs, path, name)
      case _ => ()
    }
    retiredEpochs(fs, path).filter(_ > epoch)
      .find(f => fs.exists(new HPath(s"$path/$Retired/e=$f/$name")))
      .map(f => s"$path/$Retired/e=$f/$name")
      .getOrElse(s"$path/$name")
  }

  /** Journal-aware path of a WHOLE-DIR table (e.g. `params`): the
    * staged dir when an uninstalled `dir` swap references it and the
    * staged content still exists, the live dir otherwise. Readers use
    * this so a committed-but-uninstalled rebucket is visible to them
    * without mutating anything. */
  def resolvedDirPath(fs: FileSystem, path: String, name: String): String = {
    val pendingDir = journalEntries(fs, path)
      .exists(e => e._1 == name && e._3 == "dir" &&
        fs.exists(new HPath(s"$path/$Staging/$name")))
    if (pendingDir) s"$path/$Staging/$name" else s"$path/$name"
  }
}
