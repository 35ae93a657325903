package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** ALL-OR-NOTHING continuations across SEVERAL segmented stores.
  *
  * A production pipeline continuation applies one corpus delta to many
  * derived stores at once — TF-IDF statistics, LM quality counts, line
  * dedup frequencies, decontamination shingles, dedup clusters. Each
  * store's own swap is crash-atomic ([[SegSwap]]), but the GROUP is
  * not: a failure after the second of five continuations strands the
  * family at mixed epochs, and unlike the streaming path there is no
  * replay fence to make re-running safe (a batch driver that re-applies
  * the delta would double-apply it to the stores that already
  * committed). The reference has no answer here either — its preserve
  * files are per-job and a multi-job pipeline restarts from scratch
  * (`incr-hadoop-0.1/src/mapred/org/apache/hadoop/mapred/JobClient.java`
  * submits independently-failing jobs).
  *
  * This layer makes the group atomic by COMPENSATION, built on the
  * family's journaled time travel: a txn manifest — written atomically
  * BEFORE any store commits — records every participant's pre-txn
  * epoch; if the body fails (or the driver dies), each store that
  * advanced is rolled back to its recorded epoch via
  * [[SegSwap.rollbackTo]] (itself one more journaled, history-
  * preserving commit). Deleting the manifest is the txn's commit
  * point:
  *
  *   - crash BEFORE the manifest lands → no store was touched;
  *   - crash mid-body (or body throws) → [[recover]]/the abort path
  *     reverts every advanced store — each rollback is delta-
  *     proportional (only buckets the txn touched restage);
  *   - crash AFTER the body but BEFORE the manifest delete → the txn
  *     never committed; recovery reverts it (standard presumed-abort);
  *   - crash DURING recovery → recovery is idempotent by CONTENT:
  *     re-running rolls the remaining stores back and re-reverting an
  *     already-reverted store restages the same as-of view (extra
  *     epochs, identical rows).
  *
  * Contracts inherited from the family: one coordinator at a time per
  * txn dir (each store continuation and rollback is individually
  * writer-leased and epoch-fenced, so a racing second coordinator
  * fails loudly rather than corrupting); every participant's snapshot
  * retention must cover the commits the body makes to it (default 2 —
  * fine for the one-continuation-per-store shape; a body chaining more
  * raises it via [[SegSwap.setRetention]] first, and a rollback past
  * the horizon fails loudly, never silently mixes epochs); recovery
  * after a driver crash honors the dead writer's lease TTL before
  * taking over.
  */
object StoreTxn {

  /** A participant kind — how to read the store's installed epoch and
    * roll it back. Recorded BY NAME in the manifest so a fresh JVM's
    * [[recover]] can rebuild the compensation without any live state. */
  type Rollback = (SparkSession, String, Long) => Unit

  /** Registry of manifest-recoverable store kinds: every store of the
    * family ([[SegStore.family]]) under its declared kind name. */
  val kinds: Map[String, Rollback] =
    SegStore.family.map(s => s.kind -> (s.rollbackTo _)).toMap

  private def manifest(txnDir: String) = new HPath(s"$txnDir/txn_manifest")

  // ---- per-store owner markers (cross-txn participant fencing) ----------
  // The coordinator lease serializes txns through ONE txn dir; two
  // concurrent run()s through DIFFERENT dirs sharing a participant
  // store are a distinct hazard: if one crashes, its recovery would
  // roll the shared store back to ITS recorded pre-epoch, silently
  // reverting the other txn's committed continuation. The marker file
  // (`<store>/txn_owner`, naming the owning txn dir) makes overlapping
  // participants mutually exclusive across txn dirs: written at enroll
  // (before the manifest), cleared at commit/recovery. Like the writer
  // lease, the check-then-write is not Byzantine-proof across hosts —
  // it deterministically catches accidental concurrent coordinators,
  // which is the contract's failure mode.

  private def markerOf(storePath: String) = new HPath(s"$storePath/txn_owner")

  /** Claim `path` for the txn at `txnDir`, or fail loudly if another
    * IN-FLIGHT txn (manifest present, or coordinator lease live) owns
    * it. A marker whose owner has neither is debris from a coordinator
    * that crashed before its manifest landed (nothing to compensate) —
    * cleaned up and re-claimed.
    *
    * The claim itself is DECISIVE (round-11 advice): the marker is
    * installed via an exclusive create (nio CREATE_NEW locally,
    * `create(overwrite = false)` on remote FS), never an overwriting
    * write — two coordinators racing the same absent (or just-cleaned)
    * marker get exactly one winner at the create, instead of both
    * observing no marker, both writing, and both proceeding with the
    * cross-txn rollback hazard unfenced. */
  private def enroll(spark: SparkSession, txnDir: String,
      path: String): Unit = {
    val sfs = SegSwap.fsOf(spark, path)
    val m = markerOf(path)
    SegSwap.readText(sfs, m).map(_.trim) match {
      case Some(owner) if owner.nonEmpty && owner != txnDir =>
        val ofs = SegSwap.fsOf(spark, owner)
        val ownerLive = SegSwap.readText(ofs, manifest(owner)).isDefined ||
          SegSwap.leaseLive(ofs, owner)
        if (ownerLive) throw new IllegalStateException(
          s"storetxn: store $path is enrolled in the in-flight txn at " +
            s"$owner — overlapping participants across concurrent txns " +
            "are fenced (a crash of either would otherwise revert the " +
            "other's committed work); wait for that txn, or if its " +
            s"coordinator is known dead run StoreTxn.recover on $owner")
        sfs.delete(m, false)
      case Some(_) =>
        // our own stale claim (crash between manifest delete and
        // disenroll), or a torn/empty marker (crash mid-create, owner
        // never reached its manifest): debris either way — remove and
        // re-claim through the exclusive create below
        sfs.delete(m, false)
      case None => ()
    }
    try {
      if (sfs.getUri.getScheme == null || sfs.getUri.getScheme == "file") {
        val p = java.nio.file.Paths.get(m.toUri.getPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, txnDir.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      } else {
        val out = sfs.create(m, false)
        try out.write(txnDir.getBytes("UTF-8")) finally out.close()
      }
    } catch {
      case e @ (_: java.nio.file.FileAlreadyExistsException |
          _: java.io.IOException) =>
        throw new IllegalStateException(
          s"storetxn: store $path was claimed by a concurrent txn " +
            s"coordinator in the enroll window (exclusive create of $m " +
            "lost the race) — overlapping participants across " +
            "concurrent txns are fenced; retry after that txn finishes", e)
    }
  }

  /** Drop `path`'s marker IF this txn owns it (never a successor's). */
  private def disenroll(spark: SparkSession, txnDir: String,
      path: String): Unit = {
    val sfs = SegSwap.fsOf(spark, path)
    if (SegSwap.readText(sfs, markerOf(path)).map(_.trim).contains(txnDir))
      sfs.delete(markerOf(path), false)
  }

  /** Exposed for crash-simulation specs; [[run]] is the real writer.
    * A row's 4th field is the pre-txn epoch's PIN token ("-" = none):
    * [[run]] pins every participant's revert target before the body,
    * so a body committing more than `retention` epochs to one store
    * cannot GC its own compensation point — without the pin, a long
    * txn's abort would fail past the horizon. */
  private[graft] def writeManifest(spark: SparkSession, txnDir: String,
      rows: Seq[(String, String, Long, String)]): Unit = {
    rows.foreach { case (kind, _, _, _) =>
      require(kinds.contains(kind),
        s"storetxn: unknown store kind '$kind' (known: " +
          s"${kinds.keys.toSeq.sorted.mkString(", ")})")
    }
    SegSwap.writeTextAtomic(SegSwap.fsOf(spark, txnDir),
      manifest(txnDir).toString,
      rows.map { case (k, p, e, t) => s"$k\t$p\t$e\t$t" }.mkString("\n"))
  }

  /** Roll back the crashed txn recorded under `txnDir`, if any.
    * Returns true when a manifest was found and compensated. Call at
    * coordinator startup (the batch twin of Structured Streaming's
    * checkpoint recovery); [[run]] also recovers at entry, so
    * back-to-back txns through the same dir self-heal. Takes the
    * coordinator lease: an unfenced startup recovery against a LIVE
    * coordinator's dir would read its manifest and revert its
    * in-flight work (a dead coordinator's lease expires via TTL). */
  def recover(spark: SparkSession, txnDir: String): Boolean =
    SegSwap.withWriterLease(spark, txnDir) { _ =>
      recoverLocked(spark, txnDir)
    }

  /** [[recover]] body, caller already under the coordinator lease. */
  private def recoverLocked(spark: SparkSession, txnDir: String): Boolean = {
    val fs = SegSwap.fsOf(spark, txnDir)
    val m = manifest(txnDir)
    SegSwap.readText(fs, m) match {
      case None => false
      case Some(text) =>
        val rows = text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
          line.split("\t") match {
            case Array(kind, path, epoch, token) =>
              (kind, path, epoch.toLong, token)
            case _ => sys.error(s"storetxn: malformed manifest line " +
              s"'$line' in $m")
          }
        }
        // reverse declaration order, so a mid-recovery crash leaves a
        // prefix of still-advanced stores — exactly the state a re-run
        // handles (by-content idempotence for the already-reverted
        // suffix)
        // currentEpoch counts a committed-but-uninstalled journal as
        // the next epoch, so "advanced" detection survives a crash at
        // any point of a participant's own commit
        rows.reverse.foreach { case (kind, path, preEpoch, token) =>
          if (SegSwap.currentEpoch(SegSwap.fsOf(spark, path), path)
              != preEpoch)
            kinds(kind)(spark, path, preEpoch)
          if (token != "-")
            SegSwap.releasePin(SegSwap.fsOf(spark, path), path, token)
        }
        // markers clear only AFTER the manifest delete (same order as
        // the commit path): a marker dropped while the manifest
        // survives would let a second txn claim the store, and a
        // recovery RE-RUN against the surviving manifest would then
        // revert that txn's committed work — the exact hazard the
        // marker fences. A crash between the delete and the disenroll
        // leaves only stale markers (no manifest, lease expires),
        // cleaned by the next enroll.
        fs.delete(m, false)
        rows.foreach { case (_, path, _, _) =>
          disenroll(spark, txnDir, path) }
        true
    }
  }

  /** Run `body` — any sequence of continuations over the declared
    * `stores` (`(kind, path)` pairs, kinds from [[kinds]]) — as one
    * atomic group. On success the manifest delete commits the txn; on
    * failure every advanced store is rolled back to its pre-txn epoch
    * and the body's exception is rethrown. Stores the body does not
    * actually touch cost one epoch read each.
    *
    * The SCALE SHAPE is the family's: the manifest is O(#stores) text;
    * compensation restages only the buckets the txn's commits touched
    * (never a corpus scan); and the no-failure path adds zero data I/O
    * on top of the body's own continuations. */
  def run[T](spark: SparkSession, txnDir: String,
      stores: Seq[(String, String)])(body: => T): T =
   // the COORDINATOR lease: one txn at a time per dir, mechanically —
   // without it a second concurrent run()'s entry-recover would read
   // the first's manifest and revert its IN-FLIGHT work (the same
   // failure the per-store writer lease prevents one level down); a
   // crashed coordinator's lease expires via TTL and its successor's
   // entry-recover compensates
   SegSwap.withWriterLease(spark, txnDir) { lease =>
    require(stores.nonEmpty, "storetxn: no participating stores")
    stores.foreach { case (kind, _) =>
      require(kinds.contains(kind),
        s"storetxn: unknown store kind '$kind' (known: " +
          s"${kinds.keys.toSeq.sorted.mkString(", ")})")
    }
    recoverLocked(spark, txnDir) // self-heal a predecessor's crash
    // claim every participant BEFORE the manifest lands: a concurrent
    // txn through a different dir sharing any store fails loudly here
    // instead of interleaving (markers of a coordinator that dies past
    // this point but before its manifest are cleaned by the next
    // enroll once our lease expires — nothing to compensate)
    stores.foreach { case (_, path) => enroll(spark, txnDir, path) }
    val rows = stores.map { case (kind, path) =>
      val sfs = SegSwap.fsOf(spark, path)
      val pre = SegSwap.currentEpoch(sfs, path)
      // pin the revert target: a body chaining > retention commits to
      // one store must not GC its own compensation point (the pin's
      // TTL bounds a dead coordinator's hold, like the writer lease)
      (kind, path, pre, SegSwap.pinEpoch(sfs, path, pre))
    }
    writeManifest(spark, txnDir, rows)
    val result =
      try body
      catch {
        case e: Throwable =>
          try recoverLocked(spark, txnDir) // also releases the pins
          catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      }
    val fs = SegSwap.fsOf(spark, txnDir)
    // fence at the commit point (SegSwap.commit's rule, one level up):
    // a coordinator stalled past its lease TTL was taken over — its
    // manifest delete here would destroy the SUCCESSOR's compensation
    // record, leaving the successor's failed txn uncompensatable
    SegSwap.checkFence(fs, txnDir, lease)
    fs.delete(manifest(txnDir), false) // the commit point
    rows.foreach { case (_, path, _, token) =>
      SegSwap.releasePin(SegSwap.fsOf(spark, path), path, token)
      disenroll(spark, txnDir, path)
    }
    result
   }
}
