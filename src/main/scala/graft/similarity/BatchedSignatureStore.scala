package graft.similarity

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Shared scaffolding for the incremental dedup indexes: a persisted
  * table of per-survivor signature rows, written as committed batch
  * directories (`b=N`, `_SUCCESS`-gated via CommittedDirs) with
  * consolidation. The acceptance logic lives in the subclasses; the
  * storage, visibility and compaction rules live once, here.
  *
  * Concurrency contract — two explicit rules, both ENFORCED at the
  * commit rename, never by convention alone:
  *
  *  - INGESTS serialize, and MAY run concurrently with each other and
  *    with a maintenance pass: each ingest runs as a [[serialized]]
  *    mutation (batch set pinned once, commit to the pinned next id,
  *    lost races collide on the rename and re-run acceptance against
  *    the winner's state), so concurrent ingests land as some serial
  *    order with full cross-batch dedup (StoreConcurrencySpec) — and an
  *    ingest racing a maintenance commit simply loses the rename — or,
  *    when the maintenance deletes dirs the ingest's pin still
  *    referenced mid-scan, fails that scan — and re-runs against the
  *    consolidated state either way (both retryable shapes live in
  *    [[serialized]]).
  *  - Compaction / sweep maintenance ([[compact]], [[rewriteAll]]) is
  *    SINGLE-OWNER, and the owner fails FAST rather than corrupting:
  *    maintenance commits through the same [[graft.load.AtomicDirCommit]]
  *    rename as ingests, so a batch landing at its target id first —
  *    a racing ingest, or a second maintenance owner violating the
  *    contract — makes the maintenance rename collide and throw
  *    [[BatchedSignatureStore.ConcurrentMaintenanceException]] with the
  *    store unchanged (marker rolled back). Maintenance does NOT retry:
  *    a lost maintenance race is a scheduling bug to surface, not a
  *    state to paper over. Run it from one owner on the compaction
  *    cadence (the same split the TripletStore multi-writer demo
  *    documents).
  */
abstract class BatchedSignatureStore(spark: SparkSession, path: String) {

  /** Row schema of one signature. */
  protected def schema: StructType

  private val fs = new java.io.File(path)

  /** Root the batch dirs live under. Defaults to the store path;
    * subclasses with swap/versioning semantics ([[VectorIndex]]'s
    * `g=N` generations) point this at the ACTIVE generation — every
    * batch/compaction accessor resolves through it, so a generation
    * swap atomically retargets reads, appends and compaction. */
  protected def storageRoot: java.io.File = fs

  private def pendingMarker =
    new java.io.File(storageRoot, "_COMPACT_PENDING")

  /** The batch set a [[serialized]] mutation on THIS thread pinned at
    * its start — [[batches]] (and through it [[table]], [[size]] and
    * [[append]]'s commit target) all resolve through the pin, so the
    * whole mutation reads one snapshot and commits to `pin.max + 1`.
    * Batch ids are dense, so an interleaved commit owns that id first
    * and the rename COLLIDES (the TripletStore v0-pin discipline) —
    * never an acceptance computed against a stale snapshot landing
    * silently. */
  private val pinned = new ThreadLocal[Seq[Int]]

  protected def batches: Seq[Int] = {
    val p = pinned.get()
    if (p != null) p else committedBatches
  }

  /** Committed batch ids as a READER must see them: when a maintenance
    * pass committed its consolidated batch but crashed before removing
    * the dirs it supersedes (marker present + token-matched `b=next`),
    * the superseded ids are masked out — readers and new ingest pins see
    * exactly the consolidated state immediately, with zero destructive
    * action on the read path; the physical cleanup stays owner-driven
    * ([[recoverCompaction]] at the next maintenance entry). A marker
    * whose target id is NOT token-matched masks nothing: that `b=next`
    * is a racing ingest's real data and every older dir is still live.
    * A tokenless marker throws ([[readMarker]]). */
  private def committedBatches: Seq[Int] = {
    // marker BEFORE the dir listing: the other order races a completing
    // recovery (marker deleted between the two reads) into handing the
    // caller a stale path list over just-removed dirs
    val marker = readMarker()
    val all = graft.load.CommittedDirs.list(storageRoot, "b=")
    marker match {
      case Some((next, token)) if maintCommitted(next, token) =>
        all.filter(_ >= next)
      case _ => all
    }
  }

  /** The marker wire format (`"$next\n$token"`), parsed in ONE place —
    * [[readMarker]] and the rollback's ownership check must never drift
    * apart on it. */
  private def parseMarker(bytes: Array[Byte]): Option[(Int, String)] = {
    val lines = new String(bytes, "UTF-8").trim.split("\n")
    lines.headOption.flatMap(_.toIntOption)
      .map(n => (n, lines.drop(1).headOption.getOrElse("")))
  }

  /** The pending-maintenance marker's (target id, owner token), if any.
    * The token ties the marker to ITS pass's consolidated dir: without
    * it, recovery could not tell "my commit landed" from "a racing
    * ingest's batch landed at the same dense id" — and would delete
    * live batches below an ingest's commit. Every marker this store
    * writes carries a fresh token ([[writeMarker]]); a TOKENLESS one was
    * left by a crashed pre-token pass, and both recovery readings are
    * silently wrong for some store (rolling back resurrects
    * sweep-evicted rows; finishing can delete live batches), so every
    * read and maintenance entry refuses it.
    *
    * @throws BatchedSignatureStore.UntokenedMarkerException */
  private def readMarker(): Option[(Int, String)] = {
    val m =
      try
        // single read, no exists() pre-check: the owner can delete the
        // marker between the two calls (readers run concurrently with
        // maintenance by contract) — a vanished marker is simply None
        parseMarker(java.nio.file.Files.readAllBytes(pendingMarker.toPath))
      catch { case _: java.io.IOException => None }
    m.foreach { case (next, token) =>
      if (token.isEmpty)
        throw new BatchedSignatureStore.UntokenedMarkerException(
          s"pending-maintenance marker ${pendingMarker.getPath} for b=$next " +
            "carries no owner token: it was left by a crashed maintenance " +
            "pass of a binary that predates tokened markers, and whether " +
            s"that pass's b=$next landed cannot be decided safely. Finish " +
            s"it by hand: if b=$next is the pass's committed consolidation, " +
            s"delete the b= dirs below it, else delete b=$next; then " +
            "remove the marker.")
    }
    m
  }

  /** True iff `b=next` is a COMMITTED dir carrying this maintenance
    * pass's own token file (written into the temp dir before the
    * rename, so it travels with the commit atomically). */
  private def maintCommitted(next: Int, token: String): Boolean = {
    val d = new java.io.File(storageRoot, s"b=$next")
    token.nonEmpty &&
      new java.io.File(d, "_SUCCESS").exists() &&
      new java.io.File(d, s"_MAINT-$token").exists()
  }

  /** Atomically publish the pending marker (temp + ATOMIC_MOVE: a plain
    * writeString truncates in place and a concurrent reader sees EMPTY). */
  private def writeMarker(next: Int, token: String): Unit = {
    val tmp = new java.io.File(storageRoot,
      s".tmp-marker-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.write(tmp.toPath, s"$next\n$token".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, pendingMarker.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run `body` as ONE serialized mutation: pin the committed batch set,
    * compute and commit against it, and on a lost commit race
    * (ConcurrentModificationException from the rename) re-run the whole
    * body against the new state — the ingest twin of
    * [[graft.load.TripletStore.mergeWithRetry]]. Two concurrent ingests
    * therefore SERIALIZE: the loser's acceptance re-runs over the
    * winner's survivors, so cross-batch duplicates are caught whichever
    * order the commits land. Compaction / sweeps remain single-owner by
    * contract (the multi-writer rule the TripletStore demo documents):
    * they renumber batches, which no pin can survive. */
  protected def serialized[T](body: => T): T = {
    var attempts = 0
    while (true) {
      pinned.set(committedBatches)
      try return body
      catch {
        // two retryable shapes: the commit rename collided (another
        // writer owns the pinned next id), or the pinned dirs VANISHED
        // under the scan — a maintenance pass committed its consolidated
        // batch and deleted the dirs this pin still referenced. Both
        // mean the same thing: the snapshot is stale; re-pin (the masked
        // listing now yields the consolidated state) and re-run.
        case e: Throwable
            if e.isInstanceOf[java.util.ConcurrentModificationException] ||
              BatchedSignatureStore.vanishedInput(e,
                storageRoot.getAbsolutePath) =>
          attempts += 1
          if (attempts > BatchedSignatureStore.MaxIngestRetries) throw e
      } finally pinned.remove()
    }
    throw new IllegalStateException("unreachable")
  }

  private def rmTree(f: java.io.File): Unit = graft.load.Scratch.rm(f)

  /** All `b=N` dirs (committed or torn) with id < `next`. */
  private def dirsBelow(next: Int): Seq[java.io.File] =
    Option(storageRoot.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b=") &&
        f.getName.drop(2).toIntOption.exists(_ < next))

  /** Finish or roll back a maintenance pass interrupted by a crash: the
    * marker (written before the consolidated batch) names the target id
    * and the owner token.
    *
    *  - Token-matched `b=next` committed → the old dirs are superseded
    *    duplicates (already masked from readers by [[committedBatches]])
    *    — finish the physical cleanup. Safe at any marker age: the pass
    *    LANDED, and finishing its idempotent deletions cannot hurt a
    *    still-live owner doing the same.
    *  - No token → [[readMarker]] throws; the store is left untouched.
    *  - Unmatched token, no commit: the pass either died pre-commit or
    *    is STILL IN FLIGHT on another owner — indistinguishable from
    *    here. A FRESH marker is presumed in flight and recovery THROWS
    *    ([[BatchedSignatureStore.ConcurrentMaintenanceException]]) so a
    *    second owner can neither delete the first owner's marker nor
    *    clobber it with its own (the marker-lifecycle half of the
    *    single-owner enforcement; the rename is the commit half). Past
    *    [[BatchedSignatureStore.MaintInFlightMs]] the pass is presumed
    *    dead: roll back (a committed `b=next` WITHOUT the token is a
    *    racing ingest's real data and stands).
    *
    * Runs ONLY from the maintenance entry points, under the single
    * owner's control — NOT at construction: constructing a reader/ingest
    * instance while another owner's maintenance is mid-flight must not
    * delete that owner's marker or its in-progress state
    * (StoreConcurrencySpec pins multi-instance construction). */
  private def recoverCompaction(): Unit =
    readMarker().foreach { case (next, token) =>
      val d = new java.io.File(storageRoot, s"b=$next")
      val committed = new java.io.File(d, "_SUCCESS").exists()
      if (maintCommitted(next, token)) {
        dirsBelow(next).foreach(rmTree)
        pendingMarker.delete()
      } else {
        val age = System.currentTimeMillis() - pendingMarker.lastModified()
        if (age < BatchedSignatureStore.MaintInFlightMs)
          throw new BatchedSignatureStore.ConcurrentMaintenanceException(
            s"a maintenance pass on $path appears IN FLIGHT (pending " +
              s"marker for b=$next is ${age / 1000}s old, no committed " +
              "token match): refusing to recover or overwrite it. Re-run " +
              "after it completes, or after the marker ages past " +
              s"${BatchedSignatureStore.MaintInFlightMs / 1000}s if its " +
              "owner crashed pre-commit.")
        if (d.exists() && !committed) rmTree(d)
        pendingMarker.delete()
      }
    }

  /** The standing signature table (empty-schema DF for a fresh index). */
  def table: DataFrame =
    if (batches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(
      batches.map(b => s"${storageRoot.getPath}/b=$b"): _*)

  def size: Long = table.count()

  /** Append one committed batch via the shared rename-commit protocol
    * ([[graft.load.AtomicDirCommit]]); no-op when empty. Inside a
    * [[serialized]] mutation the commit target comes from the PIN, so
    * any commit interleaved since the pin collides on the rename and
    * throws ConcurrentModificationException — which [[serialized]]
    * turns into a full acceptance re-run against the new state. */
  protected def append(survivors: DataFrame, nAdded: Long): Unit =
    if (nAdded > 0) {
      val root = storageRoot
      val next = batches.lastOption.getOrElse(-1) + 1
      val tmp = graft.load.AtomicDirCommit.tmpFor(root, s"b$next")
      survivors.select(schema.fieldNames.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
      graft.load.AtomicDirCommit.commit(tmp, new java.io.File(root, s"b=$next"))
    }

  /** Rewrite all committed batches into one directory — after many small
    * ingests the per-batch layout pays a directory listing and file-open
    * per batch on every read. Crash-safe in both directions: the pending
    * marker is written FIRST, so a crash after the consolidated commit but
    * before old-dir removal is finished by [[recoverCompaction]] (without
    * it, every signature row would stay duplicated forever — acceptance
    * still correct, but size() and later compactions wrong); a crash
    * before the commit is rolled back. dropDuplicates heals any
    * duplication a pre-recovery reader-instance crash left behind. */
  def compact(): Int = {
    val root = storageRoot
    recoverCompaction()
    val bs = batches
    if (bs.length > 1)
      commitConsolidated(
        table.dropDuplicates(schema.fieldNames.toIndexedSeq), bs)
    graft.load.AtomicDirCommit.sweepTmp(root,
      graft.load.TripletStore.TmpSweepAgeMs)
    batches.length
  }

  /** Replace the store's contents with `rows` (same schema) as ONE
    * consolidated batch — the eviction write path (a sweep that drops
    * rows, unlike [[compact]] which only consolidates). Same marker +
    * rename protocol. */
  protected def rewriteAll(rows: DataFrame): Unit = {
    recoverCompaction()
    val bs = batches
    if (bs.nonEmpty) commitConsolidated(rows, bs)
  }

  /** The single-owner maintenance commit shared by [[compact]] and
    * [[rewriteAll]]: replace the batch dirs in `bs` with `rows` as one
    * consolidated batch at the next dense id.
    *
    * Crash-safe by the marker protocol: the tokened marker is published
    * FIRST, then the consolidated dir (token file inside, so it travels
    * with the rename) commits via [[graft.load.AtomicDirCommit]] — its
    * plan may still READ the old batch dirs; the target is a different
    * dir, so the scan is safe — then the superseded dirs drop and the
    * marker clears. A crash after the commit is masked immediately
    * ([[committedBatches]]) and cleaned at the next maintenance entry; a
    * crash before it leaves the old batches standing.
    *
    * Race-safe by the rename: a batch landing at `b=next` first (a
    * concurrent serialized ingest, or a second maintenance owner) makes
    * the rename collide — the marker is rolled back, the store is
    * UNCHANGED, and the owner gets a loud
    * [[BatchedSignatureStore.ConcurrentMaintenanceException]] instead of
    * the pre-protocol silent clobber-or-delete of the ingest's commit. */
  private def commitConsolidated(rows: DataFrame, bs: Seq[Int]): Unit = {
    val root = storageRoot
    val next = bs.last + 1
    val token = java.util.UUID.randomUUID().toString.take(8)
    writeMarker(next, token)
    val tmp = graft.load.AtomicDirCommit.tmpFor(root, s"b$next")
    // ANY pre-rename failure rolls the marker back in-process (not just
    // the rename collision): a leaked fresh tokened marker would wedge
    // every maintenance call — including this owner's own retry — behind
    // the in-flight presumption for MaintInFlightMs
    // Rollback removes the marker ONLY while it still carries this pass's
    // token: after a MaintInFlightMs takeover (a second owner rolled back
    // the stale marker and published its own), an unconditional delete
    // here — the slow loser waking up in its catch branch — would erase
    // the LIVE owner's marker, so a crash of that owner after its commit
    // would lose the masking/cleanup evidence and readers would
    // double-count superseded dirs (for rewriteAll: resurrect
    // sweep-evicted rows). A plain read-check-then-delete narrows but
    // does not close that window (the takeover can land between the two
    // calls), so the rollback CLAIMS the marker with one atomic rename,
    // verifies ownership on the claimed file, and puts a foreign marker
    // back. The put-back window (another owner's marker briefly absent)
    // only opens in the already-pathological takeover interleaving and
    // at worst makes one concurrent reader pin an unmasked (duplicated)
    // batch list — transient, vs the permanent evidence loss a deletion
    // caused.
    def rollbackMarker(): Unit = rollbackPendingMarker(token)
    try {
      rows.select(schema.fieldNames.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
      java.nio.file.Files.write(
        new java.io.File(tmp, s"_MAINT-$token").toPath, Array.empty[Byte])
      graft.load.AtomicDirCommit.commit(tmp, new java.io.File(root, s"b=$next"))
    } catch {
      case e: java.util.ConcurrentModificationException =>
        rollbackMarker()
        throw new BatchedSignatureStore.ConcurrentMaintenanceException(
          s"maintenance on $path lost the commit rename for b=$next: a " +
            "concurrent writer (an ingest, or a second maintenance owner " +
            "violating the single-owner contract) committed that id " +
            s"first. The store is unchanged; re-run the maintenance. ($e)")
      case e: Throwable =>
        rollbackMarker()
        rmTree(tmp)
        throw e
    }
    bs.foreach(b => rmTree(new java.io.File(s"${root.getPath}/b=$b")))
    // token-checked for the same reason: a second owner entering
    // maintenance between our commit and this line sees our token-matched
    // marker, FINISHES our cleanup (recoverCompaction), and may already
    // have published its own pass's marker — which must survive us.
    rollbackMarker()
  }

  /** The EXCLUSIVE hard link a foreign-marker restore uses — seam for
    * the portability spec (stubbed to throw UnsupportedOperationException
    * there); production behavior is exactly `Files.createLink`. */
  protected def createMarkerLink(target: java.nio.file.Path,
                                 source: java.nio.file.Path): Unit =
    java.nio.file.Files.createLink(target, source)

  /** Roll back the pending marker IF it still carries `token`; restore a
    * foreign (possibly live) owner's marker otherwise. See the rollback
    * rationale at the call site ([[commitConsolidated]]). */
  private[similarity] def rollbackPendingMarker(token: String): Unit = {
    val claimed = new java.io.File(storageRoot, s".tmp-rollback-$token")
    // only the CLAIM itself may treat IOException as "marker already
    // gone" — a failure after a successful claim holds a possibly-live
    // foreign marker and must attempt restoration, or the claimed file
    // strands at .tmp-* where sweepTmp later deletes it permanently
    val got =
      try {
        java.nio.file.Files.move(pendingMarker.toPath, claimed.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch { case _: java.io.IOException => false }
    if (got) {
      val ours =
        try parseMarker(java.nio.file.Files.readAllBytes(claimed.toPath))
          .exists(_._2 == token)
        catch { case _: java.io.IOException => false } // unreadable: restore
      // whether the claimed copy may be DISCARDED: true once the live
      // marker state is settled (ours, restored, or provably superseded)
      val disposable =
        if (ours) true
        else {
          // foreign (possibly live) marker: restore via an EXCLUSIVE hard
          // link — createLink fails atomically when a marker already
          // exists (a rename would silently clobber a third owner's
          // freshly published one: permanent evidence loss), and the
          // restored path keeps the original inode and mtime, so the
          // MaintInFlightMs age gate reads unchanged. ONLY
          // FileAlreadyExistsException means a newer marker stands (the
          // claimed copy is superseded); on a filesystem without hard
          // links (UnsupportedOperationException, or EPERM surfacing as
          // a bare IOException) the restore falls back to a
          // non-replacing move of the claimed file itself — mtime
          // travels with the rename, and a move collision again means
          // supersession. If even the fallback fails, the claimed copy
          // is the LAST evidence of a live owner's pass and must NOT be
          // deleted (it strands at .tmp-*; sweepTmp's age gate gives the
          // owner MaintInFlightMs to land before it is swept — strictly
          // better than deleting it now).
          try { createMarkerLink(pendingMarker.toPath, claimed.toPath); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => true
            case _: UnsupportedOperationException | _: SecurityException |
                _: java.io.IOException =>
              try {
                // NON-atomic on purpose: ATOMIC_MOVE rename(2) silently
                // REPLACES an existing target, so an even-newer owner's
                // marker published between the grab and this restore
                // would be clobbered by the superseded copy; the plain
                // move throws FileAlreadyExistsException instead
                // (supersession — disposable), at the cost of a
                // microsecond stat-then-rename window
                java.nio.file.Files.move(claimed.toPath,
                  pendingMarker.toPath)
                false // moved back: the claimed path no longer exists
              } catch {
                case _: java.nio.file.FileAlreadyExistsException => true
                case _: java.io.IOException => false // keep the evidence
              }
          }
        }
      if (disposable) claimed.delete()
    }
  }
}

object BatchedSignatureStore {

  /** Lost-race retry bound for [[BatchedSignatureStore.serialized]] —
    * each retry means another writer committed first, so the bound only
    * trips under pathological contention. */
  val MaxIngestRetries = 8

  /** Age past which an unmatched pending marker is presumed a DEAD
    * writer's leftover rather than an in-flight pass (a live pass
    * commits within seconds of writing its marker) — the maintenance
    * twin of [[graft.load.TripletStore.TmpSweepAgeMs]]. */
  val MaintInFlightMs: Long = graft.load.TripletStore.TmpSweepAgeMs

  /** True when the exception chain says a pinned STORE dir vanished
    * under the scan (FileNotFound in the cause chain, or Spark's
    * path-not-found analysis error, naming a path under `under`) — the
    * reader-side signature of a maintenance pass deleting dirs it
    * superseded. For a [[BatchedSignatureStore.serialized]] mutation
    * that means: stale pin, re-pin and re-run. Scoped to the store root
    * ON PURPOSE: a genuinely missing USER input path must surface
    * immediately, not re-run the full acceptance MaxIngestRetries
    * times. */
  private[similarity] def vanishedInput(e: Throwable, under: String): Boolean = {
    var c = e
    var depth = 0
    while (c != null && depth < 16) {
      val m = Option(c.getMessage).getOrElse("")
      c match {
        case _: java.io.FileNotFoundException if m.contains(under) =>
          return true
        case a: org.apache.spark.sql.AnalysisException
            if Option(a.getErrorClass).exists(_.contains("PATH_NOT_FOUND")) &&
              m.contains(under) =>
          return true
        case _ =>
      }
      c = if (c.getCause ne c) c.getCause else null
      depth += 1
    }
    false
  }

  /** A single-owner maintenance pass ([[BatchedSignatureStore.compact]]
    * / `rewriteAll`) lost its commit rename to a concurrently committed
    * batch. The store is UNCHANGED (marker rolled back, no dir deleted);
    * deliberately NOT retried — a maintenance race is a scheduling bug
    * to surface, not a state to converge through. */
  class ConcurrentMaintenanceException(msg: String)
    extends IllegalStateException(msg)

  /** The store holds a pending-maintenance marker with no owner token
    * (a crashed pre-token pass). Neither recovery direction is safe to
    * take blind, so reads and maintenance refuse until an operator
    * resolves it; the store is untouched. */
  class UntokenedMarkerException(msg: String)
    extends IllegalStateException(msg)

  /** Result of a full-recall dedup SWEEP over a standing index — the
    * compact-thorough half of the ingest-fast / compact-thorough split
    * every conservatively-capped intake pairs with
    * ([[MediaDedupIndex.sweep]], [[SemanticDedupIndex.sweep]]). */
  case class SweepStats(nBefore: Long, nKept: Long, nEvicted: Long)
}
