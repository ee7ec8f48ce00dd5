package graft.load

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Temporally versioned triple store — the Spark restatement of the
  * reference's Postgres history schema and its V1-V8 load operators
  * (`code/load/mlentory_load/core/GraphHandler.py:348-714`,
  * `init.sql`): an SCD-2 fact table of (triple, extraction-info) validity
  * ranges maintained by join-based MERGE (no Delta in the offline jar
  * set — SURVEY §7.3).
  *
  * Merge semantics per update batch at logical time `now`:
  *  - V1/V2 get-or-create: identity via md5 hashes computed with Spark
  *    built-ins (codegen'd), never collected to the driver.
  *  - V3 extend: an open range matched by an incoming (triple, info) gets
  *    `useEnd := max(useEnd, extractionTime)`.
  *  - V4 deprecate-changed: open ranges whose subject appears in the batch
  *    but whose (triple, info) does not → `deprecated := true, useEnd := now`
  *    (`GraphHandler.py:372-419`).
  *  - V6 delta emit: merge returns the new-triple and deprecated-triple
  *    sets for downstream graph sinks.
  *
  * Storage layout (format generation 3) is merge-on-read, LSM-style:
  * each merge commits ONLY its changed rows — extended, fresh, and
  * newly-deprecated — as a delta (`v=N`); untouched open ranges and the
  * closed history are never rewritten, so write amplification per batch
  * is O(changed), not O(store). `compact()` materializes the full state
  * as a base snapshot (`base=N`) and drops the dirs it supersedes.
  * A snapshot at version v is reconstructed as: newest base ≤ v, plus
  * the deltas in (base, v]. Open rows are latest-writer-wins per
  * (tripletHash, infoHash) — the merge maintains at most one OPEN range
  * per identity, so a window by identity ordered by writing version
  * (ties: open before closed, which co-occur only inside a base) picks
  * exactly the live row; closed rows are immutable once written and are
  * unioned from every level. The reconstruction window and the MERGE
  * join hash-partition on the same identity key, so the join reuses the
  * window's exchange rather than shuffling twice. The read verbs
  * cluster on `tripletHash` alone instead, which serves both the window
  * and their triple dedup: one exchange per read.
  *
  * Scale: level dirs carry a subject-hash partition column (`sbkt =
  * pmod(xxhash64(subject), N)`). N is auto-sized from the first
  * lake-sized level by default (`_BUCKETS` records the current count),
  * RE-DERIVED at compaction when the base outgrew it (a store that
  * starts small does not keep its day-one N at 100 TB), and every
  * bucketed level SELF-DESCRIBES the modulus it was actually written
  * with (`_SBKT_N` inside the dir) — so levels under different Ns
  * coexist and each gets its own correct bucket filter; the
  * merge collects its batch's distinct bucket ids (≤ N, a driver-safe
  * scalar list) and PRUNES the level read to those partition dirs — so
  * the scan itself is O(touched buckets), not a full-lake read per
  * micro-batch. Within the read partitions, files sort by (subject,
  * identity hash), and a driver-bounded batch (≤ `subjectLiteralCap`
  * distinct subjects) pushes its subject list into the scans as a
  * LITERAL predicate — parquet footer stats AND per-file subject bloom
  * filters then prune row groups
  * inside each touched bucket, so pruning does NOT saturate when a
  * large batch touches all N partition dirs (coupon-collector at
  * ~N·ln N subjects). Above the cap the restriction falls back to a
  * semi-join AQE can broadcast (the identity key embeds the subject,
  * so whole groups drop, never a group's shadowing rows). Either way
  * the merge THEN windows and full-outer joins on tripletHash+infoHash
  * with the window's exchange reused by the join: O(touched + batch)
  * read, shuffled and materialized, never O(store).
  * Levels below `bucketMinRows` write UNBUCKETED — a small level is
  * cheaper to scan whole than to fan out 64 ways, and the pruning win
  * lives in the lake-sized levels (the compacted base above all) — and
  * unbucketed levels read in full (correct, unpruned) until a
  * compaction folds them into a lake-sized, bucketed base.
  * The read side spans the base plus the deltas
  * since the last compaction, bounded by the AUTOMATIC compaction
  * cadence: after a merge pushes the live level count (base + deltas)
  * past `autoCompactEvery`, the merge itself compacts down to
  * `autoCompactKeep` retained versions — the measured 1-4 level cycle
  * with flat merge wall time (SCALE.md § Triple store) becomes the default
  * operating mode instead of a caller's chore (`autoCompactEvery = 0`
  * disables it for callers managing their own cadence). Base and delta
  * files are SUBJECT-clustered ([[graft.sinks.Sinks.writeClustered]]
  * on subject, tripletHash, infoHash — sbkt leading when bucketed):
  * each file covers a narrow subject range with footer min/max stats,
  * so the literal subject predicates above prune row groups and whole
  * files; `targetRowsPerFile` sizes the range partitioning (at 100 TB:
  * total rows / target file size).
  *
  * Time-travel below the compaction horizon THROWS rather than
  * returning an empty snapshot: a `delta(fromV, toV)` whose `fromV` was
  * compacted away would otherwise silently report every live triple as
  * "added".
  *
  * Concurrency: a version commits as write-to-temp + ONE atomic rename
  * to `v=N` — of two writers racing the same version, exactly one
  * rename wins and the loser throws ConcurrentModificationException
  * (never a silent overwrite; its MERGE was computed against a stale
  * snapshot, so the caller re-reads and re-merges —
  * [[TripletStore!.mergeWithRetry]] does exactly that with bounded
  * attempts, yielding a serializable history). A crash at any
  * point leaves only `.tmp-` garbage invisible to readers (swept by
  * compaction after [[TripletStore.TmpSweepAgeMs]]); a torn `v=N` dir
  * cannot arise from this writer. Compaction/retention is SINGLE-OWNER
  * and the rule is ENFORCED, not a convention: every pass first CLAIMS
  * a tokened marker ([[TripletStore.CompactionMarker]], exclusive
  * publish, AFTER its own [[TripletStore.CompactionSeqMarker]] sidecar)
  * and HEARTBEATS that sidecar (a sequence bump every
  * [[TripletStore.CompactionHeartbeatMs]]) for as long as the pass
  * runs. The sidecar is the claim's one liveness signal — a second
  * owner throws [[TripletStore.ConcurrentCompactionException]] with
  * the store untouched; only a claim whose (token, sidecar) a claimant
  * has OBSERVED unchanged across [[TripletStore.TmpSweepAgeMs]] on its
  * own clock (a crashed owner, not merely a slow or clock-skewed one:
  * a 100 TB base build routinely outlives any fixed claim age) is
  * taken over. The owner re-verifies its token immediately before the
  * deletion phase, so a pass that WAS taken over (JVM paused past the
  * liveness window) aborts loudly with its base committed and nothing
  * deleted, rather than interleaving deletions under the new owner's
  * build. A compaction can still delete level dirs a
  * concurrent READER in another process is scanning (the reader fails
  * loudly, not wrongly); run merges freely, compaction serializes
  * itself.
  */
class TripletStore(spark: SparkSession, path: String,
                   autoCompactEvery: Int = 4,
                   autoCompactKeep: Int = 2,
                   targetRowsPerFile: Long = 1L << 20,
                   subjectBuckets: Int = 0,
                   bucketMinRows: Long = TripletStore.DefaultBucketMinRows,
                   subjectLiteralCap: Int = TripletStore.DefaultSubjectLiteralCap) {

  import TripletStore._

  private val fs = new java.io.File(path)

  // No session conf is touched: `spark.sql.parquet.pushdown.inFilterThreshold`
  // stays at its default, so every >10-literal subject predicate takes
  // Spark 4.1's above-threshold In path, which prunes row groups by the
  // value set against footer stats and subject bloom filters at any
  // literal count (SCALE.md § Triple store), with none of the or-tree's
  // recursion cliff (task StackOverflowError in (1024, 1536]) and a
  // fraction of its planning cost.

  /** Atomic marker publication (temp sibling + ATOMIC_MOVE): a plain
    * truncate-in-place write races a concurrent reader into observing
    * the EMPTY mid-write file — the fuzz caught exactly that on the
    * format marker, and retention runs concurrently with merges/readers
    * by design, so the horizon marker needs the same discipline. */
  private def publishMarker(name: String, contents: String): Unit = {
    val tmp = new java.io.File(fs,
      s".tmp-marker-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp.toPath, contents)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(fs, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `name` EXCLUSIVELY: of N concurrent publishers exactly one
    * wins, the losers observe the winner's file, and the content is
    * never seen torn (it lands in a temp sibling first; the final-name
    * creation is atomic). Returns whether THIS call won. `Files.move`
    * with ATOMIC_MOVE maps to rename(2) on POSIX, which silently
    * REPLACES an existing target — so exclusivity comes from
    * `createLink` (hard links fail atomically with
    * FileAlreadyExistsException when the target exists); on a
    * filesystem without hard links the fallback is an O_EXCL
    * CREATE_NEW write (exclusive, though a reader racing the winner's
    * in-flight content write can observe a short file — callers that
    * cannot tolerate that should require a link-capable fs). */
  private def publishMarkerExclusive(name: String, contents: String): Boolean = {
    fs.mkdirs()
    val target = new java.io.File(fs, name)
    val tmp = new java.io.File(fs,
      s".tmp-marker-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp.toPath, contents)
    try {
      try {
        java.nio.file.Files.createLink(target.toPath, tmp.toPath)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: SecurityException =>
          try {
            java.nio.file.Files.writeString(target.toPath, contents,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      }
    } finally tmp.delete()
  }

  /** Parse an int marker with a BOUNDED retry on empty/unparseable
    * content: [[publishMarkerExclusive]]'s CREATE_NEW fallback (on a
    * link-incapable filesystem) documents that a reader racing the
    * winner's in-flight content write can observe a SHORT file — a bare
    * `readString(...).trim.toInt` there crashed one of a racing
    * first-bucketed writer pair with an unhelpful
    * NumberFormatException instead of the documented contract. The torn
    * state lasts one write syscall, so a few 25 ms retries absorb it;
    * persistent garbage (tampering, a real torn marker from a
    * pre-protocol writer) still fails loudly, now with the contract in
    * the message. */
  private[load] def readMarkerInt(m: java.io.File): Int = {
    var attempt = 0
    var out = Option.empty[Int]
    while (out.isEmpty) {
      out = java.nio.file.Files.readString(m.toPath).trim.toIntOption
      if (out.isEmpty) {
        attempt += 1
        if (attempt >= MarkerReadAttempts)
          throw new IllegalStateException(
            s"marker ${m.getName} at $path holds no parseable int after " +
              s"$MarkerReadAttempts reads: a racing writer's in-flight " +
              "CREATE_NEW content write resolves in milliseconds — " +
              "persistent garbage means a torn or tampered marker " +
              "(concurrent first-bucketed writers require a " +
              "link-capable filesystem)")
        Thread.sleep(25)
      }
    }
    out.get
  }

  /** Pin the store's bucket count at the FIRST bucketed commit and
    * return the PINNED value (which may be a concurrent winner's, not
    * this writer's candidate). The marker must exist before any `sbkt=`
    * dir so a reader never has to guess the modulus, and the publish is
    * EXCLUSIVE + re-read: two first-bucketed writers configured with
    * different seeds would otherwise race exists()-then-publish and
    * leave a marker disagreeing with an already-written level's actual
    * modulus — bucket pruning would then silently drop rows. Whoever
    * wins, every writer buckets by the read-back value.
    *
    * Under auto-sizing (`subjectBuckets = 0`, the default) the candidate
    * scales with the first lake-sized level — about one bucket per
    * target file, clamped to [[TripletStore.DefaultSubjectBuckets]] ..
    * [[TripletStore.MaxSubjectBuckets]] — so a 100 TB first base pins
    * thousands of buckets instead of the flat 64 whose pruning term a
    * ~200-subject batch already saturates (coupon-collector: a batch of
    * s random subjects covers ~N(1-e^(-s/N)) buckets). The pin is NOT
    * forever under auto-sizing: compaction re-derives it when the base
    * outgrew the recorded count ([[repinCandidate]]) — a store that
    * starts small would otherwise keep its day-one N at 10^12 rows
    * (~1.6 TB per touched bucket at N=64). Explicitly seeded stores
    * keep their recorded N. */
  private def pinBucketN(rows: Long): Int = {
    val m = new java.io.File(fs, BucketMarker)
    if (!m.exists()) {
      val candidate =
        if (subjectBuckets > 0) subjectBuckets
        else autoBucketN(rows)
      publishMarkerExclusive(BucketMarker, candidate.toString)
    }
    readMarkerInt(m)
  }

  /** The auto-sizing rule: about one bucket per target file, clamped to
    * [[TripletStore.DefaultSubjectBuckets]]..[[TripletStore.MaxSubjectBuckets]]. */
  private def autoBucketN(rows: Long): Int =
    math.min(MaxSubjectBuckets.toLong, math.max(
      DefaultSubjectBuckets.toLong, rows / targetRowsPerFile)).toInt

  /** The new bucket count a compaction should re-pin — Some only when
    * the store auto-sizes (an explicit `subjectBuckets` is the caller's
    * contract to keep), the base being materialized is lake-sized, and
    * it derives at least TWICE the recorded N (hysteresis: never shrink,
    * never churn the marker for marginal growth). Compaction is the
    * natural re-pin moment: it is single-owner (the claim) and rewrites
    * the base anyway. Every bucketed level self-describes its own
    * modulus ([[TripletStore.LevelBucketMarker]]), so levels surviving
    * the pass keep reading their old N beside the new base. */
  private def repinCandidate(rows: Long): Option[Int] = {
    val m = new java.io.File(fs, BucketMarker)
    if (subjectBuckets != 0 || rows < bucketMinRows || !m.exists()) None
    else {
      val candidate = autoBucketN(rows)
      if (candidate >= 2L * readMarkerInt(m)) Some(candidate) else None
    }
  }

  /** A level dir written under the bucketed layout carries `sbkt=`
    * partition children; a sub-threshold or empty dir does not. Per-dir
    * self-description is what lets one store hold both layouts side by
    * side. */
  private def isBucketed(dirName: String): Boolean =
    Option(new java.io.File(fs, dirName).listFiles())
      .exists(_.exists(f => f.isDirectory &&
        f.getName.startsWith(s"$BucketCol=")))

  /** Commit `level` (physSchema rows) as `dirName` via the rename
    * protocol — subject-bucketed when the level is lake-sized
    * (`rows >= bucketMinRows`, see [[TripletStore.DefaultBucketMinRows]]),
    * plain below the floor; SUBJECT-clustered either way: files sort by
    * (subject, tripletHash, infoHash) within a bucket, so a literal
    * subject predicate ([[reconstruct]]'s `subjectLits`) prunes whole
    * files and row groups via parquet footer min/max stats INSIDE a
    * touched bucket — the within-bucket continuation of partition
    * pruning (the identity hash is md5, which destroys subject
    * locality; the old tripletHash-first sort left a 100 TB bucket
    * unprunable by subject). The MERGE join is unaffected: it hash
    * partitions on (tripletHash, infoHash) regardless of file order.
    *
    * A bucketed level SELF-DESCRIBES its modulus: the N it was bucketed
    * with lands as [[TripletStore.LevelBucketMarker]] inside the dir,
    * atomic with the commit rename — readers derive each level's bucket
    * filter from the level's OWN modulus, never a store-wide guess, so
    * levels written under different Ns (compaction re-pins, see
    * [[compact(keep:Int)*]]) coexist correctly. `forceN` buckets by an
    * explicit count instead of the pinned marker — the re-pin path,
    * where the new N lands with the base before the store marker moves. */
  private def commitLevel(level: DataFrame, rows: Long, tmpTag: String,
                          dirName: String, forceN: Option[Int] = None): Unit = {
    val tmp = AtomicDirCommit.tmpFor(fs, tmpTag)
    // subject bloom filters per row group: the sorted-file footer stats
    // prune by subject RANGE; the bloom prunes by subject SET — the
    // difference is row groups whose min..max happens to span a probed
    // subject that is not actually present (most row groups of a
    // touched bucket under a hash-scattered probe set: measured 2x, see
    // SCALE.md § Triple store). Read-side use is parquet's default
    // row-group filtering — no reader conf needed. Gated on the SAME
    // lake-size floor as bucketing: a sub-threshold level is one or two
    // row groups that any matching read loads anyway, so a bloom there
    // is pure write-side overhead for pruning that can never engage
    // (a DriftTwin A/B measured the overhead within noise at fixture
    // scale — the gate is shape hygiene, not a hot fix).
    val bloom = Map("parquet.bloom.filter.enabled#subject" -> "true")
    if (rows >= bucketMinRows) {
      // pin BEFORE bucketing, bucket by the PINNED value (a concurrent
      // first-bucketed writer may have won the pin with a different N)
      val bN = forceN.getOrElse(pinBucketN(rows))
      graft.sinks.Sinks.writeClusteredByOpts(
        level.withColumn(BucketCol, subjectBucket(col("subject"), bN)),
        tmp.getAbsolutePath, nFilesFor(rows), targetRowsPerFile, bloom,
        BucketCol, "subject", "tripletHash", "infoHash")
      java.nio.file.Files.writeString(
        new java.io.File(tmp, LevelBucketMarker).toPath, bN.toString)
    } else
      graft.sinks.Sinks.writeClustered(level, tmp.getAbsolutePath,
        nFilesFor(rows), targetRowsPerFile,
        "subject", "tripletHash", "infoHash")
    AtomicDirCommit.commit(tmp, new java.io.File(fs, dirName))
  }

  /** The modulus a bucketed level's `sbkt` ids were computed with: its
    * own [[TripletStore.LevelBucketMarker]], committed with the level.
    * A bucketed level without one predates per-level self-description;
    * guessing its modulus from the store marker could silently mis-prune
    * live rows, so the read refuses instead.
    *
    * @throws IllegalStateException the level carries no modulus marker */
  private def levelModulus(dirName: String): Int = {
    val m = new java.io.File(new java.io.File(fs, dirName), LevelBucketMarker)
    if (!m.exists())
      throw new IllegalStateException(
        s"bucketed level $path/$dirName carries no $LevelBucketMarker: the " +
          "store predates per-level self-description of the bucket " +
          "modulus; replay its batches into a fresh store")
    readMarkerInt(m)
  }

  /** Only COMMITTED snapshots are visible (shared `_SUCCESS` gating —
    * see CommittedDirs); additionally, a non-empty store must carry the
    * current store-format marker: the tripletHash formula and the
    * snapshot layout each changed once (format 2: NUL-separated
    * null-coalesced identity fields; format 3: delta layout), and
    * silently merging into a store written under an older generation
    * would mis-extend/deprecate every pre-existing range or double-count
    * its history. Fail loudly instead. */
  private def versions: Seq[Int] = {
    val vs = (deltaVersions ++ baseVersions).distinct.sorted
    if (vs.nonEmpty) {
      val marker = new java.io.File(fs, FormatMarker)
      // compare the CONTENT, not mere existence — a future format bump
      // must also refuse stores carrying today's marker
      val recorded =
        if (marker.exists())
          java.nio.file.Files.readString(marker.toPath).trim
        else ""
      if (recorded != IdentityFormat.toString)
        throw new IllegalStateException(
          s"TripletStore at $path was written with identity-hash format " +
            s"'$recorded' (current: $IdentityFormat); replay its batches " +
            "into a fresh store to re-key it")
    }
    vs
  }

  private def deltaVersions: Seq[Int] = CommittedDirs.list(fs, "v=")
  private def baseVersions: Seq[Int] = CommittedDirs.list(fs, "base=")

  def currentVersion: Int = versions.lastOption.getOrElse(-1)

  /** Oldest version still answerable by time-travel reads; -1 when empty.
    * Versions below it were folded into a base by compaction. */
  def oldestRetainedVersion: Int = versions.headOption.getOrElse(-1)

  /** Live level count a current read spans: the newest base (if any)
    * plus the deltas above it. The auto-compaction cadence keeps this at
    * or below `autoCompactEvery` after every merge; exposed so operators
    * can alert on it when running with `autoCompactEvery = 0`. */
  def levelCount: Int = {
    val floor = baseVersions.lastOption.getOrElse(-1)
    deltaVersions.count(_ > floor) + (if (floor >= 0) 1 else 0)
  }

  private def emptyRanges: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rangeSchema)

  /** The committed level files covering snapshot v: the newest base ≤ v
    * plus every delta in (base, v]. Deltas at or below a base are its
    * leftovers (a compaction that crashed before its deletions, or a
    * retention pass's kept claim) and are superseded by construction.
    *
    * `bucketsFor`, when given, restricts each BUCKETED level to the
    * touched `sbkt` partitions — a planning-time PartitionFilter, so the
    * scan reads only the touched partition dirs' files, not all live
    * rows (PlanSpec pins the filter; SCALE.md § Triple store records
    * flat files-read under a 10× untouched-store growth). It is a
    * FUNCTION of the level's modulus, evaluated per level against that
    * level's self-described N ([[levelModulus]]): after a compaction
    * re-pin, retained old-N deltas and the new-N base each get their own
    * correct filter. Unbucketed levels carry no partition column and are
    * read in full (correct, unpruned — they are small by construction).
    * Visible to the plan/scale specs. */
  private[graft] def levelsAt(v: Int,
                              bucketsFor: Option[Int => Seq[Int]] = None): Option[DataFrame] = {
    val floor = baseVersions.filter(_ <= v).lastOption
    val deltas = deltaVersions.filter(d => d > floor.getOrElse(-1) && d <= v)
    val names = floor.map(b => s"base=$b").toSeq ++ deltas.map(d => s"v=$d")
    if (names.isEmpty) None
    else {
      val (bucketed, plain) = names.partition(isBucketed)
      // bucketed dirs are read ONE PER SCAN: a multi-root read would run
      // partition discovery across the level names themselves (`v=N`
      // conflicts with `sbkt=`); the level count is bounded by the
      // compaction cadence, and each bucket filter pushes into its own
      // scan's PartitionFilters
      val parts =
        bucketed.map { n =>
          val df = spark.read.schema(bucketedPhysSchema)
            .parquet(s"$path/$n")
          val filt = bucketsFor.map { f =>
            val bs = f(levelModulus(n))
            if (bs.isEmpty) lit(false) else col(BucketCol).isin(bs: _*)
          }
          filt.fold(df)(df.filter).drop(BucketCol)
        } ++
        (if (plain.isEmpty) None
         else Some(spark.read.schema(physSchema)
           .parquet(plain.map(n => s"$path/$n"): _*)))
      Some(parts.reduce(_ unionByName _))
    }
  }

  /** Snapshot reconstruction at version v. Open rows: latest writer per
    * identity wins (ties — one base holding both the open row and older
    * closed rows of the same identity — resolved open-first); closed
    * rows are append-only across all levels. One window over
    * (`tripletHash`, `infoHash`) ordered by writing version answers
    * both: `openOnly` keeps its live rows, otherwise the same filter also
    * keeps every closed row — one scan of the levels either way.
    *
    * The window's exchange is the plan's only one, and `clustered`
    * chooses its key. Merge passes `false`: the window hash-partitions
    * on (`tripletHash`, `infoHash`), which is exactly what merge's
    * full-outer join on that pair requires, so the join reuses the
    * exchange. The read verbs pass `true`: the rows are hash-partitioned
    * on `tripletHash` alone, which satisfies the window AND a following
    * `dropDuplicates("tripletHash")` ([[triples]]), so latest-per-identity
    * and the triple dedup share one exchange. Clustering merge the same
    * way would cost its join a second exchange.
    *
    * `subjects`, when given, restricts the reconstruction to those
    * subjects BEFORE the window. Safe because the window key embeds the
    * subject (tripletHash hashes it): the filter drops whole identity
    * groups, never a group's shadowing rows — and it turns the merge's
    * store-side shuffle into O(touched rows), with AQE free to broadcast
    * the subject list when the batch is small. `subjectLits` is the
    * stronger, driver-bounded form of the same restriction: a LITERAL
    * `isin` predicate that reaches the parquet scans as a pushed filter
    * (`PushedFilters: [In(subject, ...)]`), so footer min/max stats on
    * the subject-sorted files prune row groups and whole files WITHIN a
    * touched bucket — the semi-join can only drop rows after reading
    * them. The two are exclusive; `subjectLits` must be the COMPLETE
    * subject set (merge deprecates every surviving open row the batch
    * does not match). `bucketsFor` is the scan-side twin (see [[levelsAt]]):
    * the subjects' bucket ids — under each level's own self-described
    * modulus — prune level FILES at planning time —
    * together the merge reads O(touched partitions ∩ matching row
    * groups) and materializes O(touched + batch). Visible to the
    * plan/scale specs. */
  private[graft] def reconstruct(v: Int, openOnly: Boolean,
                                 subjects: Option[DataFrame] = None,
                                 bucketsFor: Option[Int => Seq[Int]] = None,
                                 subjectLits: Option[Seq[String]] = None,
                                 clustered: Boolean = false): DataFrame = {
    requireRetained(v)
    levelsAt(v, bucketsFor) match {
      case None => emptyRanges
      case Some(all0) =>
        // null-safe in both forms: a legal null-subject row (the identity
        // hash null-coalesces) must stay visible to merge — a plain
        // equi-join (or a bare isin) never matches null, so such rows
        // could never be extended or deprecated and every re-merge would
        // open a new shadowing range.
        val all = subjectLits match {
          case Some(lits) =>
            // ONE In regardless of size (<= subjectLiteralCap): Spark 4.1
            // pushes any above-threshold In through its native set path —
            // per-row-group pruning against footer stats AND the subject
            // bloom filters commitLevel writes, with no or-tree recursion
            // cliff and no range collapse (measured: SCALE.md § Triple
            // store). Row-level evaluation is a hash-set InSet, at any
            // list size up to the cap.
            //
            // Defense for deployment-RAISED thresholds: an In at or
            // below the session inFilterThreshold pushes as an
            // or-of-equals whose evaluation recursion StackOverflows
            // past the measured cliff (1024 safe, 1536 task-fatal). At
            // the default threshold (10) no list here can form one; if
            // the session raised the
            // threshold past [[TripletStore.OrTreeSafeLiterals]] (a
            // common tuning knob), a mid-size list would — so split it
            // into [[TripletStore.OrTreeChunkLiterals]]-sized In chunks
            // combined with a BALANCED pairwise Or reduction: the
            // deepest pushed path is one chunk's or-tree plus
            // log2(#chunks) (~517 at the 10k cap — well clear of the
            // bracketed (1024, 1536] cliff), and row eval stays one hash
            // InSet per chunk.
            val (nulls, named) = lits.partition(_ == null)
            val threshold = scala.util.Try(spark.conf.get(
              "spark.sql.parquet.pushdown.inFilterThreshold").toInt)
              .getOrElse(10)
            val chunked =
              if (named.size > OrTreeSafeLiterals && named.size <= threshold)
                named.sorted.grouped(OrTreeChunkLiterals).toSeq
              else Seq(named)
            def balancedOr(cs: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
              if (cs.size == 1) cs.head
              else balancedOr(cs.grouped(2).map(_.reduce(_ || _)).toSeq)
            val p0 =
              if (named.isEmpty) lit(false)
              else balancedOr(chunked.map(c => col("subject").isin(c: _*)))
            all0.filter(
              if (nulls.nonEmpty) p0 || col("subject").isNull else p0)
          case None => subjects.fold(all0)(s =>
            all0.join(s.select(col("subject").as("__batch_subject")),
              col("subject") <=> col("__batch_subject"), "left_semi"))
        }
        val w = Window.partitionBy("tripletHash", "infoHash")
          .orderBy(col("v").desc, col("deprecated").asc)
        val live = col("rn") === 1 && !col("deprecated")
        (if (clustered) all.repartition(col("tripletHash")) else all)
          .withColumn("rn", row_number().over(w))
          .filter(if (openOnly) live else live || col("deprecated"))
          .select(rangeCols: _*)
    }
  }

  /** Fail loudly when snapshot `v` is not answerable: below the
    * compaction horizon (its levels were dropped), beyond the newest
    * version, or any non-initial version of an empty store. The
    * pre-delta layout raised AnalysisException on the missing `v=` dir;
    * the delta layout must not regress that to a silent empty result. */
  private def requireRetained(v: Int): Unit = {
    val vs = versions
    if (v < 0 && vs.isEmpty) return // empty store, empty snapshot
    if (vs.isEmpty || v < vs.head || v > vs.last)
      throw new IllegalArgumentException(
        s"snapshot version $v is not retained by the store at $path " +
          s"(retained: ${if (vs.isEmpty) "none"
            else s"${vs.head}..${vs.last}"}); versions below the " +
          "compaction horizon cannot be reconstructed")
  }

  /** Full ranges table at the latest snapshot (empty schema-typed DF when
    * the store is new). */
  def ranges: DataFrame = reconstruct(currentVersion, openOnly = false)

  /** V8 current-graph scan: non-deprecated triples. */
  def currentTriples: DataFrame =
    triples(reconstruct(currentVersion, openOnly = true, clustered = true))

  /** The distinct triples of a `clustered` reconstruction. `tripletHash`
    * is the md5 of exactly these five null-coalesced fields
    * ([[TripletStore.withIdentity]]), so one row per `tripletHash` is the
    * same set as a five-column `distinct()` — and the dedup rides the
    * reconstruction's exchange instead of planning its own. */
  private def triples(ranges: DataFrame): DataFrame =
    ranges.select(col("tripletHash") +: tripleCols: _*)
      .dropDuplicates("tripletHash")
      .select(tripleCols: _*)

  /** Oldest timestamp still answerable by [[asOf]]; None when no
    * time-based retention pass ([[compact(olderThan:Timestamp)*]]) has
    * run — then the full closed history is present and any t answers. */
  def retentionHorizon: Option[Timestamp] = {
    val f = new java.io.File(fs, HorizonMarker)
    if (f.exists())
      Some(new Timestamp(
        java.nio.file.Files.readString(f.toPath).trim.toLong))
    else None
  }

  private def horizonMs: Long =
    retentionHorizon.map(_.getTime).getOrElse(Long.MinValue)

  /** As-of query over validity ranges (§7.1 query layer). Below the
    * time-retention horizon it THROWS rather than answering from a
    * history whose closed ranges were purged — the timestamp analog of
    * the version-travel horizon check. */
  def asOf(t: Timestamp): DataFrame = {
    val h = horizonMs
    if (t.getTime < h)
      throw new IllegalArgumentException(
        s"as-of $t is below the retention horizon ${new Timestamp(h)} of " +
          s"the store at $path: closed ranges ending before the horizon " +
          "were purged by compact(olderThan) and the snapshot cannot be " +
          "reconstructed")
    triples(reconstruct(currentVersion, openOnly = false, clustered = true)
      .filter(col("useStart") <= lit(t) &&
        (lit(t) <= col("useEnd") || !col("deprecated"))))
  }

  /** A9 sanity count: distinct current subjects. */
  def distinctSubjectCount: Long =
    currentTriples.select("subject").distinct().count()

  /** The bucket ids of `subjects` as a function of a level's modulus —
    * evaluated ON THE DRIVER through the same Catalyst expression class
    * the write side codegens ([[TripletStore.subjectBucketLocal]]
    * documents the parity pin), so a point lookup or a literal-path
    * merge spends ZERO Spark jobs deriving its partition filters.
    * Memoized per modulus: [[levelsAt]] calls it once per bucketed
    * level, and after a re-pin two moduli are live at once. */
  private def bucketsFn(subjects: Seq[String]): Int => Seq[Int] = {
    val memo = scala.collection.concurrent.TrieMap.empty[Int, Seq[Int]]
    n => memo.getOrElseUpdate(n,
      subjects.map(TripletStore.subjectBucketLocal(_, n)).distinct)
  }

  /** The `clustered` reconstruction restricted to exactly `subjects`.
    * On BUCKETED levels two pruning terms apply: the subjects' bucket
    * ids (per level modulus) prune level FILES at planning time, and up
    * to `subjectLiteralCap` subjects the list itself pushes into the
    * scans as a literal `isin`, so footer stats and subject bloom
    * filters on the subject-sorted files prune row groups WITHIN each
    * touched bucket. Above the cap the restriction is the null-safe
    * semi-join, which drops rows only after reading them. UNBUCKETED
    * levels (below `bucketMinRows`) get only the pushed `isin`, and a
    * small level is typically one row group holding other subjects too,
    * so in practice it is read whole. */
  private def subjectScoped(subjects: Seq[String], openOnly: Boolean): DataFrame = {
    val buckets = Some(bucketsFn(subjects))
    if (subjects.size <= subjectLiteralCap)
      reconstruct(currentVersion, openOnly,
        bucketsFor = buckets, subjectLits = Some(subjects), clustered = true)
    else {
      import spark.implicits._
      reconstruct(currentVersion, openOnly,
        subjects = Some(subjects.toDF("subject")), bucketsFor = buckets,
        clustered = true)
    }
  }

  /** V8 point lookup: the current triples of exactly these subjects —
    * the engine-side analog of the reference's hash index on subject
    * (`data/configuration/hf/load/sql_files/init.sql:28-38`), through
    * [[subjectScoped]]'s pruned level scan. It reads the matching row
    * groups of the touched buckets of bucketed levels, but unbucketed
    * (sub-`bucketMinRows`) levels whole — and until a compaction folds
    * the deltas into a lake-sized bucketed base, those dominate: at
    * `perfbench`'s `harvest_serve` size a lookup reads ~178 parquet rows
    * per returned row (`load.lookup_rows_read_per_row`). The plan has
    * one exchange: the rows are clustered by `tripletHash`, which serves
    * both the latest-per-identity window and the triple dedup
    * ([[reconstruct]]). */
  def currentTriplesFor(subjects: Seq[String]): DataFrame =
    triples(subjectScoped(subjects, openOnly = true))

  /** V8 point lookup AT A TIMESTAMP: these subjects' triples as of `t`
    * — the composition of [[currentTriplesFor]] and [[asOf]], the
    * reference's most natural history-table read ("what did this model
    * card say in January"), sharing the bucket-pruned literal-pushdown
    * scan instead of filtering a whole-store as-of. Closed ranges
    * participate (a range deprecated after `t` still answers): the one
    * window over the subjects' rows yields their open and closed ranges
    * in a single scan of each level, with one exchange. Below the
    * retention horizon it THROWS like [[asOf]]: purged history must
    * never silently answer. */
  def currentTriplesFor(subjects: Seq[String], asOf: Timestamp): DataFrame = {
    val h = horizonMs
    if (asOf.getTime < h)
      throw new IllegalArgumentException(
        s"as-of $asOf is below the retention horizon ${new Timestamp(h)} " +
          s"of the store at $path: closed ranges ending before the " +
          "horizon were purged by compact(olderThan) and the snapshot " +
          "cannot be reconstructed")
    triples(subjectScoped(subjects, openOnly = false)
      .filter(col("useStart") <= lit(asOf) &&
        (lit(asOf) <= col("useEnd") || !col("deprecated"))))
  }

  /** MERGE one extraction batch.
    *
    * @param incoming columns: subject, predicate, obj, objKind, datatype,
    *                 extractionMethod, confidence, extractionTime
    * @param now      logical load time used for deprecation stamps
    */
  def merge(incoming: DataFrame, now: Timestamp): MergeStats =
    // Checkpoint hygiene ([[Checkpoints]] scaladoc): merge returns a
    // scalar after the durable delta commit, so both internal
    // checkpoints (the deduped batch and the MERGE join) are dead on
    // return — and StreamingLoad calls merge once per micro-batch, the
    // exact unbounded-growth regime local-checkpoint leaks hit hardest.
    Checkpoints.scoped(mergeImpl(incoming, now))

  private def mergeImpl(incoming: DataFrame, now: Timestamp): MergeStats = {
    // The snapshot version is read EXACTLY ONCE and pins both the
    // reconstruction and the commit target (v0+1). Reading it twice — once
    // for the snapshot, again at commit time — opened a TOCTOU window: a
    // concurrent writer committing between the two reads would hand this
    // writer a higher commit number, its rename would succeed without a
    // collision, and a delta computed against a stale snapshot would land
    // silently (lost update). With v0 pinned, any interleaved commit owns
    // v0+1 first and this writer's rename collides → retry path.
    val v0 = currentVersion
    // Checkpointed once: the batch is scanned a single time even though it
    // feeds both the MERGE join and the touched-subjects semi-join.
    val inc = Checkpoints.ck(withIdentity(incoming)
      .groupBy("tripletHash", "infoHash")
      .agg(
        first("subject").as("subject"), first("predicate").as("predicate"),
        first("obj").as("obj"), first("objKind").as("objKind"),
        first("datatype").as("datatype"),
        first("extractionMethod").as("extractionMethod"),
        first("confidence").as("confidence"),
        max("extractionTime").as("extractionTime")))

    // Only rows of subjects present in the batch can change (extend,
    // deprecate, or collide with a fresh insert — the identity key embeds
    // the subject), so the store side of the MERGE is the TOUCHED slice,
    // not the live store: the join below materializes O(touched + batch).
    // The batch's distinct BUCKET ids (≤ bN, driver-bounded by
    // construction) prune the level read to the touched partition dirs —
    // without them every merge still SCANNED all live rows even though
    // it materialized only the touched slice, a full-lake read per
    // micro-batch under StreamingLoad at 100 TB. And when the batch's
    // distinct subjects are themselves driver-bounded (≤
    // subjectLiteralCap — every micro-batch regime), the subject list
    // pushes into the level scans as a LITERAL predicate: row groups
    // prune within touched buckets, so the pruning term no longer
    // saturates once a batch covers all N buckets (coupon-collector at
    // ~N·ln N subjects) — the read stays O(matching row groups) even
    // when every partition dir is touched. Above the cap the null-safe
    // semi-join restriction still bounds what materializes.
    val subjSample = inc.select("subject").distinct()
      .limit(subjectLiteralCap + 1).collect().map(_.getString(0)).toSeq
    val open =
      if (subjSample.size <= subjectLiteralCap)
        reconstruct(v0, openOnly = true,
          bucketsFor = Some(bucketsFn(subjSample)),
          subjectLits = Some(subjSample))
      else {
        // above the cap the batch's bucket ids come from a Spark job
        // over the checkpointed batch — one distinct-aggregate per live
        // modulus (one normally; two in the window after a re-pin while
        // old-N deltas survive), memoized so levelsAt's per-level calls
        // reuse it
        val touched = scala.collection.concurrent.TrieMap.empty[Int, Seq[Int]]
        val touchedFn = (m: Int) => touched.getOrElseUpdate(m,
          inc.select(subjectBucket(col("subject"), m).as("b")).distinct()
            .collect().map(_.getInt(0)).toSeq)
        reconstruct(v0, openOnly = true,
          subjects = Some(inc.select("subject").distinct()),
          bucketsFor = Some(touchedFn))
      }

    // The MERGE join runs exactly once, in its eager checkpoint: the
    // delta write must not re-run it, and commitLevel needs the exact
    // delta row count BEFORE the write (it decides bucketing and file
    // sizing). The per-kind counts are observed on that same job.
    val isFresh = col("o.tripletHash").isNull
    val isGone = col("i.tripletHash").isNull
    val (j, counts) = ckObserved(open.as("o").join(inc.as("i"),
      col("o.tripletHash") === col("i.tripletHash") &&
        col("o.infoHash") === col("i.infoHash"), "full_outer"),
      count(when(isFresh, 1)).as("nNew"),
      count(when(!isFresh && !isGone, 1)).as("nExtended"),
      count(when(isGone, 1)).as("nDeprecated"))
    val stats = MergeStats(counts("nNew"), counts("nExtended"), counts("nDeprecated"))

    // The delta holds ONLY the changed rows, one per join row: fresh
    // (stored side null) takes the batch's fields, extended (both sides)
    // and deprecated (batch side null — every open row in j has a touched
    // subject, the reconstruction being subject-restricted) keep the
    // stored ones. Sides are picked by which join key is null, never by
    // coalescing values: a null field is legal. Open ranges of untouched
    // subjects and the closed history stay in the levels on disk.
    val t = col("i.extractionTime")
    val delta = j.select(rangeSchema.fieldNames.toSeq.map {
      case "useStart" => when(isFresh, t).otherwise(col("o.useStart")).as("useStart")
      // `now` is null when StreamingLoad merges an all-null-clock batch
      case "useEnd" => when(isFresh, t).when(isGone, lit(now).cast("timestamp"))
        .otherwise(greatest(col("o.useEnd"), t)).as("useEnd")
      case "deprecated" => isGone.as("deprecated")
      case c => when(isFresh, col(s"i.$c")).otherwise(col(s"o.$c")).as(c)
    }: _*)

    val v = v0 + 1
    // markers BEFORE the delta commit: written after, a crash between
    // the two would brick a correctly-keyed store (the format check only
    // fires once a committed snapshot exists, so the early write is
    // safe), and a bucketed dir must never exist without its modulus
    // pinned. Published ATOMICALLY (temp + rename, [[publishMarker]]):
    // a plain writeString truncates in place, and the two-writer fuzz
    // caught a concurrent reader observing the EMPTY mid-write marker
    // and refusing a perfectly healthy store.
    fs.mkdirs()
    val marker = new java.io.File(fs, FormatMarker)
    val markerCurrent = marker.exists() &&
      java.nio.file.Files.readString(marker.toPath).trim == IdentityFormat.toString
    if (!markerCurrent) publishMarker(FormatMarker, IdentityFormat.toString)
    // Optimistic concurrency on the version commit ([[AtomicDirCommit]]):
    // the delta is written to a process-unique temp dir, then committed
    // with ONE atomic rename to `v=N`. Two writers that both read
    // currentVersion = N-1 race the rename instead of silently
    // overwriting each other in the file sink's Overwrite mode; the
    // loser throws (its MERGE was computed against a stale snapshot;
    // re-merge to retry against the winner's). A crash at ANY point
    // leaves only `.tmp-` garbage swept by compaction — a torn `v=N`
    // cannot exist.
    // identity-clustered delta files, subject-bucketed when lake-sized
    // (bucketed dirs let future merges prune their level reads to the
    // touched buckets), sized by the row count the join's checkpoint
    // observed
    commitLevel(delta.withColumn("v", lit(v)),
      stats.nNew + stats.nExtended + stats.nDeprecated, s"v$v", s"v=$v")
    // Post-commit mask guard: the rename succeeding is NOT sufficient in
    // the multi-writer regime — a compaction that ran between this
    // writer's snapshot pin and its rename DELETES the dropped `v=` dirs,
    // REOPENING those version slots (keeping v=cut only closes the
    // cut-1 straggler; a writer pinned two or more versions stale
    // renames into a reopened lower slot without collision). A delta at
    // or below the newest base is permanently masked by levelsAt — a
    // silent lost update — so detect it here and convert it to the loud
    // retry path: remove our own (masked, unreadable) dir and throw. A
    // false positive — the racing compaction's base already FOLDED this
    // delta in — is safe: merge is idempotent (L1), the retry re-extends.
    val basesNow = baseVersions
    if (basesNow.exists(_ >= v)) {
      // When the racing compaction's cut EQUALS v, it folded this delta
      // into base=v and deliberately kept v=cut standing to hold the
      // slot closed — removing it here would reopen the very slot the
      // keep-v=cut rule protects. The kept dir is already masked by
      // levelsAt and harmless; only remove our dir when it is NOT a
      // kept cut. The throw stays either way: a fold means the merge
      // landed and the retry's re-apply is idempotent (L1).
      if (!basesNow.contains(v))
        Scratch.rm(new java.io.File(fs, s"v=$v"))
      throw new java.util.ConcurrentModificationException(
        s"delta v=$v at $path landed at or below a concurrently committed " +
          "base (a compaction reopened the version slot): the delta would " +
          "be masked, not read — re-merge against the compacted state")
    }

    // auto-compaction cadence: once the live level count exceeds the
    // configured bound, fold down to `autoCompactKeep` retained versions
    // — the level count a reader spans is thus never above
    // autoCompactEvery + 1, without any caller involvement. A lost
    // compaction CLAIM is skipped, not surfaced: the delta above is
    // already durably committed (the merge SUCCEEDED), another owner is
    // folding levels concurrently — rethrowing would report a landed
    // merge as failed and a retry would re-apply the batch.
    if (autoCompactEvery > 0 && levelCount > autoCompactEvery)
      try compact(autoCompactKeep)
      catch { case _: TripletStore.ConcurrentCompactionException => () }
    stats
  }

  /** Optimistic-retry MERGE — the multi-writer discipline: [[merge]]
    * always computes against the newest committed snapshot (nothing is
    * cached across calls) and loses the version-rename race to at most
    * one concurrent writer per attempt; this wrapper catches the loss,
    * backs off briefly, re-reads, re-merges, and retries up to
    * `maxAttempts`. The committed history is then a SERIAL order of the
    * contending merges — every winner's delta was computed against
    * exactly the store state its version number names, so replaying the
    * batches single-writer in commit order reproduces the store
    * bit-for-bit (VersioningLawsSpec fuzzes two barrier-synchronized
    * writers and proves that equality).
    *
    * Requires `autoCompactEvery = 0`: compaction deletes level dirs,
    * and while the claim marker serializes compaction OWNERS against
    * each other, a compaction deleting dirs under a concurrent merge's
    * in-flight scan still fails that merge loudly — and such a loss
    * after a SUCCESSFUL delta commit must not look like a merge loss,
    * or the retry would re-apply the batch. Run compaction from one
    * owner on its own cadence. `onRetry` surfaces each lost race (for
    * metrics); attempts beyond `maxAttempts` rethrow. */
  def mergeWithRetry(incoming: DataFrame, now: Timestamp,
                     maxAttempts: Int = 5,
                     onRetry: Throwable => Unit = _ => ()): MergeStats = {
    require(autoCompactEvery == 0,
      "mergeWithRetry requires a store with autoCompactEvery = 0 " +
        "(multi-writer deployments run compaction from one owner; an " +
        "uncoordinated auto-compaction race could masquerade as a merge " +
        "loss and re-apply the batch)")
    val rnd = new scala.util.Random()
    var attempt = 1
    var out: Option[MergeStats] = None
    while (out.isEmpty) {
      try out = Some(merge(incoming, now))
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
          onRetry(e)
          attempt += 1
          Thread.sleep(25L + rnd.nextInt(100))
      }
    }
    out.get
  }

  /** Eagerly checkpoint `df` ([[Checkpoints.ck]]) and return the named
    * `counts` observed on the checkpoint's own job (`Dataset.observe`):
    * a write path learns its row counts without an action of its own.
    * The checkpoint runs the observed frame's own query execution, so
    * the metrics are read from it synchronously — no `Observation`,
    * whose session listener would wait on the listener bus. */
  private def ckObserved(df: DataFrame, counts: Column*): (DataFrame, Map[String, Long]) = {
    val observed = df.observe("counts", counts.head, counts.tail: _*)
    val c = Checkpoints.ck(observed)
    val row = observed.queryExecution.observedMetrics("counts")
    (c, row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap)
  }

  /** Range-partition file count for `rows` at `targetRowsPerFile`. */
  private def nFilesFor(rows: Long): Int =
    math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt

  /** CLAIM single-owner compaction via a tokened marker — the
    * TripletStore port of [[graft.similarity.BatchedSignatureStore]]'s
    * maintenance protocol. Merges are rename-safe multi-writer, but
    * compaction DELETES level dirs, so the entry point enforces one
    * owner: exactly one claimant wins the EXCLUSIVE marker publish
    * ([[publishMarkerExclusive]]); a loser observing a LIVE marker
    * throws [[TripletStore.ConcurrentCompactionException]] with the
    * store untouched (a lost compaction race is a scheduling bug to
    * surface, not retry) and leaves no file behind; a claim whose
    * owner made no progress for [[claimLivenessWindowMs]] is a dead
    * owner's leftover — the claimant atomically grabs it (rename) and
    * publishes its own.
    *
    * The claimant publishes its own progress sidecar
    * ([[TripletStore.CompactionSeqMarker]]`+token`) BEFORE the marker,
    * so a marker never stands without its owner's sidecar, and a failed
    * sidecar write fails the claim before any marker exists. Liveness
    * has ONE signal, judged clock-free: the owner's heartbeat
    * ([[startCompactionHeartbeat]]) bumps a sequence in that sidecar; a
    * claimant takes over only after it has OBSERVED an unchanged
    * (marker token, that owner's sidecar content) across
    * [[claimLivenessWindowMs]] on its OWN monotonic clock. No cross-host
    * clock is compared on this path, except the disaster-recovery floor
    * (see the inline rationale): a claim whose sidecar is older than 24x
    * the window falls to takeover on first sight. Returns the owner
    * token [[releaseCompaction]] requires. */
  private[load] def claimCompaction(): String = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val own = new java.io.File(fs, CompactionSeqMarker + token)
    fs.mkdirs()
    publishMarker(own.getName, s"$token ${heartbeatSeq.incrementAndGet()}")
    if (!publishMarkerExclusive(CompactionMarker, token)) {
      val marker = new java.io.File(fs, CompactionMarker)
      val owner =
        try Some(java.nio.file.Files.readString(marker.toPath).trim)
        catch { case _: java.io.IOException => None } // released: retry below
      val seq = owner.map(o => new java.io.File(fs, CompactionSeqMarker + o))
      // one observation: either part changing between two observations
      // means the owner made progress
      val observed = owner.map(o => o + "|" +
        scala.util.Try(java.nio.file.Files.readString(seq.get.toPath).trim)
          .getOrElse("<none>"))
      val nowNs = System.nanoTime()
      val frozenForMs = observed.map { st =>
        val prev = claimObservation.get()
        if (prev == null || prev._1 != st) {
          claimObservation.set((st, nowNs)); 0L
        } else (nowNs - prev._2) / 1000000L
      }
      // Disaster-recovery floor for EPHEMERAL claimants: observation
      // memory is process-local, so a claimant that never lives a full
      // window (a fresh JVM per batch run) could never reclaim a crashed
      // store — auto-compaction would skip forever and levels would
      // accumulate unboundedly. A claim whose owner's sidecar was last
      // republished more than 24x the window ago is treated as frozen
      // on FIRST sight. This is the one cross-host clock comparison,
      // deliberately at a bound where it is harmless: each beat
      // republishes the sidecar, so a live owner's is never older than
      // one heartbeat, and a wrongful takeover needs skew or mtime
      // fidelity loss beyond a full DAY at production settings (the
      // owner's pre-deletion verify still bounds the damage). A marker
      // with no sidecar gets no floor: one observed window, as any
      // frozen claim.
      val ancient = seq.exists(f => f.exists() &&
        System.currentTimeMillis() - f.lastModified() >
          24L * claimLivenessWindowMs)
      if (frozenForMs.exists(_ >= claimLivenessWindowMs) || ancient) {
        // observed-dead takeover: the GRAB is atomic (rename), so of N
        // claimants over one frozen marker exactly one proceeds to
        // publish; the rest fall through to the loud throw below
        val grab = new java.io.File(fs, s".tmp-claim-$token")
        try {
          java.nio.file.Files.move(marker.toPath, grab.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          // the seam sees the grab before any cleanup: until the publish
          // below, the emptied slot is open to every claimant
          onClaimTakeover(observed.get)
          grab.delete()
          seq.foreach(_.delete()) // marker first, then its sidecar
        } catch { case _: java.io.IOException => () }
      }
      if (!publishMarkerExclusive(CompactionMarker, token)) {
        own.delete()
        throw new TripletStore.ConcurrentCompactionException(
          s"a compaction pass on $path appears IN FLIGHT (claim " +
            s"unchanged for ${frozenForMs.getOrElse(0L) / 1000}s on this " +
            "observer's clock): compaction is single-owner — the store " +
            "is unchanged; re-run after the owner completes, or keep " +
            "re-running: a claim observed frozen for " +
            s"${claimLivenessWindowMs / 1000}s is a crashed owner's " +
            "leftover and is taken over")
      }
    }
    claimObservation.set(null) // claimed: a future claim starts fresh
    token
  }

  /** Last (composite claim observation, own-monotonic-clock nanos) this
    * instance saw — the observe-no-progress takeover's memory. Process-
    * local by design: a restarted claimant conservatively re-observes
    * for a full window before presuming death. */
  private val claimObservation =
    new java.util.concurrent.atomic.AtomicReference[(String, Long)](null)

  /** How long a claim must be observed UNCHANGED (own clock) before a
    * claimant may presume its owner dead — seam for the protocol specs;
    * production is [[TripletStore.TmpSweepAgeMs]]. */
  protected def claimLivenessWindowMs: Long = TmpSweepAgeMs

  /** Invoked when an observed-dead takeover GRAB succeeds, with the
    * frozen observation — seam for the claim-protocol fuzz (asserts no
    * live-beating owner stood at takeover time); production no-op. */
  protected def onClaimTakeover(observed: String): Unit = ()

  /** Monotone per-owner heartbeat sequence — the progress signal
    * [[claimCompaction]]'s observe-no-progress liveness keys on. */
  private val heartbeatSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Signal claim liveness IFF the marker still carries `token`;
    * returns whether the heartbeat should CONTINUE. One signal per beat:
    * this owner's own sidecar ([[TripletStore.CompactionSeqMarker]]
    * `+token`) gets the next sequence (atomic publish). The marker is
    * never touched, so a takeover between the read and the publish
    * cannot disturb the new owner: it only leaves this dead token's
    * sidecar behind, a `.tmp-` file the compaction sweep collects. Only
    * an OBSERVED foreign token stops the heartbeat: a transient read
    * failure (an NFS blip at hour 2 of a 6-hour base build) skips the
    * beat and retries — treating it as lost ownership would silently
    * kill the thread, freeze the observation, and invite a live-owner
    * takeover, the exact failure the heartbeat exists to prevent. */
  private[load] def heartbeatCompaction(token: String): Boolean = {
    val state =
      try Some(java.nio.file.Files.readString(
        new java.io.File(fs, CompactionMarker).toPath).trim == token)
      catch { case _: java.io.IOException => None } // unreadable: retry
    if (state.contains(true))
      try publishMarker(CompactionSeqMarker + token,
        s"$token ${heartbeatSeq.incrementAndGet()}")
      catch { case _: java.io.IOException => () } // transient: retry next beat
    !state.contains(false) // a confirmed foreign token: ownership lost, stop
  }

  /** Heartbeat the compaction claim on a daemon thread until interrupted
    * (or until a beat observes a foreign token — ownership lost, stop
    * signalling). Keeps a LIVE owner's sidecar advancing for however
    * long the pass runs, so [[claimCompaction]]'s takeover only ever
    * fires on a genuinely crashed owner, however far a 100 TB base
    * build outlives [[TripletStore.TmpSweepAgeMs]]. */
  private[load] def startCompactionHeartbeat(
      token: String,
      intervalMs: Long = CompactionHeartbeatMs): Thread = {
    val t = new Thread(() => {
      try {
        var owned = true
        while (owned && !Thread.currentThread().isInterrupted) {
          Thread.sleep(intervalMs)
          owned = heartbeatCompaction(token)
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-compaction-heartbeat-$token")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Abort (loudly) when the claim no longer carries `token` — called
    * immediately BEFORE the deletion phase of a pass: the base build may
    * have outlived even the heartbeat (a JVM pause past the liveness
    * window lets a claimant take over), and deleting level dirs under
    * the new owner's build is the exact interleaving the claim exists to
    * prevent. Aborting here is safe: the base committed via its own
    * `_SUCCESS` and is either readable or superseded; no level was
    * deleted by this pass. */
  private[load] def verifyCompactionClaim(token: String): Unit = {
    val marker = new java.io.File(fs, CompactionMarker)
    // a transient read failure here (an NFS blip at the deletion gate)
    // must not cost the whole — potentially multi-hour — base build:
    // retry briefly with backoff before concluding the claim was lost.
    // The abort DIRECTION stays conservative: reads exhausted → not held.
    var held = false
    var attempt = 0
    var settled = false
    while (!settled) {
      try {
        held = java.nio.file.Files.readString(marker.toPath).trim == token
        settled = true
      } catch {
        case _: java.io.IOException =>
          attempt += 1
          if (attempt >= MarkerReadAttempts) settled = true
          else Thread.sleep(200L * attempt)
      }
    }
    if (!held)
      throw new TripletStore.ConcurrentCompactionException(
        s"compaction on $path lost its claim before the deletion phase " +
          "(taken over as presumed dead — the owner's heartbeat stalled " +
          s"past ${TmpSweepAgeMs / 1000}s): the committed base is " +
          "readable and harmless; NO level was deleted by this pass — " +
          "the takeover owner's pass performs the cleanup")
  }

  /** The EXCLUSIVE hard link a foreign-marker restore uses — seam for
    * the portability spec (stubbed to throw UnsupportedOperationException
    * there); production behavior is exactly `Files.createLink`. */
  protected def createMarkerLink(target: java.nio.file.Path,
                                 source: java.nio.file.Path): Unit =
    java.nio.file.Files.createLink(target, source)

  /** Release the compaction claim IF still ours — token-checked via the
    * same atomic claim/verify/restore recipe as
    * [[graft.similarity.BatchedSignatureStore]]'s marker rollback: a
    * takeover (this owner presumed dead mid-pass) may have published a
    * NEW live owner's marker, which an unconditional delete would erase.
    * The grab is atomic; a foreign token is put back via EXCLUSIVE link
    * — only FileAlreadyExistsException means an even newer marker stands
    * (the grabbed copy is superseded). On a filesystem without hard
    * links (UnsupportedOperationException, or EPERM surfacing as a bare
    * IOException) the restore falls back to a move-back of the grabbed
    * file itself — the token travels with the rename, so a claimant's
    * observation reads unchanged. If even the fallback fails, the
    * grabbed copy is the LAST evidence of a live owner's pass and
    * strands at `.tmp-*`
    * (sweepTmp's age gate gives that owner [[TripletStore.TmpSweepAgeMs]]
    * to land) — strictly better than deleting it now. This owner's
    * sidecar goes after the marker, whoever holds the marker now. */
  private[load] def releaseCompaction(token: String): Unit = {
    val marker = new java.io.File(fs, CompactionMarker)
    val grab = new java.io.File(fs, s".tmp-release-$token")
    // only the grab itself may treat IOException as "already released/
    // taken": a failure after a successful grab holds a possibly-live
    // foreign marker and must attempt restoration
    val got =
      try {
        java.nio.file.Files.move(marker.toPath, grab.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch { case _: java.io.IOException => false }
    if (got) {
      val ours =
        try java.nio.file.Files.readString(grab.toPath).trim == token
        catch { case _: java.io.IOException => false } // unreadable: restore
      val disposable =
        if (ours) true
        else {
          try { createMarkerLink(marker.toPath, grab.toPath); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => true
            case _: UnsupportedOperationException | _: SecurityException |
                _: java.io.IOException =>
              try {
                // deliberately NON-atomic move: ATOMIC_MOVE maps to
                // rename(2), which silently REPLACES an existing target
                // — an even-newer owner's marker published between our
                // grab and this restore would be clobbered by our
                // superseded copy. The plain move stats the target first
                // and throws FileAlreadyExistsException (= supersession,
                // grab disposable); the residual stat-then-rename window
                // is microseconds vs an unconditional replace.
                java.nio.file.Files.move(grab.toPath, marker.toPath)
                false // moved back: the grabbed path no longer exists
              } catch {
                case _: java.nio.file.FileAlreadyExistsException => true
                case _: java.io.IOException => false // keep the evidence
              }
          }
        }
      if (disposable) grab.delete()
    }
    new java.io.File(fs, CompactionSeqMarker + token).delete()
  }

  /** Compaction: materialize the full state at the oldest retained
    * version as a base snapshot, then drop every level it supersedes —
    * the dropped versions (all but the newest `keep`) stop being
    * time-travel targets; the retained ones stay delta-queryable. The
    * base commits via its own `_SUCCESS` before any deletion, so a crash
    * mid-compaction leaves a readable store (leftover superseded dirs
    * are ignored by `levelsAt` and removed by the next compaction). */
  def compact(keep: Int = 2): Seq[Int] = {
    // single-owner enforcement at the entry: every deletion below runs
    // under the claimed marker ([[claimCompaction]]), kept live by the
    // heartbeat for however long the base build takes
    val owner = claimCompaction()
    val hb = startCompactionHeartbeat(owner)
    try compactOwned(keep, owner)
    finally { hb.interrupt(); hb.join(); releaseCompaction(owner) }
  }

  private def compactOwned(keep: Int, owner: String): Seq[Int] = {
    val vs = versions
    val dropped = vs.dropRight(math.max(1, keep))
    if (dropped.isEmpty) dropped
    // scoped: the snapshot checkpoint is dead once the base dir commits
    // (the return value is a version list, not a plan over `snap`)
    else Checkpoints.scoped {
      val cut = vs.takeRight(math.max(1, keep)).head
      // Retry safety: a prior compaction that crashed after committing
      // base=cut but before its deletions must NOT rewrite the base —
      // reconstruct(cut) would then read the very path being overwritten
      // (Spark refuses) — the committed base is the state; only the
      // superseded dirs remain to delete.
      var repin: Option[Int] = None
      if (!baseVersions.contains(cut)) {
        val (snap, counts) = ckObserved(reconstruct(cut, openOnly = false)
          .withColumn("v", lit(cut)), count(lit(1)).as("rows"))
        // rename-committed like every other landing in this store: two
        // compaction owners racing the same cut collide loudly instead
        // of interleaving Overwrite writes into one torn-but-committed
        // base (the pre-protocol shape BatchedSignatureStore fixed).
        // A lake-sized base gets the bucket partition column here — the
        // one-shot rebucket path for stores of sub-threshold levels.
        // When the base
        // outgrew the recorded bucket count, THIS is the re-pin moment
        // (single-owner, rewrites the base anyway): the base buckets by
        // the re-derived N, self-described; the store marker moves only
        // after the old levels drop ([[repinCandidate]]).
        repin = repinCandidate(counts("rows"))
        commitLevel(snap, counts("rows"), s"base$cut", s"base=$cut", forceN = repin)
      }
      // deletion phase gate: the base build above may have outlived even
      // the heartbeat's liveness (a long JVM pause) and been taken over —
      // deleting under the new owner's build is the exact interleaving
      // the claim prevents, so re-verify the token NOW, with the base
      // durably committed and nothing yet deleted
      verifyCompactionClaim(owner)
      // v=cut is NOT deleted beside its base: it is already masked by
      // levelsAt (deltas at or below a base are superseded), and deleting
      // it would REOPEN the version slot — a straggler merge that pinned
      // v0 = cut-1 before base=cut committed and renames after this
      // cleanup would land at-or-below the base and be silently masked
      // (lost update) instead of colliding loudly. Exactly the shape
      // compact(olderThan)'s claim protocol keeps closed; the kept dir is
      // swept by the NEXT compaction once cut itself is superseded.
      dropped.flatMap(d => Seq(s"v=$d", s"base=$d"))
        .foreach { nm =>
          val d = new java.io.File(fs, nm)
          if (d.exists()) Scratch.rm(d)
        }
      // the store marker moves LAST. A crash before this publish is
      // benign — every level self-describes, later deltas bucket by the
      // old N (correct, just coarser) and the next compaction re-derives
      // again.
      repin.foreach(n => publishMarker(BucketMarker, n.toString))
      AtomicDirCommit.sweepTmp(fs, TmpSweepAgeMs)
      dropped
    }
  }

  /** Time-based retention: keep every range needed to answer [[asOf]]
    * queries at or after `olderThan`; purge the rest. A closed
    * (deprecated) range with `useEnd < olderThan` can never satisfy
    * `useStart <= t <= useEnd` for an in-horizon t, so exactly those
    * rows drop; open ranges are always retained (they answer every
    * future t). The purged state lands as a base at a NEW version and
    * every prior level drops — so version-travel collapses to the new
    * base (same as `compact(keep = 1)`) and timestamp-travel keeps the
    * horizon's guarantee: as-of at or after `olderThan` is unchanged,
    * as-of below it throws (the horizon is recorded in the store and is
    * monotone across passes — a shorter later horizon never un-purges).
    *
    * Crash ordering: the horizon marker is written BEFORE the purged
    * base commits, so a crash mid-pass leaves an un-purged store with an
    * over-strict horizon (reads refuse conservatively) — never a store
    * that silently answers from purged history. The base itself commits
    * via `_SUCCESS` before any deletion, like [[compact(keep:Int)*]].
    *
    * Merge-race ordering: the pass first CLAIMS its version number with
    * an empty rename-committed delta, so a concurrent merge racing the
    * same number collides and retries ABOVE the base instead of landing
    * `v=N` beside `base=N` (different dir names — no rename collision)
    * where reconstruction would silently mask it. The claim dir is
    * deliberately LEFT IN PLACE after the pass (empty, masked by its
    * base): deleting it would reopen the slot for a straggler merge
    * that pinned its snapshot before the claim and renames after the
    * cleanup. A crash between the claim and the base commit likewise
    * leaves only the harmless empty delta.
    *
    * @return the version numbers dropped from the version-travel window
    */
  def compact(olderThan: Timestamp): Seq[Int] = {
    // same single-owner claim as compact(keep): retention deletes every
    // superseded level and must never interleave with a second owner
    val owner = claimCompaction()
    val hb = startCompactionHeartbeat(owner)
    try compactOlderOwned(olderThan, owner)
    finally { hb.interrupt(); hb.join(); releaseCompaction(owner) }
  }

  private def compactOlderOwned(olderThan: Timestamp, owner: String): Seq[Int] = {
    val vs = versions
    if (vs.isEmpty) Seq.empty
    // scoped for the same reason as compact(keep): `snap` is dead once
    // the purged base commits durably
    else Checkpoints.scoped {
      val newHorizon = math.max(horizonMs, olderThan.getTime)
      fs.mkdirs()
      // atomic publication: retention runs concurrently with merges and
      // readers by design, and a truncate-in-place write would let a
      // concurrent retentionHorizon/asOf reader observe the EMPTY
      // mid-write file and throw — same discipline as the format marker
      publishMarker(HorizonMarker, newHorizon.toString)
      // CLAIM the target version number with an empty rename-committed
      // delta before building the purged base. The base lands under a
      // DIFFERENT dir name (`base=N`) than a merge's delta (`v=N`), so
      // without the claim a concurrent merge could commit v=N while
      // retention commits base=N — no rename collision, and the merge's
      // committed delta would sit "at or below the base" and be
      // silently masked by levelsAt: a LOST UPDATE, not a loud failure.
      // With the claim, a racing merge collides on v=N and retries at
      // N+1, which stays above the base and survives.
      var nv = -1
      var attempts = 0
      while (nv < 0) {
        val target = versions.last + 1
        val claim = AtomicDirCommit.tmpFor(fs, s"v$target")
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], physSchema)
          .write.parquet(claim.getAbsolutePath)
        try {
          AtomicDirCommit.commit(claim, new java.io.File(fs, s"v=$target"))
          nv = target
        } catch {
          case e: java.util.ConcurrentModificationException =>
            attempts += 1
            if (attempts > 5) throw e // pathological merge contention
        }
      }
      // reconstruct at nv-1, NOT the entry snapshot: a merge that
      // committed between entry and the claim sits in (entry, nv) and
      // must fold into the base — the deletion below drops every level
      // under nv, so a base built from the stale entry state would
      // silently lose that merge
      val (snap, counts) = ckObserved(reconstruct(nv - 1, openOnly = false)
        .filter(!col("deprecated") ||
          col("useEnd") >= lit(new Timestamp(newHorizon)))
        .withColumn("v", lit(nv)), count(lit(1)).as("rows"))
      val rows = counts("rows")
      // retention is a keep-everything-in-one-base pass, so it is a
      // re-pin moment exactly like compact(keep)'s — same guards, same
      // marker-moves-last ordering
      val repin = repinCandidate(rows)
      commitLevel(snap, rows, s"base$nv", s"base=$nv", forceN = repin)
      // deletion phase gate — same rationale as compactOwned's: never
      // delete under a takeover owner's build
      verifyCompactionClaim(owner)
      // drop everything the base supersedes — but NOT the claim delta:
      // deleting it would REOPEN the v=nv slot for a merge that pinned
      // v0 = nv-1 before the claim and renames after this cleanup (its
      // landing would sit at-or-below the base and be masked — the fuzz
      // spec caught exactly that). The empty claim is harmless beside
      // its base (levelsAt ignores deltas at or below a base) and keeps
      // such a straggler colliding loudly.
      versions.filter(_ < nv)
        .flatMap(d => Seq(s"v=$d", s"base=$d"))
        .foreach { nm =>
          val d = new java.io.File(fs, nm)
          if (d.exists()) Scratch.rm(d)
        }
      repin.foreach(n => publishMarker(BucketMarker, n.toString))
      AtomicDirCommit.sweepTmp(fs, TmpSweepAgeMs)
      vs
    }
  }

  /** V6 delta: triples in version b but not a (new) / in a but not b
    * (retired), compared on (subject, predicate, obj). Each snapshot is
    * one reconstruction (one window exchange); the comparison is ONE
    * aggregate over both, keyed by the triple, instead of a distinct per
    * snapshot plus an anti-join. The grouping is null-safe: a triple
    * with a null field (a legal null subject) held by both snapshots is
    * neither added nor retired. */
  def delta(fromV: Int, toV: Int): (DataFrame, DataFrame) = {
    val spo = Seq("subject", "predicate", "obj").map(col)
    def side(v: Int, tag: String): DataFrame =
      reconstruct(v, openOnly = true).select(spo :+ lit(tag).as("side"): _*)
    val sides = side(fromV, "a").unionByName(side(toV, "b"))
      .groupBy(spo: _*)
      .agg(max(col("side") === "a").as("inA"), max(col("side") === "b").as("inB"))
    (sides.filter(col("inB") && !col("inA")).select(spo: _*),
      sides.filter(col("inA") && !col("inB")).select(spo: _*))
  }
}

object TripletStore {

  import org.apache.spark.sql.types._

  final case class MergeStats(nNew: Long, nExtended: Long, nDeprecated: Long)

  /** Store-format generation (bumped when withIdentity or the snapshot
    * layout changes): 2 = identity-hash fix, 3 = delta (merge-on-read)
    * layout. The subject-bucket partition column added to format-3 levels
    * is NOT a generation bump: each level dir self-describes (bucketed
    * dirs carry `sbkt=` children and their modulus in
    * [[LevelBucketMarker]]), readers handle bucketed and unbucketed
    * levels side by side, and pruning simply skips unbucketed levels —
    * a store whose levels are all below `bucketMinRows` gains bucketed
    * levels in place (new lake-sized deltas bucketed; the next lake-sized
    * compaction buckets the base). File ORDER (the subject-first sort)
    * is not a format property either. A bucketed level WITHOUT
    * [[LevelBucketMarker]] (written before per-level self-description)
    * is refused by pruned reads rather than read under a guessed
    * modulus; such a store is replayed into a fresh one. */
  val IdentityFormat = 3
  val FormatMarker = "_FORMAT"

  /** FLOOR of the subject-hash bucket count for the level layout's
    * partition column (and the pre-pin placeholder for bucket-id
    * computations against stores with no bucketed level yet). Under
    * auto-sizing (the default `subjectBuckets = 0`) the first bucketed
    * commit derives N ≈ one bucket per target file from ITS row count,
    * clamped to [this, [[MaxSubjectBuckets]]] — a toy store pins 64, a
    * 100 TB first base pins thousands; an explicit constructor value
    * overrides. The first write pins the store's count in
    * [[BucketMarker]] either way. */
  val DefaultSubjectBuckets = 64

  /** Ceiling of the auto-derived bucket count: past a few thousand
    * partition dirs, per-level directory fan-out and listing cost beat
    * the marginal pruning win — the within-bucket subject sort plus
    * literal pushdown carries pruning below the bucket grain. */
  val MaxSubjectBuckets = 4096

  /** Subject-list size up to which merges and point lookups push the
    * batch's subjects into the level scans as LITERAL `isin` predicates
    * (parquet row-group pruning via footer stats + subject bloom
    * filters on the subject-sorted files) instead of a semi-join.
    * Driver-bounded by construction: 10k strings is a trivial
    * task-binary payload; far above it the literal plumbing itself
    * becomes the cost and the semi-join wins. The whole cap range
    * pushes as ONE In through Spark 4.1's native set path — footer
    * stats + subject-bloom evaluation per row group, no or-tree, no
    * recursion cliff; the in-pushdown matrix in SCALE.md § Triple store
    * measured it pruning at 5000 literals. The or-tree form
    * StackOverflows in (1024, 1536], which is why the session
    * In-threshold is left at its default and never raised. */
  val DefaultSubjectLiteralCap = 10000

  /** Threshold ABOVE which a literal subject list, when a
    * deployment-raised `inFilterThreshold` would force the or-tree form
    * on it (at the default threshold of 10 nothing here forms one),
    * gets chunked: a 1024-deep pushed or-of-equals is measured safe and
    * 1536 a task-killing StackOverflowError (SCALE.md § Triple store). */
  val OrTreeSafeLiterals = 1024

  /** Chunk size the defense actually splits at — deliberately HALF the
    * measured-safe bracket, because the chunks recombine under a
    * balanced Or whose extra log2(#chunks) depth rides on top of one
    * chunk's or-tree: 512 + log2(20) ≈ 517 at the 10k literal cap,
    * keeping the whole pushed path well inside measured territory
    * instead of flirting with the (1024, 1536] cliff. */
  val OrTreeChunkLiterals = 512

  /** Bounded retry count for int-marker reads ([[TripletStore!.readMarkerInt]])
    * and the deletion-gate claim verify — absorbs the CREATE_NEW
    * fallback's documented short-file window and transient
    * shared-filesystem read blips without turning either into a crash
    * or a lost multi-hour pass. */
  val MarkerReadAttempts = 5

  /** Partition column of bucketed level dirs: `sbkt =
    * pmod(xxhash64(subject), N)`. The merge collects its batch's distinct
    * bucket ids (≤ N, a driver-bounded scalar list) and restricts the
    * level read to those partitions — files, not just rows. */
  val BucketCol = "sbkt"

  /** Row-count floor below which a level writes UNBUCKETED: the
    * partition layout pays a 64-way dir/file fan-out per write and one
    * scan per level dir per read, which dwarfs the level itself when the
    * level is small — and pruning a small level saves nothing (reading
    * it in full is already O(small)). The floor keeps toy/test stores
    * and trickle deltas single-scan fast while lake-sized levels — the
    * compacted base above all, and any bulk delta — get the partition
    * column that makes a touched-bucket merge skip the rest of the lake.
    * Default ≈ 4k rows per bucket file at [[DefaultSubjectBuckets]]. */
  val DefaultBucketMinRows: Long = 1L << 18

  /** Marker file pinning the store's CURRENT bucket count N: the count
    * new lake-sized levels bucket by. The FIRST bucketed write records N
    * (the constructor's `subjectBuckets` only seeds a fresh store);
    * under auto-sizing, compaction RE-DERIVES it when the base outgrew
    * the recorded count ([[TripletStore!.compact(keep:Int)*]]) — so a
    * store that starts small does not keep its day-one N at 100 TB.
    * Reads never use this marker: each bucketed level self-describes its
    * own modulus ([[LevelBucketMarker]]); this store-level marker is the
    * write-side source only. */
  val BucketMarker = "_BUCKETS"

  /** Per-level modulus marker (a file INSIDE each bucketed level dir,
    * committed atomically with it): records the N that level's `sbkt`
    * column was computed with. Per-level self-description is what makes
    * re-pinning N at compaction SAFE — levels bucketed under different
    * moduli can coexist (retained deltas under the old N beside a
    * rebucketed base), each read with its own correct bucket filter;
    * a single store-wide modulus would silently mis-prune the survivors
    * the moment the pin moved. */
  val LevelBucketMarker = "_SBKT_N"

  /** The bucket id of `subject` under an N-bucket layout. Null subjects
    * are legal rows (the identity hash null-coalesces), so the bucket
    * formula coalesces with the same sentinel — deterministic for every
    * subject including null. */
  def subjectBucket(subject: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(coalesce(subject.cast("string"), lit("<null>"))),
      lit(n.toLong)).cast("int")

  /** [[subjectBucket]] evaluated on the driver for ONE subject — the
    * same Catalyst `XxHash64` expression class (same default seed 42)
    * the column form plans, interpreted instead of codegen'd, so a
    * lookup's or a literal-path merge's partition filter costs ZERO
    * Spark jobs. NOT a re-implementation of the hash: a
    * reimplementation could drift from the write side and silently
    * prune live rows; TripletStoreSpec pins driver/executor parity
    * over a sample including the null sentinel. */
  def subjectBucketLocal(subject: String, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val coalesced = if (subject == null) "<null>" else subject
    // seed 42L = the `xxhash64` SQL function's fixed seed (XxHash64's
    // FunctionBuilder applies it; pinned by the parity spec)
    val h = XxHash64(Seq(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(coalesced),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }

  /** Epoch-millis marker recording the time-retention horizon (see
    * `compact(olderThan)`): as-of reads below it refuse. */
  val HorizonMarker = "_RETENTION_HORIZON"

  /** Tokened single-owner compaction claim marker (content: the owner
    * token). Published only AFTER its owner's [[CompactionSeqMarker]]
    * sidecar; liveness is that sidecar's observed progress across a
    * claimant's own [[TmpSweepAgeMs]] wait, never this file's mtime —
    * see `claimCompaction`. */
  val CompactionMarker = "_COMPACTING"

  /** Name prefix of a claimant's liveness sidecar, `<prefix><token>`
    * (content: `<token> <sequence>`) — the claim's ONE liveness signal.
    * Written BEFORE the exclusive [[CompactionMarker]] publish, so a
    * marker never stands without its owner's sidecar; the owner's
    * heartbeat bumps the sequence every beat, so a claimant judges death
    * by observing NO CHANGE across its own wait, with no cross-host
    * clock comparison. A losing claimant deletes its own; release and
    * takeover delete the marker first, then that token's sidecar. The
    * `.tmp-` name lets the compaction sweep collect the orphan of a
    * claimant that crashed between its sidecar write and its loss. */
  val CompactionSeqMarker = ".tmp-claimseq-"

  /** A compaction/retention pass lost the single-owner CLAIM to a live
    * concurrent owner. The store is UNCHANGED (nothing was built or
    * deleted); deliberately NOT retried by the engine — like
    * [[graft.similarity.BatchedSignatureStore.ConcurrentMaintenanceException]],
    * a maintenance race is a scheduling bug to surface. Auto-compaction
    * inside `merge` is the one exception: it SKIPS on this (the merge
    * itself landed; another owner is already folding levels). */
  class ConcurrentCompactionException(msg: String)
    extends IllegalStateException(msg)

  /** Age past which a `.tmp-` commit dir is considered a dead writer's
    * leftover and swept by compaction (a live writer's tmp mtime
    * refreshes with every landing part file; a live claim owner's
    * [[CompactionSeqMarker]] sidecar is republished every
    * [[CompactionHeartbeatMs]]). Doubles as the compaction claim's
    * liveness window: a claim whose owner's sidecar a claimant observes
    * UNCHANGED for this long on its own clock is a crashed owner's
    * leftover and may be taken over. */
  val TmpSweepAgeMs: Long = 60L * 60 * 1000

  /** Interval at which a compaction owner republishes its
    * [[CompactionSeqMarker]] sidecar with the next sequence (it never
    * touches the marker) — comfortably inside the [[TmpSweepAgeMs]]
    * liveness window, so only a genuinely crashed (or hour-long-paused)
    * owner ever looks dead, regardless of how long the pass runs. */
  val CompactionHeartbeatMs: Long = TmpSweepAgeMs / 6

  val rangeSchema: StructType = StructType(Seq(
    StructField("tripletHash", StringType), StructField("subject", StringType),
    StructField("predicate", StringType), StructField("obj", StringType),
    StructField("objKind", StringType), StructField("datatype", StringType),
    StructField("infoHash", StringType),
    StructField("extractionMethod", StringType),
    StructField("confidence", DoubleType),
    StructField("useStart", TimestampType), StructField("useEnd", TimestampType),
    StructField("deprecated", BooleanType)))

  /** On-disk schema: the range row plus the version that wrote it (the
    * reconstruction's latest-writer-wins ordering key). */
  val physSchema: StructType = StructType(
    rangeSchema.fields :+ StructField("v", IntegerType))

  /** Read schema of a BUCKETED level dir: physSchema plus the `sbkt`
    * partition column (resolved from the dir names, never stored in the
    * data files). */
  val bucketedPhysSchema: StructType = StructType(
    physSchema.fields :+ StructField(BucketCol, IntegerType))

  private val rangeCols = rangeSchema.fieldNames.toSeq.map(col)

  private val tripleCols =
    Seq("subject", "predicate", "obj", "objKind", "datatype").map(col)

  /** Null-safe field form for identity hashing: `concat_ws` SKIPS null
    * fields, so without coalescing, a null shifts later fields left and
    * two different triples can concatenate identically. The marker keeps
    * null distinct from "" and from any real term. */
  private def idField(c: org.apache.spark.sql.Column) =
    coalesce(c.cast("string"), lit("\u0001<null>"))

  /** Identity hashes computed with codegen'd built-ins: tripletHash =
    * md5 over the 5 triple fields joined with an explicit `\u0000` field
    * separator and null-coalesced fields — delimiter-safe like the
    * reference's md5-of-n3 (`GraphHandler.py:479-483`), kept in pure
    * column form; infoHash = md5(method + confidence rounded to 5 dp)
    * (`GraphHandler.py:548-633`). */
  def withIdentity(df: DataFrame): DataFrame =
    df.withColumn("tripletHash", md5(concat_ws("\u0000",
        idField(col("subject")), idField(col("predicate")),
        idField(col("obj")), idField(col("objKind")),
        idField(col("datatype")))))
      .withColumn("infoHash", md5(concat(col("extractionMethod"),
        format_string("%.5f", col("confidence")))))
}
