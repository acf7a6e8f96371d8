package graft.sources.cole

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Opt-in snapshot versioning for COLE tables: a commit log that turns
  * the log-less directory layout into a versioned table with TIME TRAVEL
  * (`versionAsOf` / `timestampAsOf` read options), history, rollback,
  * and TTL-based retired-file vacuum — the warehouse rung above round
  * 8's row-level DML (a table that can be mutated needs an answer to
  * "what did it hold before the mutation?").
  *
  * Design (additive — a table without `_cole_versions/` behaves exactly
  * as before, and no read/write path pays anything for the feature):
  *
  *   - Every committed mutation (append, truncate/overwrite, row-level
  *     DELETE/UPDATE/MERGE, compaction, streaming epoch, rollback)
  *     appends ONE record `_cole_versions/v<seq>` listing the files it
  *     ADDED and the files it REMOVED, both as table-relative paths.
  *     Records are created with `create(overwrite = false)` — an
  *     exclusive create, so two concurrent committers CAS on the
  *     sequence number and the loser just retries with the next one.
  *     A terminal `end` line marks the record complete; readers treat a
  *     record without it as in-flight.
  *   - Removal never deletes when versioning is on: the live file is
  *     RENAMED under `_cole_versions/retired/<stamp>/<relative path>`
  *     (bytes untouched — rename, not copy), and the record stores the
  *     mapping. Current-version readers never see it (listings match
  *     only `*.col` outside dotted/underscore directories); time-travel
  *     readers resolve a version's file either at its live path (never
  *     removed since) or at the retired path of its FIRST removal after
  *     that version.
  *   - Version N's file set is the in-order fold of records 1..N
  *     (removes before adds within a record — rollback re-adds a path it
  *     retires in the same commit). Reconstruction is O(log size), not
  *     O(table size): records hold per-commit deltas.
  *
  * Crash notes: the version record goes durable AFTER its mutation's
  * swap completes, so a crash inside the swap window can lose the
  * record (the next [[audit]] reports the drift), and a crash-recovery
  * roll-forward ([[ColeSwap.recover]]) deletes rather than retires —
  * time travel to a version whose file was lost that way fails loudly
  * at planning, never silently returns partial data.
  *
  * At 100 TB: commits are rare relative to reads, records are KB-scale
  * deltas, and retiring is a metadata rename — the cost of keeping every
  * version is exactly the storage of the rewritten-away bytes, bounded
  * by [[vacuumRetired]]'s TTL, the same contract as Delta/Iceberg
  * VACUUM.
  */
object ColeVersions {

  val DirName = "_cole_versions"
  private val RetiredName = "retired"

  /** `spec` carries the `_bucketspec` sidecar CONTENT as of this commit
    * (base64 line in the record file; None when the table is unbucketed
    * or the record predates r9) — what lets a time-travel read keep
    * bucket pruning, SPJ reporting, and aggregate pushdown instead of
    * degrading to a flat scan because the live sidecar describes the
    * present.
    */
  /** `dvs` (r10) pins the DELETION-VECTOR state this commit left each
    * file in: `(rel, dvRel)` where dvRel is an immutable copy of the
    * sidecar under `_cole_versions/dv/<stamp>/`, or [[DvCleared]] when
    * the commit cleared the file's vector. Time travel resolves a file's
    * vector AS OF a version by folding these entries (scoped to the
    * file's incarnation — an add resets them), which is what lets vector
    * mode and versioning compose: live sidecars mutate, pinned copies
    * never do.
    */
  /** `tspec` (r12) snapshots the `_temporalspec` sidecar content the
    * same way `spec` snapshots `_bucketspec` — time travel resolves the
    * temporal transform HISTORY as of the version (partition spec
    * evolution appends to it).
    */
  final case class Record(version: Long, ts: Long, op: String,
      adds: Seq[String], removes: Seq[(String, String)],
      spec: Option[String] = None, dvs: Seq[(String, String)] = Nil,
      tspec: Option[String] = None)

  /** dvRel marker for "this commit cleared the file's vector". */
  val DvCleared = "-"

  private def vdir(table: String): HPath = new HPath(table, DirName)
  private def retiredDir(table: String): HPath =
    new HPath(vdir(table), RetiredName)
  private val DvName = "dv"

  def enabled(table: String, conf: Configuration): Boolean = {
    val (fs, _) = ColeIO.resolve(table, conf)
    fs.exists(vdir(table))
  }

  /** Turn versioning on: creates the log directory and commits a
    * `baseline` record adding every currently-live file, so version 1 is
    * the table as of enablement. Idempotent (no-op when already on).
    * Returns the current version.
    */
  def enable(table: String, conf: Configuration): Long = {
    val (fs, root) = ColeIO.resolve(table, conf)
    if (!fs.exists(root)) fs.mkdirs(root)
    if (fs.exists(vdir(table))) return currentVersion(table, conf)
    // a fresh log at a previously-versioned path (DROP + re-CREATE)
    // must never see the old table's cached records
    invalidateCache(fs, table)
    fs.mkdirs(retiredDir(table))
    val liveSts = ColeIO.listPartitioned(table, conf)
    val localRels = liveSts.map { case (st, _) =>
      relOf(fs, table, st.getPath.toString) }
    // VERSIONED CLONES (r15): the baseline records the foreign half too
    // (the pinned source set minus masks, shadowed by local rels), so
    // the fold covers the whole visible file set and time travel /
    // rollback / the change feed work over clone-local commits. The
    // foreign rels resolve through the pointer until localize copies
    // them in ([[snapshotState]]'s clone hook); a clone-DML "retire" of
    // a foreign file COPIES its bytes under the clone's own retired dir
    // (the source owns the original), after which every remove token is
    // an ordinary retired path.
    val live = localRels ++ ColeClone.read(table, conf).toSeq.flatMap { cs =>
      ColeClone.foreignRelOf(cs, conf).values.toSeq.sorted
        .filterNot(r => localRels.contains(r) || cs.masked(r))
    }
    // a vector-mode table enables cleanly (r10): the baseline pins the
    // CURRENT sidecar of every vectored file, so version 1 resolves the
    // same live rows the table serves today
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val dvs = liveSts.flatMap { case (st, _) =>
      val f = st.getPath.toString
      if (!fs.exists(new HPath(ColeDv.sidecarPath(f)))) None
      else Some(relOf(fs, table, f) ->
        pinVector(fs, table, stamp, relOf(fs, table, f), f))
    }
    writeRecord(fs, conf, table, "baseline", live, Seq.empty, dvs)
  }

  /** Copy the LIVE sidecar of `<table>/<rel>` (at absolute `abs`) to an
    * immutable pin under `_cole_versions/dv/<stamp>/<rel>.dv`; returns
    * the dvRel to record. The pin preserves the sidecar's recorded
    * (len, mtime) data-file identity — snapshot reads re-verify it
    * against the physical file they resolve.
    */
  def pinVector(fs: FileSystem, table: String, stamp: String, rel: String,
      abs: String): String = {
    val src = new HPath(ColeDv.sidecarPath(abs))
    val dvRel = dvRelOf(stamp, rel)
    val dst = new HPath(vdir(table), dvRel)
    fs.mkdirs(dst.getParent)
    require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
      false, true, fs.getConf), s"deletion-vector pin copy failed: $src")
    dvRel
  }

  /** The log-relative pin path of (commit stamp, file rel) —
    * deterministic, so an executor can write its file's pin directly
    * ([[ColeDv.writeAt]] from its computed ordinal set, never a copy of
    * the mutable live sidecar) and the driver can independently name the
    * same path in the commit record.
    */
  def dvRelOf(stamp: String, rel: String): String = s"$DvName/$stamp/$rel.dv"

  /** The effective pinned-vector map at `version`: live rel → dvRel.
    * Scoped to incarnations — an add (rewrite/restore) of a rel resets
    * its vector state, a [[DvCleared]] entry clears it.
    */
  def dvAsOf(table: String, conf: Configuration,
      version: Long): Map[String, String] =
    foldAt(table, conf, version).dvs

  /** Absolute path of a pinned vector. */
  def dvPath(table: String, dvRel: String): HPath =
    new HPath(vdir(table), dvRel)

  /** Pinned deletion vectors of a snapshot: resolved PHYSICAL path →
    * file-wide ordinals. Each pin's recorded data-file identity is
    * verified against the physical file the snapshot resolves (retire
    * renames preserve (len, mtime)); a vacuumed pin or an identity drift
    * fails loudly — partial row resurrection is never an option.
    */
  def snapshotDvs(table: String, conf: Configuration,
      version: Long): Map[String, Array[Int]] =
    resolveSnapshotDvs(table, conf, snapshotState(table, conf, version))

  /** Table-relative path of an absolute file path (partition
    * subdirectories included).
    */
  def relOf(fs: FileSystem, table: String, abs: String): String = {
    val rootQ = fs.makeQualified(new HPath(table)).toString
    val absQ = fs.makeQualified(new HPath(abs)).toString
    require(absQ.startsWith(rootQ + "/"),
      s"$abs is not under table root $table")
    absQ.substring(rootQ.length + 1)
  }

  /** Retire a live data file (versioning on) or delete it (versioning
    * off). Returns the (rel, retiredRel) record entry when retired.
    * The caller groups one `stamp` per commit so a rel path retired
    * twice across the table's life never collides. Multi-file
    * operations probe [[enabled]] ONCE: one existence check per commit,
    * not one RPC per removed file of a large DELETE.
    */
  def retireOrDelete(fs: FileSystem, table: String, abs: String,
      stamp: String, versioned: Boolean): Option[(String, String)] =
    if (!versioned) { fs.delete(new HPath(abs), false); None }
    else {
      val rel = relOf(fs, table, abs)
      val dst = new HPath(new HPath(retiredDir(table), stamp), rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(new HPath(abs), dst), s"retire rename failed: $abs")
      Some(rel -> s"$RetiredName/$stamp/$rel")
    }

  /** COPY-retire: the retired entry for a file this table cannot move
    * (a versioned clone's foreign, source-owned file) — bytes copy under
    * the clone's own retired dir so every later consumer (time travel,
    * rollback, the change feed, vacuum) sees an ordinary retired path.
    * The copy is the honest price of history on a clone, paid only for
    * the files DML actually touches.
    */
  def copyRetire(fs: FileSystem, table: String, phys: String, rel: String,
      stamp: String): (String, String) = {
    val dst = new HPath(new HPath(retiredDir(table), stamp), rel)
    fs.mkdirs(dst.getParent)
    require(org.apache.hadoop.fs.FileUtil.copy(fs, new HPath(phys), fs,
      dst, false, true, fs.getConf), s"copy-retire failed: $phys")
    rel -> s"$RetiredName/$stamp/$rel"
  }

  /** The retired-rel token [[retireOrDelete]] would mint for (stamp,
    * rel) — what a crash-resuming publisher records for a file its
    * earlier attempt already moved.
    */
  def retiredRelOf(stamp: String, rel: String): String =
    s"$RetiredName/$stamp/$rel"

  /** Is (stamp, rel)'s retired copy on disk? (Publish-resume probe.) */
  def retiredExists(fs: FileSystem, table: String, stamp: String,
      rel: String): Boolean =
    fs.exists(new HPath(new HPath(retiredDir(table), stamp), rel))

  /** Append a commit record when versioning is on; no-op (None) when
    * off. `adds`/`removes` are table-relative.
    */
  def commitIfEnabled(table: String, conf: Configuration, op: String,
      adds: Seq[String], removes: Seq[(String, String)],
      dvs: Seq[(String, String)] = Nil): Option[Long] = {
    if (!enabled(table, conf)) return None
    val (fs, _) = ColeIO.resolve(table, conf)
    val v = writeRecord(fs, conf, table, op, adds, removes, dvs)
    // CDF materialization (opt-in): removing (copy-on-write) commits
    // persist their delete/insert images NOW, while the retired bytes
    // are certainly still readable — feed reads then skip the diff and
    // the streaming CDF source can serve the commit at all. Runs AFTER
    // the record is durable: the commit itself never depends on it, and
    // a failure here leaves the feed on its diff fallback, not the
    // table in a broken state.
    if (removes.nonEmpty && op != "compact" && op != "rollback" &&
        conf.getBoolean(ColeChangeFeed.MaterializeKey, false))
      org.apache.spark.sql.SparkSession.getActiveSession
        .foreach(spark => ColeChangeFeed.materialize(spark, table, v))
    Some(v)
  }

  private def recordName(seq: Long): String = f"v$seq%012d"

  private def seqOf(name: String): Option[Long] =
    if (name.startsWith("v")) name.drop(1).toLongOption else None

  // same-JVM committers serialize per table: HDFS-class filesystems make
  // create(overwrite = false) atomic across processes, but the local
  // filesystem's is check-then-act — without this lock two threads in
  // one driver could both win the same sequence number
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding this JVM's per-table commit lock. Since r12 the
    * row-level DML commit sequence no longer relies on this — its mutual
    * exclusion is per-AFFECTED-FILE storage claims ([[ColeClaims]]),
    * which hold across PROCESSES (ColeDmlRaceSpec pins disjoint-success
    * and overlap-reject without any JVM lock on the path). This lock
    * remains only as the local-filesystem belt under [[writeRecord]]'s
    * exclusive-create CAS (HDFS-class stores are atomic there anyway;
    * cross-process local-FS record CAS is
    * [[ConditionalPutCommitPrimitives]]'s job).
    */
  def withTableLock[T](fs: FileSystem, table: String)(body: => T): T =
    tableLocks.computeIfAbsent(
      fs.makeQualified(new HPath(table)).toString, _ => new Object)
      .synchronized(body)

  private def writeRecord(fs: FileSystem, conf: Configuration, table: String,
      op: String, adds: Seq[String], removes: Seq[(String, String)],
      dvs: Seq[(String, String)] = Nil): Long =
    tableLocks.computeIfAbsent(
      fs.makeQualified(new HPath(table)).toString, _ => new Object)
      .synchronized { writeRecordLocked(fs, conf, table, op, adds, removes, dvs) }

  private def writeRecordLocked(fs: FileSystem, conf: Configuration,
      table: String, op: String,
      adds: Seq[String], removes: Seq[(String, String)],
      dvs: Seq[(String, String)]): Long = {
    val dir = vdir(table)
    // snapshot the bucket-layout sidecar INTO the record (KB-scale):
    // time travel then resolves the layout as of the version instead of
    // trusting the live sidecar
    def sidecarLine(file: String, tag: String): Seq[String] = {
      val sp = new HPath(table, file)
      if (!fs.exists(sp)) Seq.empty
      else {
        val in = fs.open(sp)
        val bytes = try in.readAllBytes() finally in.close()
        Seq(tag + ":" + java.util.Base64.getEncoder.encodeToString(bytes))
      }
    }
    val specLine = sidecarLine(ColeBucket.SpecFile, "spec") ++
      sidecarLine(ColeTemporal.SpecFile, "tspec")
    val body = (Seq(s"ts:${System.currentTimeMillis()}", s"op:$op") ++
      specLine ++
      removes.map { case (r, t) => s"rm:$r|$t" } ++
      adds.map("add:" + _) ++
      dvs.map { case (r, t) => s"dv:$r|$t" } :+ "end").mkString("\n")
      .getBytes(StandardCharsets.UTF_8)
    var attempt = 0
    while (attempt < 1000) {
      val seq = maxSeq(fs, table) + 1
      val p = new HPath(dir, recordName(seq))
      // a failure AFTER a successful exclusive create leaves a partial
      // record that would permanently poison the log once a later commit
      // lands above it ("torn record" on every read) — delete our own
      // partial before retrying with the next number. A create that
      // failed because the file EXISTS is the CAS loser and must never
      // delete the winner's record.
      var created = false
      try {
        // exclusive create IS the CAS: two committers racing on the same
        // sequence number — only one create succeeds, the loser re-reads
        // the max and retries on the next number
        val out = ColeCommitPrimitives.of(conf).exclusiveCreate(fs, p)
        created = true
        try out.write(body) finally out.close()
        maybeAutoCheckpoint(fs, conf, table, seq)
        return seq
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attempt += 1
        case _: java.io.IOException =>
          if (created) try fs.delete(p, false) catch { case _: Exception => () }
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"could not commit version record for $table after 1000 attempts")
  }

  private def maxSeq(fs: FileSystem, table: String): Long =
    fs.listStatus(vdir(table)).iterator
      .flatMap(s => seqOf(s.getPath.getName)).maxOption.getOrElse(0L)

  def currentVersion(table: String, conf: Configuration): Long = {
    val (fs, _) = ColeIO.resolve(table, conf)
    require(fs.exists(vdir(table)), s"versioning is not enabled on $table")
    maxSeq(fs, table)
  }

  // Complete records are immutable once written, so the driver parses
  // each record file ONCE per JVM: a query on a versioned table costs
  // one directory listing plus reads of only the records that appeared
  // since the last access — the log read stays O(new commits), not
  // O(table history), on a long-lived table. Cache entries validate
  // against the record file's (len, mtime) — a DROP TABLE + re-CREATE at
  // the same path (new log, overlapping sequence numbers) then re-parses
  // instead of serving the old table's deltas (same discipline as
  // ColeMetaCache).
  private val recordCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, (Long, Long, Record)]]()

  /** Record-file parses that actually hit the filesystem — spec-visible:
    * a cold driver planning the current state of a CHECKPOINTED table
    * must grow this by O(records since the checkpoint), not O(history).
    */
  val recordReads = new java.util.concurrent.atomic.AtomicLong(0)

  private[cole] def invalidateCache(fs: FileSystem, table: String): Unit = {
    recordCache.remove(fs.makeQualified(vdir(table)).toString)
    val prefix = fs.makeQualified(vdir(table)).toString + "/"
    ckptCache.keySet.removeIf(_.startsWith(prefix))
  }

  /** All complete records in sequence order. An in-flight record (no
    * terminal `end` yet) at the TAIL is ignored; a torn record below the
    * tail fails loudly (history must not silently skip a delta) — see
    * [[repairTorn]] for the recovery path.
    */
  def records(table: String, conf: Configuration): Seq[Record] =
    recordsFrom(table, conf, 0L)

  /** Complete records with version > `fromExclusive`, in sequence order —
    * the tail read a caller with a known fold base (a checkpoint, a
    * stream offset) uses instead of parsing the table's whole history.
    */
  def recordsFrom(table: String, conf: Configuration,
      fromExclusive: Long): Seq[Record] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    require(fs.exists(vdir(table)), s"versioning is not enabled on $table")
    val cacheKey = fs.makeQualified(vdir(table)).toString
    val cached = recordCache.getOrDefault(cacheKey, Map.empty)
    val names = fs.listStatus(vdir(table))
      .flatMap(s => seqOf(s.getPath.getName)
        .map(seq => (seq, s.getPath, s.getLen, s.getModificationTime)))
      .filter(_._1 > fromExclusive)
      .sortBy(_._1).toSeq
    val parsed: Seq[(Long, Boolean, (Long, Long, Record))] =
      names.map { case (seq, p, len, mtime) =>
        cached.get(seq) match {
          case Some(e @ (cLen, cMtime, _)) if cLen == len && cMtime == mtime =>
            (seq, true, e)
          case _ =>
            recordReads.incrementAndGet()
            val in = fs.open(p)
            val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
              .split('\n').toSeq
            finally in.close()
            val complete = lines.lastOption.contains("end")
            def tagged(tag: String): Seq[String] =
              lines.filter(_.startsWith(tag + ":")).map(_.drop(tag.length + 1))
            (seq, complete, (len, mtime, Record(seq,
              tagged("ts").headOption.flatMap(_.toLongOption).getOrElse(0L),
              tagged("op").headOption.getOrElse("?"),
              tagged("add"),
              tagged("rm").map { l =>
                val i = l.indexOf('|'); (l.substring(0, i), l.substring(i + 1))
              },
              tagged("spec").headOption.map(b => new String(
                java.util.Base64.getDecoder.decode(b), StandardCharsets.UTF_8)),
              tagged("dv").map { l =>
                val i = l.lastIndexOf('|'); (l.substring(0, i), l.substring(i + 1))
              },
              tagged("tspec").headOption.map(b => new String(
                java.util.Base64.getDecoder.decode(b), StandardCharsets.UTF_8)))))
        }
      }
    // drop in-flight tail records; any incomplete record BELOW a complete
    // one is corruption, not an in-flight commit
    val lastComplete = parsed.filter(_._2).map(_._1).maxOption.getOrElse(0L)
    parsed.foreach { case (seq, complete, _) =>
      require(complete || seq > lastComplete,
        s"torn version record v$seq in $table (crash during commit?); " +
          "run repairTorn / CALL <catalog>.system.repair to quarantine it")
    }
    val complete = parsed.filter(_._2)
    // MERGE into the cached map (a bounded recordsFrom must not evict the
    // prefix a later full read would then re-parse); entries re-validate
    // against (len, mtime) on every use, so stale ones are inert
    recordCache.put(cacheKey,
      cached ++ complete.map { case (seq, _, e) => seq -> e })
    complete.map(_._3._3)
  }

  // ---- version-log checkpoints (r13): bound cold-start planning ----
  //
  // A long-lived table accumulates one record per commit; without a fold
  // base, every cold driver's first versioned read parses the whole
  // history. A CHECKPOINT `_cole_versions/ckpt-v<seq>` persists the
  // FOLDED state as of version <seq> — live file set, effective pinned
  // deletion-vector map, latest bucket/temporal sidecar snapshots — so
  // any fold at version v >= seq starts from the checkpoint and reads
  // only the record TAIL. Checkpoints are pure derived data (the fold of
  // records 1..seq): idempotent to rewrite, racing writers produce
  // byte-identical bodies and the exclusive create keeps one.
  //
  // Written automatically every `graft.cole.checkpoint.intervalCommits`
  // commits (best-effort, never fails the commit) and on demand via
  // CALL <catalog>.system.checkpoint('ns.t'). `expire_versions` with
  // prune_log=true may then DELETE record files at or below a checkpoint
  // that sits at the expiry horizon: those versions are already
  // unreconstructible (their retired bytes are vacuumed; reads fail
  // loudly), so dropping their records only shrinks the log — the fold
  // continuity check below turns any read that would need a pruned
  // record into a loud error instead of a silent partial fold.

  val CheckpointIntervalKey = "graft.cole.checkpoint.intervalCommits"
  val DefaultCheckpointInterval: Long = 100L

  final case class Checkpoint(asOf: Long, ts: Long, live: Seq[String],
      dvs: Seq[(String, String)], spec: Option[String], tspec: Option[String])

  private def ckptName(seq: Long): String = f"ckpt-v$seq%012d"
  private def ckptSeqOf(name: String): Option[Long] =
    if (name.startsWith("ckpt-v")) name.drop(6).toLongOption else None

  // checkpoint bodies are immutable once complete: cache per (len, mtime)
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Checkpoint)]()

  /** Folded table state as of a version — the shared shape behind
    * [[snapshotAt]] / [[dvAsOf]] / [[specAsOf]] / [[temporalSpecsAsOf]].
    */
  private final case class Folded(live: Seq[String],
      dvs: Map[String, String], spec: Option[String], tspec: Option[String])

  /** Sequence numbers consumed by QUARANTINED torn records
    * (`v<seq>.torn`, [[repairTorn]]): their deltas never went durable
    * (the record lacked its terminal line), so folds and feed
    * continuity treat them as present-but-EMPTY — a repaired table must
    * keep time-traveling, checkpointing and streaming across the gap.
    */
  def quarantinedSeqs(table: String, conf: Configuration): Set[Long] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    if (!fs.exists(vdir(table))) return Set.empty
    fs.listStatus(vdir(table)).iterator.flatMap { s =>
      val n = s.getPath.getName
      if (n.endsWith(".torn")) seqOf(n.stripSuffix(".torn")) else None
    }.toSet
  }

  /** Fold the state at `version` from the best checkpoint base plus the
    * record tail. Sequence numbers are DENSE (the CAS allocates
    * max+1), so `tail + quarantined-torn == version - base` proves the
    * fold read every durable delta; anything else — a pruned record, an
    * in-flight tail, a version that never existed — fails loudly here.
    */
  private def foldAt(table: String, conf: Configuration,
      version: Long): Folded = {
    require(version >= 0, s"version $version")
    val base = baseFor(table, conf, version)
    val baseAsOf = base.map(_.asOf).getOrElse(0L)
    val tail = recordsFrom(table, conf, baseAsOf).filter(_.version <= version)
    // torn gaps are rare: pay the quarantine listing only when the dense
    // count fails (the common case costs no extra round trip)
    val torn =
      if (baseAsOf + tail.size == version) 0
      else quarantinedSeqs(table, conf)
        .count(q => q > baseAsOf && q <= version)
    require(baseAsOf + tail.size + torn == version,
      s"version $version of $table is not reconstructible: the log holds " +
        s"${tail.size} records (+$torn quarantined) above fold base " +
        s"v$baseAsOf, expected ${version - baseAsOf} (pruned below a " +
        "checkpoint, or the version never existed / is still in flight)")
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var spec = base.flatMap(_.spec)
    var tspec = base.flatMap(_.tspec)
    base.foreach { c => live ++= c.live; dvs ++= c.dvs }
    tail.foreach { r =>
      r.removes.foreach { case (rel, _) => live -= rel; dvs -= rel }
      r.adds.foreach { a => live += a; dvs -= a }
      r.dvs.foreach { case (rel, dvRel) =>
        if (dvRel == DvCleared) dvs -= rel else dvs(rel) = dvRel
      }
      r.spec.foreach(s => spec = Some(s))
      r.tspec.foreach(s => tspec = Some(s))
    }
    Folded(live.toSeq, dvs.toMap, spec, tspec)
  }

  /** The best complete checkpoint at or below `version` (a torn one — a
    * crash mid-write on direct-create stores — is skipped, never trusted).
    */
  private def baseFor(table: String, conf: Configuration,
      version: Long): Option[Checkpoint] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    if (!fs.exists(vdir(table))) return None
    val cands = fs.listStatus(vdir(table)).iterator.flatMap { s =>
      ckptSeqOf(s.getPath.getName).filter(_ <= version)
        .map(seq => (seq, s.getPath, s.getLen, s.getModificationTime))
    }.toSeq.sortBy(-_._1)
    cands.iterator.flatMap { case (seq, p, len, mtime) =>
      val key = fs.makeQualified(p).toString
      Option(ckptCache.get(key)) match {
        case Some((cLen, cMtime, c)) if cLen == len && cMtime == mtime =>
          Some(c)
        case _ =>
          val in = fs.open(p)
          val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            .split('\n').toSeq
          finally in.close()
          if (!lines.lastOption.contains("end")) None // torn: skip
          else {
            def tagged(tag: String): Seq[String] = lines
              .filter(_.startsWith(tag + ":")).map(_.drop(tag.length + 1))
            val c = Checkpoint(seq,
              tagged("ts").headOption.flatMap(_.toLongOption).getOrElse(0L),
              tagged("live"),
              tagged("dv").map { l =>
                val i = l.lastIndexOf('|'); (l.substring(0, i), l.substring(i + 1))
              },
              tagged("spec").headOption.map(b => new String(
                java.util.Base64.getDecoder.decode(b), StandardCharsets.UTF_8)),
              tagged("tspec").headOption.map(b => new String(
                java.util.Base64.getDecoder.decode(b), StandardCharsets.UTF_8)))
            ckptCache.put(key, (len, mtime, c))
            Some(c)
          }
      }
    }.nextOption()
  }

  /** Sequence numbers of the table's complete checkpoints. */
  def checkpointSeqs(table: String, conf: Configuration): Seq[Long] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    if (!fs.exists(vdir(table))) return Seq.empty
    fs.listStatus(vdir(table)).iterator
      .flatMap(s => ckptSeqOf(s.getPath.getName)).toSeq.sorted
  }

  /** Checkpoint the CURRENT version; returns the version checkpointed
    * (0 = empty log, nothing to do). Idempotent per version.
    */
  def checkpoint(table: String, conf: Configuration): Long = {
    val v = currentVersion(table, conf)
    if (v > 0) writeCheckpointAt(table, conf, v)
    v
  }

  private def writeCheckpointAt(table: String, conf: Configuration,
      asOf: Long): Unit = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val p = new HPath(vdir(table), ckptName(asOf))
    if (fs.exists(p)) return
    val st = foldAt(table, conf, asOf)
    def b64(s: String): String = java.util.Base64.getEncoder
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))
    val body = (Seq(s"ts:${System.currentTimeMillis()}", s"asof:$asOf") ++
      st.spec.map("spec:" + b64(_)) ++
      st.tspec.map("tspec:" + b64(_)) ++
      st.live.map("live:" + _) ++
      st.dvs.toSeq.sortBy(_._1).map { case (r, t) => s"dv:$r|$t" } :+
      "end").mkString("\n").getBytes(StandardCharsets.UTF_8)
    try {
      val out = ColeCommitPrimitives.of(conf).exclusiveCreate(fs, p)
      try out.write(body) finally out.close()
    } catch {
      // a racing checkpointer wrote the identical fold — keep theirs
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
    }
  }

  /** Auto-checkpoint after a commit when the tail since the last
    * checkpoint reached the configured interval. Best-effort: a failure
    * here never fails the commit that triggered it.
    */
  private def maybeAutoCheckpoint(fs: FileSystem, conf: Configuration,
      table: String, seq: Long): Unit = {
    val interval = conf.getLong(CheckpointIntervalKey, DefaultCheckpointInterval)
    if (interval <= 0) return
    try {
      val last = checkpointSeqs(table, conf).lastOption.getOrElse(0L)
      if (seq - last >= interval) writeCheckpointAt(table, conf, seq)
    } catch { case _: Exception => () }
  }

  /** Recovery path for a torn record below the tail (a crash inside the
    * record write, followed by a later successful commit): quarantines
    * the partial file by renaming it aside (`v<seq>.torn`), after which
    * the log reads again. Safe because a record only goes durable AFTER
    * its mutation's swap — a torn record never had its delta applied to
    * any reader's view, and the mutation's files (if the swap completed)
    * surface through [[audit]] as on-disk-but-not-logged drift for the
    * operator to re-commit or remove. Returns the quarantined names.
    */
  def repairTorn(table: String, conf: Configuration): Seq[String] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    require(fs.exists(vdir(table)), s"versioning is not enabled on $table")
    val entries = fs.listStatus(vdir(table))
      .flatMap(s => seqOf(s.getPath.getName).map(_ -> s.getPath)).sortBy(_._1)
    def isComplete(p: HPath): Boolean = {
      val in = fs.open(p)
      val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .split('\n').toSeq
      finally in.close()
      lines.lastOption.contains("end")
    }
    val completeSeqs = entries.filter { case (_, p) => isComplete(p) }.map(_._1)
    val lastComplete = completeSeqs.maxOption.getOrElse(0L)
    val quarantined = entries.collect {
      case (seq, p) if seq < lastComplete && !isComplete(p) =>
        val dst = new HPath(p.getParent, p.getName + ".torn")
        require(fs.rename(p, dst), s"quarantine rename failed: $p")
        p.getName
    }.toSeq
    if (quarantined.nonEmpty) invalidateCache(fs, table)
    quarantined
  }

  /** The `_bucketspec` sidecar content AS OF `version`: the latest
    * in-log snapshot at or before it. None = unbucketed at that version,
    * or a pre-r9 log (which never recorded specs) — callers then keep
    * the conservative no-bucket-features snapshot read.
    */
  def specAsOf(table: String, conf: Configuration,
      version: Long): Option[String] =
    foldAt(table, conf, version).spec

  /** The temporal transform HISTORY as of `version` (r12 partition spec
    * evolution): the latest in-log `_temporalspec` snapshot at or before
    * it. None = no temporal layout then, or a pre-r12 log — callers then
    * fall back to the live sidecar (a superset history: pruning stays
    * conservative because each file is only pruned by the spec whose
    * derived key it carries).
    */
  def temporalSpecsAsOf(table: String, conf: Configuration,
      version: Long): Option[Seq[ColeTemporal.Spec]] =
    foldAt(table, conf, version).tspec
      .map(ColeTemporal.parseSpecContent(_, s"$table@v$version"))

  /** Resolve `versionAsOf` / `timestampAsOf` to a concrete version. */
  def resolveAsOf(table: String, conf: Configuration,
      versionAsOf: Option[Long], timestampAsOf: Option[Long]): Long = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "specify versionAsOf or timestampAsOf, not both")
    val recs = records(table, conf)
    versionAsOf match {
      case Some(v) =>
        require(recs.exists(_.version == v),
          s"version $v does not exist on $table " +
            s"(history: ${recs.headOption.map(_.version).getOrElse(0L)}.." +
            s"${recs.lastOption.map(_.version).getOrElse(0L)})")
        v
      case None =>
        val ts = timestampAsOf.getOrElse(
          throw new IllegalArgumentException(
            "time travel needs versionAsOf or timestampAsOf"))
        recs.filter(_.ts <= ts).map(_.version).maxOption.getOrElse(
          throw new IllegalArgumentException(
            s"no version of $table at or before timestamp $ts"))
    }
  }

  /** The file set at `version`: (table-relative original path, absolute
    * physical path today). A file never removed since still lives at its
    * original path; a removed one resolves at the retired path of its
    * FIRST removal after `version` (an earlier removal of the same name
    * was a previous incarnation).
    */
  /** Everything a time-travel snapshot build needs, from ONE fold: the
    * (rel, physical-today) file set, the effective pinned-dv map, and
    * the bucket/temporal sidecar snapshots — the scan builder previously
    * recomputed the same fold four to five times (specAsOf +
    * temporalSpecsAsOf + snapshotAt + dvAsOf + snapshotAt again), each
    * re-listing the version directory; on object stores those listings
    * are network round trips on the planning path.
    */
  final case class SnapshotState(files: Seq[(String, String)],
      dvRels: Map[String, String], spec: Option[String],
      tspec: Option[String])

  def snapshotState(table: String, conf: Configuration,
      version: Long): SnapshotState = {
    require(version >= 1, s"version $version does not exist on $table")
    // fold base (checkpoint) + tail up to `version`; the records ABOVE
    // `version` (needed only for retired-path resolution) are a bounded
    // recordsFrom — so planning the CURRENT state of a checkpointed
    // table reads O(tail since checkpoint) records, not O(history)
    val folded = foldAt(table, conf, version)
    val laterRemovals: Map[String, String] =
      recordsFrom(table, conf, version)
        .flatMap(r => r.removes.map { case (rel, t) => (rel, t) })
        .groupBy(_._1).view.mapValues(_.head._2).toMap // first removal wins
    val (fs, _) = ColeIO.resolve(table, conf)
    // versioned clone: a live foreign rel has no file under the table
    // root until localize — resolve it through the pointer (local
    // presence shadows, exactly the live-read rule)
    lazy val foreignPhys: Map[String, String] =
      ColeClone.readPointerOnly(table, conf)
        .fold(Map.empty[String, String])(cs =>
          ColeClone.foreignRelOf(cs, conf).map(_.swap))
    val files = folded.live.map { rel =>
      val phys = laterRemovals.get(rel) match {
        case Some(retiredRel) =>
          fs.makeQualified(new HPath(vdir(table), retiredRel)).toString
        case None =>
          val local = new HPath(table, rel)
          foreignPhys.get(rel) match {
            case Some(fp) if !fs.exists(local) =>
              fs.makeQualified(new HPath(fp)).toString
            case _ => fs.makeQualified(local).toString
          }
      }
      (rel, phys)
    }
    SnapshotState(files, folded.dvs, folded.spec, folded.tspec)
  }

  def snapshotAt(table: String, conf: Configuration,
      version: Long): Seq[(String, String)] =
    snapshotState(table, conf, version).files

  /** The fold's live rel set alone — no physical resolution, no
    * existence probes. What the versioned-clone masked-set derivation
    * reads (resolution there would recurse through the pointer).
    */
  def snapshotLiveRels(table: String, conf: Configuration,
      version: Long): Set[String] =
    foldAt(table, conf, version).live.toSet

  /** Pinned deletion vectors resolved over an already-built
    * [[SnapshotState]] — the shared verification body of
    * [[snapshotDvs]], foldless for callers that hold the state.
    */
  def resolveSnapshotDvs(table: String, conf: Configuration,
      st: SnapshotState): Map[String, Array[Int]] = {
    if (st.dvRels.isEmpty) return Map.empty
    val phys = st.files.toMap
    val (fs, _) = ColeIO.resolve(table, conf)
    st.dvRels.flatMap { case (rel, dvRel) =>
      phys.get(rel).map { p =>
        val pin = dvPath(table, dvRel)
        if (!fs.exists(pin)) throw new IllegalStateException(
          s"pinned deletion vector $dvRel of $table/$rel is gone " +
            "(vacuumed?): the snapshot is no longer reconstructible")
        val (dLen, dMtime, ords) = ColeDv.parsePinned(fs, pin)
        val stt = fs.getFileStatus(new HPath(p))
        require(stt.getLen == dLen && stt.getModificationTime == dMtime,
          s"pinned deletion vector $dvRel describes a different " +
            s"incarnation of $rel (recorded len=$dLen mtime=$dMtime, " +
            s"resolved len=${stt.getLen} mtime=${stt.getModificationTime})")
        fs.makeQualified(new HPath(p)).toString -> ords
      }
    }
  }

  /** Footer-backed [[ColeMetaCache.FileInfo]]s for a snapshot, partition
    * values parsed from the ORIGINAL relative path (a retired file keeps
    * its hive `key=value` meaning wherever its bytes now sit). Fails
    * loudly when a version's file is gone (vacuumed, or lost to a
    * crash-recovery roll-forward).
    */
  def snapshotInfos(table: String, conf: Configuration,
      version: Long): Seq[ColeMetaCache.FileInfo] =
    infosFor(table, conf, snapshotAt(table, conf, version),
      s"version $version")

  /** Footer-backed infos for (original rel, physical) pairs, partition
    * values parsed from the ORIGINAL relative path. Loud when a file is
    * gone (vacuumed, or lost to a crash-recovery roll-forward).
    */
  def infosFor(table: String, conf: Configuration,
      files: Seq[(String, String)], what: String): Seq[ColeMetaCache.FileInfo] = {
    val resolved = files.map { case (rel, phys) =>
      val parts = rel.split('/').dropRight(1).toSeq.flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Some(k -> ColeIO.unescape(v))
          case _ => None
        }
      }
      (phys, parts)
    }
    try ColeMetaCache.applyRenames(ColeMetaCache.infosAt(resolved, conf),
      ColeCatalog.renames(table, conf))
    catch {
      case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"$what of $table is no longer readable: ${e.getMessage} " +
            "(retired file vacuumed, or lost to crash recovery)", e)
    }
  }

  /** Incremental change feed: the files whose ROWS arrived after
    * `fromExclusive` and at or before `toInclusive` — the batch twin of
    * the streaming source's tailing ("process only what landed since
    * the version I last handled"). Row-preserving commits (compaction)
    * contribute nothing and are skipped; row-level DML and rollback in
    * the range cannot be expressed as an insert feed and fail loudly
    * rather than emit rewritten old rows as if they were new. Files
    * later compacted away resolve at their retired paths, so the feed
    * stays readable after maintenance passes.
    */
  def changedFiles(table: String, conf: Configuration,
      fromExclusive: Long, toInclusive: Long): Seq[(String, String)] = {
    val recs = records(table, conf)
    require(fromExclusive <= toInclusive,
      s"changesFrom ($fromExclusive) must be <= changesTo ($toInclusive)")
    require(fromExclusive == 0 || recs.exists(_.version == fromExclusive) ||
      checkpointSeqs(table, conf).contains(fromExclusive),
      s"version $fromExclusive does not exist on $table")
    require(recs.exists(_.version == toInclusive),
      s"version $toInclusive does not exist on $table")
    val inRange = recs.filter(r =>
      r.version > fromExclusive && r.version <= toInclusive)
    // dense-sequence continuity: a range whose interior records were
    // pruned (expire_versions prune_log) must refuse loudly, never skip.
    // Quarantined torn records count as present-but-empty: their deltas
    // never went durable, so a feed without them is exact. (Listed only
    // when the dense count fails — torn gaps are rare.)
    val torn =
      if (inRange.size == toInclusive - fromExclusive) 0
      else quarantinedSeqs(table, conf)
        .count(q => q > fromExclusive && q <= toInclusive)
    require(inRange.size + torn == toInclusive - fromExclusive,
      s"change feed range ($fromExclusive, $toInclusive] of $table holds " +
        s"${inRange.size} records (+$torn quarantined), expected " +
        s"${toInclusive - fromExclusive}: part of the range was pruned " +
        "below a checkpoint and is no longer reconstructible — " +
        "resynchronize from a snapshot")
    // a commit that REMOVED rows cannot be served as an insert feed —
    // guard by the record's shape (non-empty removes), not an op
    // allowlist: overwrite, truncate, rollback and any future removing
    // op fail loudly by construction; only the row-preserving 'compact'
    // removes without removing ROWS
    // dv entries remove ROWS without removing files — shape-refused too
    val removing = inRange.filter(r =>
      (r.removes.nonEmpty || r.dvs.exists(_._2 != DvCleared)) && r.op != "compact")
    require(removing.isEmpty,
      s"change feed range ($fromExclusive, $toInclusive] of $table contains " +
        s"row-removing commits ${removing.map(r => s"v${r.version}:${r.op}")
          .mkString(", ")}: their removed rows cannot be expressed as an " +
        "insert feed — use the row-level change feed " +
        "(ColeChangeFeed.read / readChangeFeed) which emits " +
        "_change_type insert/delete rows, or narrow the range")
    inRange.filterNot(_.op == "compact")
      .flatMap(r => resolveAdds(table, conf, recs, r)).distinct
  }

  /** (rel, physical-today) of ONE record's added files: the incarnation
    * added at `r.version` lives at its original path unless removed
    * since, in which case it resolves at the retired path of its FIRST
    * removal after `r.version` (an earlier removal was a previous
    * incarnation).
    */
  def resolveAdds(table: String, conf: Configuration, recs: Seq[Record],
      r: Record): Seq[(String, String)] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val laterRemovals: Seq[(Long, String, String)] = recs
      .flatMap(x => x.removes.map { case (rel, t) => (x.version, rel, t) })
    // versioned clone: a still-foreign add resolves through the pointer
    // (same shadowing rule as snapshotState)
    lazy val foreignPhys: Map[String, String] =
      ColeClone.readPointerOnly(table, conf)
        .fold(Map.empty[String, String])(cs =>
          ColeClone.foreignRelOf(cs, conf).map(_.swap))
    r.adds.map { rel =>
      val phys = laterRemovals
        .collectFirst { case (v, `rel`, t) if v > r.version => t } match {
        case Some(retiredRel) =>
          fs.makeQualified(new HPath(vdir(table), retiredRel)).toString
        case None =>
          val local = new HPath(table, rel)
          foreignPhys.get(rel) match {
            case Some(fp) if !fs.exists(local) =>
              fs.makeQualified(new HPath(fp)).toString
            case _ => fs.makeQualified(local).toString
          }
      }
      (rel, phys)
    }
  }

  /** Log-vs-disk drift check: (in the log but not on disk, on disk but
    * not in the log), both table-relative. Non-empty means a commit's
    * record was lost (crash inside the swap window) or files were
    * mutated outside the connector.
    */
  def audit(table: String, conf: Configuration): (Seq[String], Seq[String]) = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val logged = snapshotAt(table, conf, currentVersion(table, conf))
      .map(_._1).toSet
    // a versioned clone's foreign rels are never listable: a LIVE logged
    // foreign rel is attested through the pointer (not "missing"), and a
    // source-side file is never a stray of THIS table (masked rels stay
    // at the source by design — their retired copies back the history)
    val foreign: Set[String] = ColeClone.readPointerOnly(table, conf)
      .fold(Set.empty[String])(cs =>
        ColeClone.foreignRelOf(cs, conf).values.toSet)
    val actual = ColeIO.listPartitioned(table, conf)
      .map { case (st, _) => relOf(fs, table, st.getPath.toString) }.toSet
    ((logged -- actual -- foreign).toSeq.sorted,
      (actual -- logged).toSeq.sorted)
  }

  /** Restore the table to `version` as a NEW commit (history is
    * append-only — the rolled-over versions stay readable): files live
    * now but absent then retire; files retired since COPY back to their
    * original paths (copy, not rename — the retired bytes keep backing
    * the older versions that reference them).
    */
  def rollback(table: String, conf: Configuration, version: Long): Long = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val target = snapshotAt(table, conf, version)
    val current = snapshotAt(table, conf, currentVersion(table, conf))
    val targetRels = target.map(_._1).toSet
    val currentRels = current.map(_._1).toSet
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    // versioned clone (r15): a foreign (source-owned) file must never be
    // renamed or have sidecars touched — its "retire" COPIES the bytes
    // under this table's own retired dir (the clone-DML discipline), and
    // a foreign rel that only needs to become VISIBLE again is a pure
    // log change (its bytes never moved)
    val rootPrefix = fs.makeQualified(
      new HPath(table)).toString.stripSuffix("/") + "/"
    def foreignPhys(phys: String): Boolean =
      !fs.makeQualified(new HPath(phys)).toString.startsWith(rootPrefix)
    val removes = current.collect {
      case (rel, phys) if !targetRels.contains(rel) ||
          target.exists { case (r, p) => r == rel && p != phys } =>
        if (foreignPhys(phys)) {
          copyRetire(fs, table, phys, rel, stamp)
        } else {
          // the bloom sidecar describes THIS incarnation's bytes: delete
          // it with the retire (every other removal path does), or a
          // later same-named file would be pruned by a stale stranger's
          // filter. The live DELETION vector drops too — pinned copies
          // under the log keep backing the older versions
          fs.delete(new HPath(ColeBloomIndex.sidecarPath(phys)), false)
          ColeDv.drop(fs, phys)
          retireOrDelete(fs, table, phys, stamp, versioned = true).get
        }
    }
    val adds = target.collect {
      case (rel, phys) if (!currentRels.contains(rel) ||
          removes.exists(_._1 == rel)) =>
        if (foreignPhys(phys)) {
          // restoring a masked foreign rel: visibility is fold-driven,
          // the source still holds the bytes — record the add, copy
          // nothing (the pointer resolves it)
          rel
        } else {
          val dst = new HPath(table, rel)
          fs.mkdirs(dst.getParent)
          org.apache.hadoop.fs.FileUtil.copy(fs, new HPath(phys), fs, dst,
            false, true, fs.getConf)
          // defensive: a restored copy must not inherit a stale sidecar
          // (none should exist — removal paths delete them — but a stray
          // one would mis-prune); indexes rebuild via ColeBloomIndex.build
          fs.delete(new HPath(ColeBloomIndex.sidecarPath(dst.toString)), false)
          fs.delete(new HPath(ColeDv.sidecarPath(dst.toString)), false)
          rel
        }
    }
    // restore each surviving file's DELETION-VECTOR state to the target
    // version: re-pin restored copies (their identity changed with the
    // copy), rewrite drifted live sidecars, clear extras — so the new
    // head serves exactly the target's live rows
    val targetDv = dvAsOf(table, conf, version)
    val addSet = adds.toSet
    val dvEntries = target.flatMap { case (rel, relPhys) =>
      // a still-foreign rel (versioned clone) has no local file and can
      // carry no vector (clone sources are vector-debt-free at pin and
      // clones reject vector mode) — nothing to reconcile
      if (foreignPhys(relPhys) && !fs.exists(new HPath(table, rel)))
        None
      else {
      val live = new HPath(table, rel)
      val liveStatus = fs.getFileStatus(live)
      val want: Option[Array[Int]] = targetDv.get(rel).map(dvRel =>
        readPinnedOrdinals(fs, table, dvRel, rel))
      val haveNow: Option[Array[Int]] =
        if (addSet.contains(rel)) None // fresh copy, sidecars dropped above
        else ColeDv.read(fs, live.toString, liveStatus.getLen,
          liveStatus.getModificationTime)
      (want, haveNow) match {
        case (None, None) => None
        case (Some(w), Some(h)) if java.util.Arrays.equals(w, h) => None
        case (Some(w), _) =>
          ColeDv.write(fs, live.toString, liveStatus.getLen,
            liveStatus.getModificationTime, w)
          Some(rel -> pinVector(fs, table, stamp, rel, live.toString))
        case (None, Some(_)) =>
          ColeDv.drop(fs, live.toString)
          Some(rel -> DvCleared)
      }
      }
    }
    writeRecord(fs, conf, table, "rollback", adds, removes, dvEntries)
  }

  /** Ordinals of a pinned vector, identity-checked against nothing (the
    * caller re-pins to a fresh incarnation) — loud when the pin was
    * vacuumed.
    */
  private def readPinnedOrdinals(fs: FileSystem, table: String,
      dvRel: String, rel: String): Array[Int] = {
    val p = dvPath(table, dvRel)
    if (!fs.exists(p)) throw new IllegalStateException(
      s"pinned deletion vector $dvRel of $table/$rel is gone " +
        "(vacuumed?): the requested version is no longer reconstructible")
    ColeDv.parsePinned(fs, p)._3
  }

  /** The expiry HORIZON: the highest version a vacuum run has declared
    * expired — versions at or below it are no longer guaranteed
    * reconstructible (time travel and feed reads fail loudly there);
    * `horizon + 1` is the EARLIEST UN-EXPIRED version, the safe floor
    * for a new CDF consumer's `startingVersion` and the value `$history`
    * surfaces per row as `expired`. 0 = nothing ever expired. Written
    * monotonically (temp + rename) by [[vacuumRetired]].
    */
  def expiryHorizon(table: String, conf: Configuration): Long = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val p = new HPath(vdir(table), HorizonFile)
    if (!fs.exists(p)) return 0L
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong
    finally in.close()
  }

  private val HorizonFile = "_expiry_horizon"

  private val ConsumersDir = "_consumers"

  /** Register (or advance) a named CDF consumer's low-watermark: the
    * highest commit version the consumer has durably PROCESSED.
    * Versions at or below the minimum registered watermark are fair
    * game for retention; everything above it is pinned — so a
    * maintenance cron can run `expire_versions` with an aggressive TTL
    * and still never expire a lagging stream's unread range. The CDF
    * stream advances this automatically per committed micro-batch when
    * opened with the `consumerId` option; monotonic (a replayed batch
    * never regresses it), one tiny file per consumer, temp + rename.
    */
  def registerConsumer(table: String, conf: Configuration, id: String,
      version: Long): Unit = {
    require(id.nonEmpty && id.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"consumerId '$id' must be non-empty [A-Za-z0-9._-]")
    val (fs, _) = ColeIO.resolve(table, conf)
    val dir = new HPath(vdir(table), ConsumersDir)
    val p = new HPath(dir, id)
    val cur = consumerWatermarks(table, conf).getOrElse(id, -1L)
    if (version <= cur) return
    fs.mkdirs(dir)
    val tmp = new HPath(dir, s".$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"consumer watermark write failed for $id")
    }
  }

  /** Registered CDF consumers: id → last durably processed version. */
  def consumerWatermarks(table: String,
      conf: Configuration): Map[String, Long] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val dir = new HPath(vdir(table), ConsumersDir)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).iterator
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map { st =>
        val in = fs.open(st.getPath)
        val v = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          .trim.toLong finally in.close()
        (st.getPath.getName, v)
      }.toMap
  }

  /** Drop a consumer's registration (a decommissioned pipeline must not
    * pin retention forever). Returns whether it existed.
    */
  def unregisterConsumer(table: String, conf: Configuration,
      id: String): Boolean = {
    val (fs, _) = ColeIO.resolve(table, conf)
    fs.delete(new HPath(new HPath(vdir(table), ConsumersDir), id), false)
  }

  private def writeHorizon(fs: FileSystem, table: String, v: Long): Unit = {
    val p = new HPath(vdir(table), HorizonFile)
    val tmp = new HPath(vdir(table), s".$HorizonFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"expiry-horizon write failed for $table")
    }
  }

  /** TTL vacuum of retired bytes: versions whose files were removed
    * before the cutoff are declared expired — their retired files
    * delete, and time travel to them fails loudly thereafter. Live data
    * and younger retired files are never touched. Returns files deleted.
    *
    * `keepLast` is the RETENTION FLOOR for live CDF consumers: the most
    * recent `keepLast` versions never expire regardless of age, so a
    * maintenance cron with a floor sized to consumer lag can never
    * expire a lagging stream's unread range out from under it
    * (`expire_versions('ns.t', hours, keep_last_versions)`). The run
    * also advances the [[expiryHorizon]] marker, making "earliest
    * un-expired version" cheap to serve.
    *
    * `pruneLog` (r13, opt-in): additionally checkpoint the table at the
    * expiry horizon and DELETE the record files at or below it. Those
    * versions are already unreconstructible (their retired bytes are
    * gone; reads fail loudly either way), so pruning only bounds the log:
    * `$history` thereafter starts at the floor, and the checkpoint keeps
    * every fold above it exact. Never prunes when the horizon is 0.
    */
  def vacuumRetired(table: String, conf: Configuration,
      olderThanMs: Long, keepLast: Int = 0, pruneLog: Boolean = false): Int = {
    val (fs, _) = ColeIO.resolve(table, conf)
    val cutoff = System.currentTimeMillis() - olderThanMs
    var removed = 0
    val allRecs = records(table, conf)
    // the floor: the last keepLast versions stay out of EVERY expiry
    // pass below (retired bytes, superseded pins, materialized cdf)
    val floor: Set[Long] =
      allRecs.sortBy(_.version).takeRight(math.max(0, keepLast))
        .map(_.version).toSet
    // registered CDF consumers pin everything ABOVE the slowest one's
    // watermark: a lagging stream's unread range survives any TTL
    // without the operator having to size keepLast by hand
    val consumerCap: Long = consumerWatermarks(table, conf).values
      .minOption.getOrElse(Long.MaxValue)
    // named refs pin the same way (r14): a tag at version T (or a branch
    // forked there) needs every removal ABOVE T kept — the retired bytes
    // of a post-T rewrite are exactly what reconstructs T's snapshot.
    // Only records at or below the oldest ref may expire; dropping the
    // ref releases the pin.
    val refCap: Long = ColeRefs.pinVersions(table, conf)
      .minOption.getOrElse(Long.MaxValue)
    val cap = math.min(consumerCap, refCap)
    val recs = allRecs.filterNot(r => floor.contains(r.version))
    val expired = recs.filter(r => r.ts < cutoff && r.version <= cap)
    expired.map(_.version).maxOption.foreach { h =>
      if (h > expiryHorizon(table, conf)) writeHorizon(fs, table, h)
    }
    expired.foreach { r =>
      r.removes.foreach { case (_, retiredRel) =>
        val p = new HPath(vdir(table), retiredRel)
        if (fs.exists(p)) { fs.delete(p, false); removed += 1 }
      }
      // a pinned deletion vector expires only when SUPERSEDED (a later
      // commit re-vectored, rewrote, or removed its file) and that
      // superseding commit is ITSELF EXPIRED — the current vector state
      // of an untouched file must stay reconstructible, and (r14) a
      // superseding commit above a ref/consumer pin must not count:
      // the pinned version between the two still folds to r's pin
      r.dvs.foreach { case (rel, dvRel) =>
        if (dvRel != DvCleared) {
          val superseded = expired.exists(r2 => r2.version > r.version &&
            (r2.removes.exists(_._1 == rel) || r2.adds.contains(rel) ||
              r2.dvs.exists(_._1 == rel)))
          if (superseded) {
            val p = dvPath(table, dvRel)
            if (fs.exists(p)) { fs.delete(p, false); removed += 1 }
          }
        }
      }
    }
    // materialized change data of expired commits expires with them —
    // without this the cdf tree grows for the table's lifetime. The
    // change feed fails loudly on the expired range either way (the
    // retired bytes its diff fallback would need are gone too); younger
    // materializations stay, including their outlives-expiry property
    // for in-horizon commits.
    expired.foreach { r =>
      val cdir = new HPath(new HPath(vdir(table), "cdf"), f"v${r.version}%012d")
      if (fs.exists(cdir)) {
        val it = fs.listFiles(cdir, true)
        while (it.hasNext)
          if (it.next().getPath.getName.endsWith(".col")) removed += 1
        fs.delete(cdir, true)
      }
    }
    // sweep now-empty stamp directories so the retired tree stays tidy
    val rdir = retiredDir(table)
    if (fs.exists(rdir)) fs.listStatus(rdir).foreach { st =>
      if (st.isDirectory && !fs.listFiles(st.getPath, true).hasNext)
        fs.delete(st.getPath, true)
    }
    if (pruneLog) {
      // the newest record must ALWAYS survive: it anchors maxSeq, and
      // pruning it would let the commit CAS re-mint already-used
      // sequence numbers (version aliasing against the checkpoint)
      val floor = math.min(expiryHorizon(table, conf),
        maxSeq(fs, table) - 1)
      if (floor > 0) {
        // the checkpoint AT the floor is the fold base that replaces the
        // pruned prefix — written (from the still-present records) BEFORE
        // anything is deleted, so a crash between the two leaves a log
        // that still folds from either base
        writeCheckpointAt(table, conf, floor)
        fs.listStatus(vdir(table)).foreach { st =>
          val name = st.getPath.getName
          seqOf(name).foreach { seq =>
            if (seq <= floor) fs.delete(st.getPath, false)
          }
          // quarantined torn records below the floor go with their era
          if (name.endsWith(".torn"))
            seqOf(name.stripSuffix(".torn")).foreach { seq =>
              if (seq <= floor) fs.delete(st.getPath, false)
            }
          // checkpoints strictly below the floor are dead weight too —
          // every version they could base is unreconstructible; the
          // floor checkpoint itself is the fold anchor and stays
          ckptSeqOf(st.getPath.getName).foreach { seq =>
            if (seq < floor) fs.delete(st.getPath, false)
          }
        }
        invalidateCache(fs, table)
      }
    }
    removed
  }
}
