package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The copy-on-write file swap every rewrite of a COLE table commits
  * through: the native DELETE / UPDATE / MERGE ([[ColeRewrite]]),
  * compaction ([[ColeCompact]]), rebucket ([[ColeRebucket]]), the
  * ReplaceData fallback ([[ColeReplaceWrite]]), and through [[replace]]
  * every overwrite ([[ColeBatchWrite]]) and `TRUNCATE TABLE`.
  *
  * A caller writes its new files where readers cannot see them (a dotted
  * scratch directory, or dotted in-progress names), then:
  *
  *   1. [[claim]]s the files it replaces and the manifest of every swap
  *      group — overlapping committers serialize, disjoint ones never
  *      contend;
  *   2. re-stats the replaced files ([[drifted]]) — a concurrent writer
  *      changed them, so the caller either conflicts (DML) or skips
  *      (maintenance), with nothing visible yet;
  *   3. [[commit]]s: per group, the manifest (old + new entries) makes
  *      the intent durable, the compaction record tells tailing streams
  *      the new files replace rows they already served, the new files
  *      rename in, the replaced files and their sidecars go, and the
  *      manifest is dropped; one version record covers the whole call.
  *
  * A crash at any filesystem call of the commit leaves a manifest that
  * [[recover]] resolves: forward when every new file landed, backward
  * otherwise. A group is the directory its manifest lives in, with
  * entries relative to it. Rows that stay in their directory swap per
  * directory (disjoint partitions commit in parallel); rows that may
  * change directory — rebucket, and a ReplaceData UPDATE that moves a
  * row to another partition — swap as one group at the table root, so
  * recovery can never roll one directory forward and another back.
  */
object ColeSwap {

  /** Test seam: runs in every commit after a group's compaction record
    * is durable and BEFORE its new files rename in. Interleaving specs
    * run a live stream trigger here to prove record-before-rename
    * protects a concurrent reader. No-op in production.
    */
  val betweenRecordAndRenameHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](() => ())

  /** One manifest's worth of a swap. `removed`: live files the swap
    * replaces. `replacements`: (written, live) paths of the files that
    * carry `removed`'s surviving rows — a tailing stream must not serve
    * them again. `inserts`: (written, live) paths of rows new to every
    * reader (a MERGE's unmatched source rows).
    */
  final case class Group(dir: HPath, removed: Seq[String],
      replacements: Seq[(String, String)], inserts: Seq[(String, String)] = Nil)

  /** The held claims of a swap, and whether the table keeps versions. */
  final class Claimed private[ColeSwap] (claims: ColeClaims.Acquired,
      val versioned: Boolean) {
    def release(): Unit = claims.release()
  }

  def newStamp(): String = java.lang.Long.toHexString(System.nanoTime())

  /** The dotted scratch directory a swap's new files are written into. */
  def scratchName(op: String, stamp: String): String = s".$op-$stamp"

  private val Scratch = """\.[a-z]+-[0-9a-f]+""".r

  /** Whether `name` is a swap scratch directory ([[scratchName]]). */
  def isScratch(name: String): Boolean = Scratch.matches(name)

  /** Claims `files` (live paths under the table root), the manifest of
    * each of `groupDirs` and the `extra` claim paths, after probing once
    * whether the table keeps versions.
    */
  def claim(fs: FileSystem, conf: Configuration, table: String, op: String,
      files: Seq[String], groupDirs: Seq[HPath], extra: Seq[String] = Nil): Claimed = {
    val versioned = ColeVersions.enabled(table, conf)
    new Claimed(ColeClaims.acquire(fs, conf, table,
      files.map(ColeVersions.relOf(fs, table, _)) ++
        groupDirs.map(manifestClaim(fs, table, _)) ++ extra, op), versioned)
  }

  /** The first of `files` (path, len, mtime) whose bytes are no longer
    * the snapshot's, or that is gone.
    */
  def drifted(fs: FileSystem, files: Seq[(String, Long, Long)]): Option[String] =
    files.collectFirst { case (p, len, mtime) if {
      try {
        val st = fs.getFileStatus(new HPath(p))
        st.getLen != len || st.getModificationTime != mtime
      } catch { case _: java.io.FileNotFoundException => true }
    } => p }

  /** Swaps every group in under `claimed`, then writes one version record
    * for the whole call. `beforeRecord` runs after the last group and
    * returns removes of its own for the record (a clone's masked foreign
    * files). Scratch directory `scratchName(op, stamp)` of each group is
    * dropped with it.
    */
  def commit(fs: FileSystem, table: String, conf: Configuration, op: String,
      stamp: String, claimed: Claimed, groups: Seq[Group])(
      beforeRecord: => Seq[(String, String)]): Unit = {
    val adds = scala.collection.mutable.ArrayBuffer.empty[String]
    val removes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def qualified(p: String): String = fs.makeQualified(new HPath(p)).toString
    groups.filter(g => g.removed.nonEmpty || g.replacements.nonEmpty || g.inserts.nonEmpty)
      .zipWithIndex.foreach { case (g, i) =>
        val prefix = qualified(g.dir.toString) + "/"
        def rel(p: String): String = {
          val q = qualified(p)
          require(q.startsWith(prefix), s"$p is not under swap directory ${g.dir}")
          q.substring(prefix.length)
        }
        val news = g.replacements ++ g.inserts
        writeManifest(fs, g.dir,
          g.removed.map("old:" + rel(_)) ++ news.map(n => "new:" + rel(n._2)))
        // named by the group's index: layouts nest, so directory names
        // repeat (`_t_days_ts=1/_bucket=0`, `_t_days_ts=2/_bucket=0`)
        if (g.removed.nonEmpty)
          writeCompactionRecord(fs, table, s"$op-$stamp-$i",
            g.replacements.map(n => qualified(n._2)), g.removed.map(qualified))
        betweenRecordAndRenameHook.get().run()
        news.foreach { case (written, live) =>
          require(fs.rename(new HPath(written), new HPath(live)), s"rename failed for $written")
          adds += ColeVersions.relOf(fs, table, live)
        }
        // the removed files' sidecars say which columns to index again
        val indexed = g.removed.flatMap(ColeBloomIndex.indexedColumns(_, conf)).distinct
        g.removed.foreach { p =>
          fs.delete(new HPath(ColeBloomIndex.sidecarPath(p)), false)
          ColeDv.drop(fs, p)
          removes ++= ColeVersions.retireOrDelete(fs, table, p, stamp, claimed.versioned)
        }
        fs.delete(new HPath(g.dir, scratchName(op, stamp)), true)
        fs.delete(manifestPath(g.dir), false)
        if (indexed.nonEmpty)
          news.map(n => new HPath(n._2).getParent.toString).distinct
            .foreach(ColeBloomIndex.build(_, indexed, conf))
      }
    removes ++= beforeRecord
    if (adds.nonEmpty || removes.nonEmpty)
      ColeVersions.commitIfEnabled(table, conf, op, adds.toSeq, removes.toSeq)
  }

  /** The commit of every overwrite and of `TRUNCATE TABLE`: swaps the
    * live files `replaced` picks (by path and directory values) for
    * `inserts`, (written, live) paths of rows new to every reader.
    * Interrupted swaps resolve first; the picked files are claimed and
    * re-statted, and `beforeSwap` runs under the claims. One group at the
    * table root: the new files may land where no old file was. With
    * nothing to replace, the new files rename in as an append's do: no
    * manifest, no claim.
    */
  def replace(fs: FileSystem, table: String, conf: Configuration, op: String,
      stamp: String, inserts: Seq[(String, String)],
      replaced: (String, Map[String, String]) => Boolean)(beforeSwap: => Unit): Unit = {
    def live = ColeIO.listPartitioned(table, conf)
    recoverTable(fs, table, conf, live.map(_._1.getPath.getParent).distinct)
    val removed = live.collect { case (st, pv) if replaced(st.getPath.toString, pv.toMap) =>
      (st.getPath.toString, st.getLen, st.getModificationTime) }
    if (removed.isEmpty) {
      beforeSwap
      inserts.foreach { case (written, fin) =>
        require(fs.rename(new HPath(written), new HPath(fin)), s"rename failed for $written") }
      ColeVersions.commitIfEnabled(table, conf, op,
        inserts.map(i => ColeVersions.relOf(fs, table, i._2)), Nil)
      return
    }
    val root = new HPath(table)
    val claimed = claim(fs, conf, table, op, removed.map(_._1), Seq(root))
    try {
      drifted(fs, removed).foreach(p => throw new IllegalStateException(
        s"concurrent write detected on $p during $op; aborted with nothing " +
          "replaced — retry after the other writer commits"))
      beforeSwap
      commit(fs, table, conf, op, stamp, claimed,
        Seq(Group(root, removed.map(_._1), Nil, inserts)))(Nil)
    } finally claimed.release()
  }

  /** Directory (under the table root) of compaction records the streaming
    * source consults: one file per group swap, lines `out:<qualified
    * path>` / `in:<qualified path>`. Ignored by readers (no `key=value`
    * name, no `.col` suffix); never deleted — the record count grows with
    * swaps, not with data.
    */
  def recordsDir(table: String): String = s"$table/_cole_compactions"

  /** Whether the swap a record with outputs `outs` names may still be in
    * flight: a manifest exists where its group lives — the outputs'
    * directory, or the table root for a swap whose rows change
    * directory.
    */
  def inFlight(fs: FileSystem, table: HPath, outs: Seq[String]): Boolean =
    Seq(new HPath(outs.head).getParent, table).exists(d => fs.exists(manifestPath(d)))

  private[cole] def writeCompactionRecord(fs: FileSystem, table: String, stamp: String,
      outs: Seq[String], ins: Seq[String]): Unit = {
    val dir = new HPath(recordsDir(table))
    if (!fs.exists(dir)) fs.mkdirs(dir)
    // temp + rename: streaming sources tail this directory and must never
    // observe (and permanently cache) a torn record
    val tmp = new HPath(dir, s".$stamp.tmp")
    val out = fs.create(tmp, true)
    try out.write((outs.map("out:" + _) ++ ins.map("in:" + _)).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new HPath(dir, stamp)),
      s"compaction record rename failed for $stamp")
  }

  private[cole] def manifestPath(dir: HPath): HPath =
    new HPath(dir, ".compact-manifest")

  /** The claim a swap of `dir` holds while its manifest exists: every
    * swap of a directory writes the same manifest path, so two
    * committers of disjoint files in one directory swap one at a time,
    * and [[recover]] waits for a live swap.
    */
  private def manifestClaim(fs: FileSystem, table: String, dir: HPath): String =
    ColeVersions.relOf(fs, table, manifestPath(dir).toString)

  /** The swap manifest of `dir`, None when there is none (or its swap
    * completed while it was being read).
    */
  private[cole] def manifestLines(fs: FileSystem, dir: HPath): Option[Seq[String]] =
    try {
      val in = fs.open(manifestPath(dir))
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty).toSeq)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private[cole] def writeManifest(fs: FileSystem, dir: HPath, lines: Seq[String]): Unit =
    // a concurrent recover() must never read a torn manifest — an empty
    // one names no files whose claims it would wait for, so it would
    // resolve (delete) a manifest still being written
    ColeIO.writeReplacing(fs, manifestPath(dir),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8), "swap manifest")

  /** Resolves interrupted swaps of `table` before a caller trusts a
    * listing: the root's manifest, then each of `leaves` (the leaf
    * directories of that listing). On an unpartitioned table the root is
    * the only leaf.
    */
  def recoverTable(fs: FileSystem, table: String, conf: Configuration,
      leaves: Seq[HPath]): Unit =
    (new HPath(table) +: leaves).map(d => fs.makeQualified(d).toString).distinct
      .foreach(d => recover(fs, new HPath(d), table, conf))

  /** Resolve an interrupted swap recorded by the manifest of `dir`: if
    * every expected new file landed, roll FORWARD (delete the listed old
    * files — the duplication window closes); otherwise roll BACK (delete
    * the partial new files — the old files are still the complete copy).
    * No-op without a manifest.
    *
    * Resolution runs under the claims of the manifest and its old files:
    * every swap writes its manifest under those claims and removes it
    * before releasing them, so a manifest a LIVE committer claims is that
    * committer's swap in progress, not a crashed one to undo —
    * recovery parks until it finishes (or its claims expire), then
    * resolves only if the same manifest is still there.
    */
  def recover(fs: FileSystem, dir: HPath, table: String, conf: Configuration): Unit = {
    var pending = manifestLines(fs, dir)
    while (pending.isDefined) {
      val lines = pending.get
      val olds = lines.collect { case l if l.startsWith("old:") => l.drop(4) }
      val news = lines.collect { case l if l.startsWith("new:") => l.drop(4) }
      val claims = ColeClaims.acquire(fs, conf, table, manifestClaim(fs, table, dir) +:
        olds.map(n => ColeVersions.relOf(fs, table, new HPath(dir, n).toString)),
        "recover")
      try {
        val now = manifestLines(fs, dir)
        if (now == pending) {
          if (news.forall(n => fs.exists(new HPath(dir, n)))) olds.foreach { n =>
            fs.delete(new HPath(dir, n), false)
            fs.delete(new HPath(ColeBloomIndex.sidecarPath(
              new HPath(dir, n).toString)), false)
            ColeDv.drop(fs, new HPath(dir, n).toString)
          }
          else news.foreach(n => fs.delete(new HPath(dir, n), false))
          fs.delete(manifestPath(dir), false)
          pending = None
        } else pending = now // the holder finished; a newer swap may have begun
      } finally claims.release()
    }
  }
}
