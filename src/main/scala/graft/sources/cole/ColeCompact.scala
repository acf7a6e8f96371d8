package graft.sources.cole

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for COLE tables — the maintenance op every
  * streaming sink needs: each epoch commits its own part files, so a
  * long-running `writeStream.format("cole")` accumulates thousands of
  * tiny files whose per-file planning / open / footer costs eventually
  * dominate scans. `compact` rewrites each leaf directory (the table
  * root, or every `key=value` partition directory) into
  * ceil(bytes / targetBytes) files, preserving the partition layout.
  *
  * Visibility: compacted output is first written to a dotted
  * `.compact-*` scratch directory — invisible to readers, whose listing
  * matches only `*.col` under `key=value` paths — then renamed into
  * place before the old files are deleted. Readers concurrent with the
  * swap can see a batch twice (rename-in before delete-old), never a
  * partial file: run it as an offline maintenance pass, like OPTIMIZE
  * on any log-less table format.
  *
  * Reading back through the connector (not byte concatenation) is
  * deliberate: it re-packs row groups to `rowGroupSize`, re-chooses
  * encodings per chunk, and optionally applies page compression — so
  * compaction doubles as re-layout.
  */
object ColeCompact {

  /** Test seam: runs after the table-level compaction record is durable
    * and BEFORE the outputs rename into the data dir — the other half of
    * the r9 race window. Interleaving specs run a live stream trigger
    * here to prove record-before-rename protects a concurrent reader.
    * No-op in production.
    */
  val betweenRecordAndRenameHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](() => ())

  final case class Stats(dirs: Int, compactedDirs: Int, filesBefore: Int,
      filesAfter: Int, bytesBefore: Long, bytesAfter: Long)

  def compact(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20, rowGroupSize: Int = 65536,
      compress: Option[String] = None): Stats =
    rewriteDirs(spark, table, targetBytes, rowGroupSize, compress,
      skipWhenFewFiles = true, transform = None)

  /** DEBT-DRIVEN compaction (r10): rewrite only the directories whose
    * maintenance debt crosses a threshold — deletion-vector debt
    * (deleted rows / total rows ≥ `minDeletedRatio`, the `$files`
    * deleted_rows/row_count ratio) or small-file accumulation (at least
    * `minSmallFiles` files under `targetBytes`, the streaming sink's
    * epoch-per-file shape). The selection is a DRIVER-SIDE metadata
    * decision — cached footers plus sidecar counts, no data bytes — so
    * a nightly cron pays for exactly the directories that need work: on
    * a 100 TB table where one partition takes the write traffic,
    * whole-table compact re-reads everything to rewrite one directory;
    * this reads only the debtors.
    */
  def compactDebt(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20, minDeletedRatio: Double = 0.1,
      minSmallFiles: Int = 4, rowGroupSize: Int = 65536,
      compress: Option[String] = None, foldDebt: Boolean = false): Stats = {
    require(minDeletedRatio > 0.0 && minDeletedRatio <= 1.0,
      s"minDeletedRatio must be in (0, 1], got $minDeletedRatio")
    require(minSmallFiles >= 2,
      s"minSmallFiles must be >= 2 (one small file has nothing to merge)")
    val conf = ColeIO.driverConf()
    val (fs, _) = ColeIO.resolve(table, conf)
    val byDir = ColeMetaCache.infos(table, conf)
      .groupBy(i => new HPath(i.path).getParent.toString)
    val eligible = byDir.collect { case (dir, is)
        if {
          val rows = is.map(_.meta.totalRows).sum
          val deleted = is.map(i =>
            ColeDv.read(fs, i.path, i.len, i.mtime)
              .map(_.length.toLong).getOrElse(0L)).sum
          val small = is.count(_.len < targetBytes)
          (deleted > 0 && rows > 0 &&
            deleted.toDouble / rows >= minDeletedRatio) ||
            small >= minSmallFiles
        } => dir
    }.toSet
    // FOLD debt (r16, verdict ask #5): any file lacking the v2 SUMS
    // footer tail forfeits the metadata-only aggregate path for the
    // whole table (the fold is all-or-nothing per query). With
    // `fold_debt => true`, exactly the directories holding pre-SUMS
    // stragglers rewrite — FORCED to v2 (the auto version choice would
    // re-emit v1 for plain integral schemas) and rewritten even when
    // already a single right-sized file — so an incrementally-migrated
    // 100 TB table converges to the fold path instead of forfeiting it
    // to one old file.
    // r17: the STRB tail (exact per-chunk string bounds) is fold debt
    // too — a string-column file written before the extension forfeits
    // metadata-only string MIN/MAX the same way a pre-SUMS file
    // forfeits SUM
    val foldDirs: Set[String] =
      if (!foldDebt) Set.empty
      else byDir.collect { case (dir, is)
        if is.exists(i => i.meta.chunkSums.isEmpty ||
          (i.meta.columns.exists(_.colType == ColeFormat.TString) &&
            i.meta.chunkStrBounds.isEmpty)) => dir }.toSet
    rewriteDirs(spark, table, targetBytes, rowGroupSize, compress,
      skipWhenFewFiles = true, transform = None,
      onlyDirs = Some(eligible ++ foldDirs),
      alwaysRewrite = foldDirs.map(d =>
        fs.makeQualified(new HPath(d)).toString),
      forceVersion = if (foldDebt) Some(2) else None)
  }

  /** Re-cluster the whole table on the z-order of two columns, in place,
    * through the SAME crash-safe two-phase swap as [[compact]] — row
    * groups then cover small rectangles of the (a, b) key plane and
    * footer stats prune on EITHER dimension. Row-preserving (commits as
    * a compaction for the version log and streaming sources). Rejected
    * on bucketed tables: their layout routes rows by the bucket hash and
    * a z-range repartition would break it (they have their own sorted
    * order).
    */
  def zorder(spark: SparkSession, table: String, colA: String, colB: String,
      targetBytes: Long = 128L << 20, rowGroupSize: Int = 65536,
      compress: Option[String] = None): Stats = {
    val conf = ColeIO.driverConf()
    require(ColeBucket.readSpec(table, conf).isEmpty,
      s"zorder on a BUCKETED table would break its hash routing; " +
        "compact preserves the sorted bucket layout instead")
    rewriteDirs(spark, table, targetBytes, rowGroupSize, compress,
      skipWhenFewFiles = false,
      transform = Some((df, n) =>
        graft.operators.Zorder.cluster(df,
          org.apache.spark.sql.functions.col(colA),
          org.apache.spark.sql.functions.col(colB), n)))
  }

  private def rewriteDirs(spark: SparkSession, table: String,
      targetBytes: Long, rowGroupSize: Int, compress: Option[String],
      skipWhenFewFiles: Boolean,
      transform: Option[(org.apache.spark.sql.DataFrame, Int) =>
        org.apache.spark.sql.DataFrame],
      onlyDirs: Option[Set[String]] = None,
      // fold-debt migration: these (qualified) dirs rewrite even when
      // already a single right-sized file, at the forced format version
      alwaysRewrite: Set[String] = Set.empty,
      forceVersion: Option[Int] = None): Stats = {
    // compaction retires its inputs — a clone's foreign inputs belong
    // to the SOURCE; localize first
    ColeClone.requireLocal(table, ColeIO.driverConf(), "compact/zorder")
    val conf = ColeIO.driverConf()
    val (fs, _) = ColeIO.resolve(table, conf)
    val dirs = ColeIO.listPartitioned(table, conf)
      .map(_._1.getPath.getParent).distinct.sortBy(_.toString)
      // debt-driven selection: directories under threshold are never
      // listed, recovered, or read — their files stay byte-identical
      .filter(d => onlyDirs.forall(_.contains(fs.makeQualified(d).toString)))
    var (compacted, filesBefore, filesAfter, bytesBefore, bytesAfter) =
      (0, 0, 0, 0L, 0L)
    dirs.foreach { dir =>
      recover(fs, dir, table, conf) // finish or roll back any interrupted earlier swap
      // list AFTER recovery: a roll-forward/back just changed the file
      // set, and a stale pre-recovery listing would double-count bytes
      // and write deleted names into the new swap manifest
      val sts = fs.listStatus(dir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".col"))
        .sortBy(_.getPath.toString).toSeq.map(s => (s, ()))
      filesBefore += sts.size
      val bytes = sts.map(_._1.getLen).sum
      bytesBefore += bytes
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      // a directory whose files carry deletion vectors must rewrite even
      // when its file count is already small: compaction is what
      // MATERIALIZES the vectors (and what unblocks delete_mode='copy')
      def hasDv = sts.exists { s =>
        fs.exists(new HPath(ColeDv.sidecarPath(s._1.getPath.toString))) }
      val mustRewrite = alwaysRewrite.contains(fs.makeQualified(dir).toString)
      if (sts.isEmpty ||
          (skipWhenFewFiles && sts.size <= nOut && !hasDv && !mustRewrite)) {
        filesAfter += sts.size; bytesAfter += bytes
      } else {
        // compaction participates in the DML claim protocol (r12): it
        // claims this directory's input files for the whole read→swap
        // window, so a row-level commit can never land in between and be
        // silently undone by the swap (rows resurrected from the
        // pre-DML bytes the rewrite read). Overlapping DML parks on the
        // claims and — once the swap lands — rejects loudly on its own
        // (len,mtime) check; a directory whose files drifted between the
        // listing and the claim is SKIPPED this pass (counted
        // uncompacted; the next maintenance run picks it up).
        val claims = ColeClaims.acquire(fs, conf, table,
          manifestClaim(fs, table, dir) +:
            sts.map(s => ColeVersions.relOf(fs, table, s._1.getPath.toString)),
          "compact")
        def drifted = sts.exists { s =>
          try {
            val now = fs.getFileStatus(s._1.getPath)
            now.getLen != s._1.getLen ||
              now.getModificationTime != s._1.getModificationTime
          } catch { case _: java.io.FileNotFoundException => true }
        }
        if (drifted) {
          claims.release()
          filesAfter += sts.size; bytesAfter += bytes
        } else try {
        val stamp = java.lang.Long.toHexString(System.nanoTime())
        val tmp = new HPath(dir, s".compact-$stamp")
        // carry the source's format version: a v2 table (nullable/double
        // columns) must not be re-written as v1 — the auto choice sees
        // only the Spark schema, which can't distinguish "nullable" from
        // "has actual nulls"
        val srcVersion = forceVersion.getOrElse(
          ColeMetaCache.infos(dir.toString, conf)
            .map(_.meta.version).maxOption.getOrElse(1))
        // bucketed tables write SORTED bucket files; a plain coalesce
        // would concatenate the sorted runs and loosen every page stat —
        // re-sort within partitions so compaction PRESERVES the
        // range-prunable layout. Synthetic-key (bucketKey) layouts sort
        // by the SOURCE key tuple, not the stored hash column: that is
        // the order the writer laid down and the order range predicates
        // on the natural key prune by.
        val sortCols = ColeBucket.readDerivation(table, conf).map(_._2)
          .orElse(ColeBucket.readSpec(table, conf).map(_._2)).getOrElse(Seq.empty)
        // branch="" opts out of the WAP read route: compaction rewrites
        // MAIN and must never fold unaudited branch rows into it
        val src = transform match {
          case Some(t) => t(spark.read.format("cole").option("branch", "")
            .load(dir.toString), nOut)
          case None =>
            val src0 = spark.read.format("cole").option("branch", "")
              .load(dir.toString).coalesce(nOut)
            if (sortCols.isEmpty) src0
            else src0.sortWithinPartitions(sortCols.map(
              org.apache.spark.sql.functions.col): _*)
        }
        var w = src
          .write.format("cole").mode("overwrite")
          .option("rowGroupSize", rowGroupSize.toString)
          .option("formatVersion", srcVersion.toString)
        compress.foreach(c => w = w.option("compress", c))
        w.save(tmp.toString)
        // belt under the claim heartbeat (r13): the rewrite window is
        // data-proportional, and the claim-time drift check alone cannot
        // see a DML that landed after a claim was (wrongly) broken —
        // re-stat the inputs IMMEDIATELY before the swap intent commits
        // and abort on any drift, so the swap can never resurrect a
        // concurrent DML's rows even if the claims were lost (ADVICE r12)
        if (drifted) {
          fs.delete(tmp, true) // claims released by the enclosing finally
          filesAfter += sts.size; bytesAfter += bytes
        } else {
        val outs = fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".col"))
        val newNames = outs.indices.map(i => s"compact-$stamp-$i.col")
        // 2-phase swap: the manifest (old names to delete + new names
        // expected) commits the intent BEFORE any rename, so a crash at
        // ANY point leaves a state recover() resolves — forward when
        // every new file arrived, backward (drop partial news, keep the
        // olds) otherwise. Readers concurrent with the swap can
        // transiently double-count; permanent duplication cannot survive
        // the next compact() pass.
        val oldNames = sts.map(_._1.getPath.getName)
        writeManifest(fs, dir, oldNames.map("old:" + _) ++ newNames.map("new:" + _))
        // table-level compaction record for streaming sources: a source
        // whose cole-file-log already covers the INPUT files must not
        // re-emit their rows when the renamed OUTPUT files appear in the
        // directory (ColeMicroBatchStream consults these records)
        writeCompactionRecord(fs, table, stamp,
          newNames.map(n => fs.makeQualified(new HPath(dir, n)).toString),
          oldNames.map(n => fs.makeQualified(new HPath(dir, n)).toString))
        // test seam: the record is durable, the outputs are not yet
        // renamed — interleaving specs run a stream trigger here
        ColeCompact.betweenRecordAndRenameHook.get().run()
        outs.zip(newNames).foreach { case (s, name) =>
          require(fs.rename(s.getPath, new HPath(dir, name)),
            s"rename failed for ${s.getPath}")
        }
        // carry bloom sidecars across the rewrite: note which columns the
        // old files indexed, drop the now-orphaned sidecars with their
        // data files, and rebuild over the compacted layout
        val indexedCols = sts.flatMap(s =>
          ColeBloomIndex.indexedColumns(s._1.getPath.toString, conf)).distinct
        val versioned = ColeVersions.enabled(table, conf)
        val verRemoves = sts.flatMap { s =>
          fs.delete(new HPath(ColeBloomIndex.sidecarPath(s._1.getPath.toString)), false)
          ColeDv.drop(fs, s._1.getPath.toString) // vectors materialized
          ColeVersions.retireOrDelete(fs, table,
            s._1.getPath.toString, stamp, versioned)
        }
        fs.delete(tmp, true)
        fs.delete(manifestPath(dir), false)
        ColeVersions.commitIfEnabled(table, conf, "compact",
          newNames.map(n =>
            ColeVersions.relOf(fs, table, new HPath(dir, n).toString)),
          verRemoves)
        if (indexedCols.nonEmpty)
          ColeBloomIndex.build(dir.toString, indexedCols, conf)
        compacted += 1
        filesAfter += outs.length
        bytesAfter += outs.map(_.getLen).sum
        }
        } finally claims.release()
      }
    }
    Stats(dirs.size, compacted, filesBefore, filesAfter, bytesBefore, bytesAfter)
  }

  /** Directory (under the table root) of compaction records the streaming
    * source consults: one file per directory swap, lines
    * `out:<qualified path>` / `in:<qualified path>`. Ignored by readers
    * (no `key=value` name, no `.col` suffix); never deleted — the record
    * count grows with compaction RUNS, not with data.
    */
  def recordsDir(table: String): String = s"$table/_cole_compactions"

  private[cole] def writeCompactionRecord(fs: org.apache.hadoop.fs.FileSystem,
      table: String, stamp: String, outs: Seq[String], ins: Seq[String]): Unit = {
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
  private[cole] def manifestClaim(fs: org.apache.hadoop.fs.FileSystem, table: String,
      dir: HPath): String =
    ColeVersions.relOf(fs, table, manifestPath(dir).toString)

  /** The swap manifest of `dir`, None when there is none (or its swap
    * completed while it was being read).
    */
  private[cole] def manifestLines(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Option[Seq[String]] =
    try {
      val in = fs.open(manifestPath(dir))
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty).toSeq)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private[cole] def writeManifest(fs: org.apache.hadoop.fs.FileSystem, dir: HPath,
      lines: Seq[String]): Unit = {
    // a concurrent recover() must never read a torn manifest — an empty
    // one names no files whose claims it would wait for, so it would
    // resolve (delete) a manifest still being written
    ColeIO.writeReplacing(fs, manifestPath(dir),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8), "swap manifest")
  }

  /** Delete crash leftovers older than `olderThanMs`: abandoned dotted
    * in-progress files (a task that died before commit), `.tmp` scratch,
    * and stale `.delete-*` / `.update-*` / `.merge-*` / `.compact-*`
    * scratch directories. Live data, sidecars, records, and RECENT
    * in-progress files (a streaming epoch or replace-commit still in
    * flight — the TTL is the guard) are never touched. Returns the number
    * of paths removed.
    */
  def vacuum(table: String, conf: org.apache.hadoop.conf.Configuration,
      olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val (fs, root) = ColeIO.resolve(table, conf)
    if (!fs.exists(root)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    var removed = 0
    def sweep(dir: HPath): Unit = {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        val stale = st.getModificationTime < cutoff
        if (st.isDirectory) {
          if ((name.startsWith(".delete-") || name.startsWith(".update-") ||
              name.startsWith(".merge-") || name.startsWith(".compact-")) &&
              stale && name != ".compact-manifest") {
            fs.delete(st.getPath, true); removed += 1
          } else if (!name.startsWith(".") && name != "_cole_compactions" &&
              name != ColeStreamingWrite.ManifestDirName &&
              name != ColeVersions.DirName) sweep(st.getPath)
        } else if (stale &&
            (name.endsWith(".tmp") ||
              (name.startsWith(".") && name.contains(".inprogress")))) {
          fs.delete(st.getPath, false); removed += 1
        }
      }
    }
    sweep(root)
    removed
  }

  /** Resolve an interrupted swap recorded by the manifest: if every
    * expected new file landed, roll FORWARD (delete the listed old files
    * — the duplication window closes); otherwise roll BACK (delete the
    * partial new files — the old files are still the complete copy).
    * No-op without a manifest. Called per directory by [[compact]], by
    * the copy-on-write rewrite ([[ColeRewrite]]) and by [[ColeRebucket]]
    * before they trust a listing; exposed for standalone recovery.
    *
    * Resolution runs under the claims of the manifest and its old files:
    * every swap writes its manifest under those claims and removes it
    * before releasing them, so a manifest a LIVE committer claims is that
    * committer's swap in progress, not a crashed one to undo —
    * recovery parks until it finishes (or its claims expire), then
    * resolves only if the same manifest is still there.
    */
  def recover(fs: org.apache.hadoop.fs.FileSystem, dir: HPath, table: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
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
