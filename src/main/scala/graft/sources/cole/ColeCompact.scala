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
  * matches only `*.col` under `key=value` paths — then commits through
  * the [[ColeSwap]] of that directory: renamed into place before the old
  * files are deleted. Readers concurrent with the swap can see a batch
  * twice (rename-in before delete-old), never a partial file: run it as
  * an offline maintenance pass, like OPTIMIZE on any log-less table
  * format.
  *
  * Reading back through the connector (not byte concatenation) is
  * deliberate: it re-packs row groups to `rowGroupSize`, re-chooses
  * encodings per chunk, and optionally applies page compression — so
  * compaction doubles as re-layout.
  */
object ColeCompact {

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
    // finish or roll back any interrupted earlier swap
    ColeSwap.recoverTable(fs, table, conf, dirs)
    // the rewrite of `dir` into `nOut` files in scratch directory `tmp`
    def write(dir: HPath, tmp: HPath, nOut: Int): Unit = {
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
    }
    var (compacted, filesBefore, filesAfter, bytesBefore, bytesAfter) =
      (0, 0, 0, 0L, 0L)
    dirs.foreach { dir =>
      // list AFTER recovery: a roll-forward/back just changed the file
      // set, and a stale pre-recovery listing would double-count bytes
      // and write deleted names into the new swap manifest
      val sts = fs.listStatus(dir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".col"))
        .sortBy(_.getPath.toString).toSeq
      filesBefore += sts.size
      val bytes = sts.map(_.getLen).sum
      bytesBefore += bytes
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      // a directory whose files carry deletion vectors must rewrite even
      // when its file count is already small: compaction is what
      // MATERIALIZES the vectors (and what unblocks delete_mode='copy')
      def hasDv = sts.exists { s =>
        fs.exists(new HPath(ColeDv.sidecarPath(s.getPath.toString))) }
      val mustRewrite = alwaysRewrite.contains(fs.makeQualified(dir).toString)
      val removed = sts.map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
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
        // (len,mtime) check. A directory whose files drifted since the
        // listing — at the claim, or after the rewrite (the claim
        // heartbeat's belt: a DML that landed after a wrongly broken
        // claim) — is SKIPPED this pass (counted uncompacted; the next
        // maintenance run picks it up).
        val claimed = ColeSwap.claim(fs, conf, table, "compact", removed.map(_._1), Seq(dir))
        try {
          val stamp = ColeSwap.newStamp()
          val tmp = new HPath(dir, ColeSwap.scratchName("compact", stamp))
          val rewritten = ColeSwap.drifted(fs, removed).isEmpty && {
            write(dir, tmp, nOut)
            ColeSwap.drifted(fs, removed).isEmpty || { fs.delete(tmp, true); false }
          }
          if (!rewritten) {
            filesAfter += sts.size; bytesAfter += bytes
          } else {
            val outs = fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".col"))
            ColeSwap.commit(fs, table, conf, "compact", stamp, claimed,
              Seq(ColeSwap.Group(dir, removed.map(_._1), outs.indices.map(i =>
                (outs(i).getPath.toString, new HPath(dir, s"compact-$stamp-$i.col").toString)))))(Nil)
            compacted += 1
            filesAfter += outs.length
            bytesAfter += outs.map(_.getLen).sum
          }
        } finally claimed.release()
      }
    }
    Stats(dirs.size, compacted, filesBefore, filesAfter, bytesBefore, bytesAfter)
  }

  /** Delete crash leftovers older than `olderThanMs`: abandoned dotted
    * in-progress files (a task that died before commit), `.tmp` scratch,
    * and stale swap scratch directories ([[ColeSwap.scratchName]]: a
    * crashed DML, compaction or rebucket). Live data, sidecars, records, and RECENT
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
          if (ColeSwap.isScratch(name) && stale) {
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
}
