package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.sources.cole.ColeFormat._

/** The copy-on-write file rewrite behind `DELETE WHERE` ([[ColeDelete]]),
  * the native UPDATE ([[ColeUpdateExec]]) and the native MERGE
  * ([[ColeMergeExec]]): one engine, two per-row-group transforms — drop
  * the rows the condition selects, or patch them. A MERGE also adds the
  * source rows no target row matched; they commit with the replacements
  * as one statement.
  *
  * Shape: file-local and embarrassingly parallel. Footer stats classify
  * every file on the driver WITHOUT reading a data byte:
  *
  *   - no row can match (partition value misses, stats exclude the
  *     predicate on every row group, or a predicate column predates the
  *     file under schema evolution) → file UNTOUCHED, byte-identical;
  *   - every row provably matches → whole-file DROP (delete), or a
  *     rewrite that patches every row (update);
  *   - otherwise → the file REWRITES to one replacement, or to one per
  *     run of its row groups when it is larger than the statement's split
  *     size ([[runsOf]]).
  *
  * Rewrites fan out as one Spark job (one task per file or run, no
  * shuffle). Each task walks its row groups in order, preserving row
  * order and row-group boundaries: a group without a selected row — or
  * whose patched values all equal the originals — splices its STORED
  * bytes verbatim; any other group decodes, applies the transform and
  * re-encodes with the chunk's own encodings. A file whose transform
  * changes nothing stays byte-identical (unsplit, it opens no writer).
  * Rows never leave their file's directory and keep their order, so
  * partition, bucket and sort layouts hold.
  *
  * Transaction: the [[ColeSwap]], one manifest per directory.
  * Replacement files land in a dotted scratch directory (invisible to
  * readers), the manifest commits the intent, then rename-in /
  * delete-old; a crash at any point is resolved by [[ColeSwap.recover]].
  * Concurrent writers are detected by (length, mtime) snapshot
  * comparison immediately before the swap, under per-file claims, and
  * rejected loudly — nothing has been renamed at that point, so an
  * aborted statement leaves the table byte-identical.
  *
  * Selection semantics are SQL WHERE-true: a row is selected only when
  * the condition evaluates TRUE; NULL comparisons leave the row alone
  * (every ColePredicate evaluator rejects NULL slots).
  */
object ColeRewrite {

  /** What one statement did. `rowsMatched` counts the rows the condition
    * selected (deleted rows for a drop); `noopFiles` the candidates whose
    * transform changed nothing.
    */
  final case class Stats(filesTotal: Int, filesUntouched: Int,
      filesDropped: Int, filesRewritten: Int, rowsMatched: Long,
      rowGroupsSpliced: Long, noopFiles: Int, rowsInserted: Long = 0L)

  /** What a rewrite does to the selected rows of a row group. */
  trait Transform extends Serializable {
    /** Statement name: claims, version records, file names, messages. */
    def op: String
  }

  /** Drop the selected rows. */
  case object DropRows extends Transform { val op = "delete" }

  /** Patch the selected rows in place. */
  trait PatchRows extends Transform {
    def op: String = "update"
    /** Executor side, once per file. */
    def forFile(meta: FileMeta, partValues: Seq[(String, String)]): RowGroupPatch
  }

  trait RowGroupPatch {
    /** The row group's chunks with the selected rows (`sel`, ascending
      * ordinals) patched, by column index, or null when no selected row
      * changes. The reader's chunks are shared: a patched chunk is a copy.
      */
    def apply(reader: ColeFileReader, rgIdx: Int, sel: Array[Int]): Map[Int, ColumnData]
    /** The file's rows the patch matched, when it narrows the selection
      * itself (MERGE probes its key); -1 when every selected row counts.
      */
    def rowsMatched: Long = -1L
    /** The source rows the file's rows matched (MERGE). */
    def sourceMatched: Array[Int] = Array.emptyIntArray
  }

  /** Driver-side classification of the live files ([[classify]]). */
  final case class Plan(infos: Seq[ColeMetaCache.FileInfo],
      /** every row matches */
      whole: Seq[ColeMetaCache.FileInfo],
      /** some rows may match */
      partial: Seq[ColeMetaCache.FileInfo],
      /** per candidate: the predicates its rows evaluate */
      filePreds: Map[String, Array[ColePredicate]]) {
    def isEmpty: Boolean = whole.isEmpty && partial.isEmpty
    def untouched: Stats = Stats(infos.size, infos.size, 0, 0, 0L, 0L, 0)
  }

  /** The live files against `preds`, as a fold over the table's
    * [[ColePlan]]: a file with no surviving row group stays untouched, one
    * whose every row group survives fully matches whole, any other one is
    * partial.
    */
  def classify(table: String, preds: Array[ColePredicate], conf: Configuration): Plan = {
    val (fs, _) = ColeIO.resolve(table, conf)
    // resolve any interrupted earlier swap before trusting the listing
    ColeSwap.recoverTable(fs, table, conf,
      ColeIO.listPartitioned(table, conf).map(_._1.getPath.getParent).distinct)
    val infos = ColeMetaCache.infos(table, conf)
    val files = ColePlan.plan(table, conf, infos, None, preds).files
    val (whole, partial) = files.partition(_.whole)
    Plan(infos, whole.map(_.info), partial.map(_.info),
      files.map(f => f.info.path -> f.preds).toMap)
  }

  /** One task's outcome over a run of `file`'s row groups: `changed`
    * counts the deleted rows, or the selected rows of the groups a patch
    * altered; 0 over every run = the file stays as it is. `written`: the
    * run's rows are in scratch file `name`. `sourceMatched`: the source
    * rows a MERGE's patch matched.
    */
  private final case class FileResult(file: String, name: String, kept: Long,
      matched: Long, changed: Long, spliced: Int, written: Boolean,
      sourceMatched: Array[Int])

  /** The runs of row groups [from, until) `meta` rewrites as, one task
    * and one replacement each: a file larger than `splitBytes` splits
    * into about `len / splitBytes` runs of equal row-group counts.
    */
  private def runsOf(meta: FileMeta, len: Long, splitBytes: Long): Seq[(Int, Int)] = {
    val n = meta.rowGroups.size
    val k = math.max(1L, math.min(n.toLong, (len + splitBytes - 1) / splitBytes)).toInt
    (0 until k).map(r => (r * n / k, (r + 1) * n / k))
  }

  /** The split size Spark's file scans use for these files: their bytes
    * spread over the task slots, between the open cost and
    * `spark.sql.files.maxPartitionBytes`. A rewrite then spreads over the
    * slots as a scan of the same files would, and leaves files a later
    * statement need not split again.
    */
  private def splitBytes(spark: SparkSession, files: Seq[ColeMetaCache.FileInfo]): Long =
    org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(spark,
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        files.map(i => new org.apache.hadoop.fs.FileStatus(i.len, false, 1, 0L, i.mtime,
          new HPath(i.path))).toArray)))

  /** Each run's replacement name, per (file, run) of `runs` (file, run,
    * runs of the file): the statement prefix on the source's base name,
    * with the run's index when the file splits. Earlier statement
    * prefixes are stripped so names do not grow with every rewrite of the
    * same file. A name another run of the directory already took gets a
    * counter after the prefix, so no two replacements share a name.
    */
  private def replacementNames(op: String, stamp: String,
      runs: Seq[(String, Int, Int)]): Map[(String, Int), String] = {
    val Prefixed = "^(?:(?:delete|update|merge)-[0-9a-f]+-)+(.+)$".r
    def base(f: String): String = new HPath(f).getName match {
      case Prefixed(b) => b
      case n => n
    }
    runs.groupBy(r => new HPath(r._1).getParent.toString).values.flatMap { rs =>
      val taken = scala.collection.mutable.Set.empty[String]
      rs.map { case (f, r, k) =>
        val b = if (k == 1) base(f) else base(f).stripSuffix(".col") + s"-$r.col"
        var name = s"$op-$stamp-$b"
        var i = 0
        while (!taken.add(name)) { i += 1; name = s"$op-$stamp-$i-$b" }
        (f, r) -> name
      }
    }.toMap
  }

  /** Test seam: runs after the rewrite job, before the claims, the race
    * check and the swap — a concurrent writer injected here must be
    * detected.
    */
  private[cole] var raceWindow: () => Unit = () => ()

  /** Runs the rewrite of `plan` and commits it as one statement.
    *
    * @param inserts a MERGE's added rows: driver side, after the rewrite
    *                job, given the source rows its tasks matched, the
    *                scratch directory (dotted, in the table root, laid
    *                out as the table) and the file-name prefix, writes the
    *                rows to add and returns their files
    */
  def rewrite(spark: SparkSession, table: String, plan: Plan,
      conf: Configuration, transform: Transform,
      inserts: Option[(java.util.BitSet, String, String) => Seq[ColeWrittenFile]] = None)
      : Stats = {
    val op = transform.op
    val (fs, root) = ColeIO.resolve(table, conf)
    val infos = plan.infos
    // a drop needs no task for a file whose every row matches; a patch
    // rewrites it like any other candidate
    val (dropped, rewrites) = transform match {
      case DropRows => (plan.whole, plan.partial)
      case _ => (Seq.empty, plan.whole ++ plan.partial)
    }
    val stamp = ColeSwap.newStamp()
    val scratchName = ColeSwap.scratchName(op, stamp)
    val split = splitBytes(spark, rewrites)
    val runs = rewrites.map(i => i.path -> runsOf(i.meta, i.len, split)).toMap
    val names = replacementNames(op, stamp,
      rewrites.flatMap(i => runs(i.path).indices.map(r => (i.path, r, runs(i.path).size))))
    // replacements land in a scratch directory beside their source; added
    // rows in one under the table root that mirrors the table's layout
    val insertScratch = new HPath(root, scratchName)
    val scratchDirs = (rewrites.map(i => new HPath(i.path).getParent).distinct
      .map(new HPath(_, scratchName)) ++ inserts.map(_ => insertScratch))
    def dropScratch(): Unit = scratchDirs.foreach(fs.delete(_, true))

    // ---- distributed rewrite: one task per affected file or run of its
    // row groups, zero shuffle. A split file's runs all write, changed or
    // not: the file is replaced whole
    val hconf = new ColeHadoopConf(conf)
    val runResults: Seq[FileResult] =
      if (rewrites.isEmpty) Seq.empty
      else {
        val tasks = rewrites.flatMap(i => runs(i.path).zipWithIndex.map { case ((from, until), r) =>
          (i.path, i.partValues, names((i.path, r)), plan.filePreds(i.path), from, until,
            runs(i.path).size > 1)
        })
        val sc = spark.sparkContext
        val tag = s"cole$scratchName"
        sc.addJobTag(tag)
        try sc.parallelize(tasks, tasks.size)
          .map { case (f, pv, name, ps, from, until, split) =>
            rewriteFile(f, pv, scratchName, name, ps, transform, hconf, from, until, split) }
          .collect().toSeq
        catch {
          case e: Throwable =>
            // the first failed task fails the job while its siblings may
            // still write into the scratch: stop them before dropping it
            sc.cancelJobsWithTag(tag)
            val st = sc.statusTracker
            val deadline = System.nanoTime() + 30000000000L
            while (System.nanoTime() < deadline && st.getJobIdsForTag(tag).iterator
                .flatMap(st.getJobInfo(_)).flatMap(_.stageIds).flatMap(st.getStageInfo(_))
                .exists(_.numActiveTasks > 0)) Thread.sleep(10)
            dropScratch()
            throw e
        } finally sc.removeJobTag(tag)
      }
    // per file: its runs' outcomes added up
    val results: Map[String, FileResult] = runResults.groupBy(_.file).map { case (f, rs) =>
      f -> FileResult(f, rs.head.name, rs.map(_.kept).sum, rs.map(_.matched).sum,
        rs.map(_.changed).sum, rs.map(_.spliced).sum, rs.exists(_.written),
        rs.flatMap(_.sourceMatched).toArray)
    }
    // ---- added rows, each file with the live path it renames to
    val added: Seq[(ColeWrittenFile, HPath)] = inserts.toSeq.flatMap { ins =>
      val matched = new java.util.BitSet
      results.valuesIterator.foreach(_.sourceMatched.foreach(matched.set))
      val prefix = insertScratch.toString + "/"
      try ins(matched, insertScratch.toString, s"$op-$stamp-").map { f =>
        require(f.fin.startsWith(prefix), s"added file ${f.fin} outside $prefix")
        f -> fs.makeQualified(new HPath(root, f.fin.stripPrefix(prefix)))
      }
      catch { case e: Throwable => dropScratch(); throw e }
    }
    // a rename onto a live name would replace that file's rows
    val landing = names.toSeq.map { case ((f, _), n) =>
      fs.makeQualified(new HPath(new HPath(f).getParent, n)) } ++ added.map(_._2)
    if (landing.distinct.size != landing.size) {
      dropScratch()
      throw new IllegalStateException(s"${op.toUpperCase} would land two files on one " +
        s"name: ${landing.diff(landing.distinct).distinct.mkString(", ")}")
    }
    raceWindow()
    // a rewrite that kept ZERO rows degenerates to a whole-file drop —
    // never rename an empty replacement into the table. A rewrite that
    // CHANGED zero rows (stats couldn't exclude, exact evaluation did, or
    // every patched value equals the original) degenerates to untouched:
    // its original stays, byte-identical, and no replacement renames in.
    val noop = results.filter(_._2.changed == 0L)
    val emptied = results.filter { case (_, r) => r.changed > 0L && r.kept == 0L }
    val replaced = results.filter { case (_, r) => r.changed > 0L && r.kept > 0L }

    // ---- the swap, one manifest per directory: rows never leave their
    // file's directory, and added files roll forward or back with the
    // replacements of theirs
    val swapFiles = dropped ++ rewrites.filterNot(i => noop.contains(i.path))
    val swapByDir = swapFiles.groupBy(i => fs.makeQualified(new HPath(i.path).getParent))
    val addedByDir = added.groupBy(_._2.getParent)
    val groups = (swapByDir.keySet ++ addedByDir.keySet).toSeq.sortBy(_.toString).map { dir =>
      val files = swapByDir.getOrElse(dir, Seq.empty)
      val scratch = new HPath(dir, scratchName)
      ColeSwap.Group(dir, files.map(_.path),
        files.filter(i => replaced.contains(i.path)).flatMap(i =>
          runResults.filter(r => r.file == i.path && r.written).map(r =>
            (new HPath(scratch, r.name).toString, new HPath(dir, r.name).toString))),
        addedByDir.getOrElse(dir, Seq.empty).map { case (f, live) => (f.written, live.toString) })
    }
    val claimed = try ColeSwap.claim(fs, conf, table, op, swapFiles.map(_.path),
      groups.map(_.dir))
    catch { case e: Throwable => dropScratch(); throw e }
    try {
      // concurrent-write race check: every file this statement decided
      // over, in every directory, must still be exactly the bytes the
      // decision read. Abort BEFORE any mutation — the table is untouched
      // on rejection (speculative scratch output is discarded), so a
      // retry re-runs the whole statement, never half of it.
      ColeSwap.drifted(fs, swapFiles.map(i => (i.path, i.len, i.mtime))).foreach { p =>
        dropScratch()
        throw new IllegalStateException(s"concurrent write detected on $p during " +
          s"${op.toUpperCase}; aborted with no changes — retry after the other writer commits")
      }
      // before the version record: drop the scratch of the directories
      // whose every rewrite was a no-op (they never swapped)
      ColeSwap.commit(fs, table, conf, op, stamp, claimed, groups) { dropScratch(); Nil }
    } finally claimed.release()

    // if the statement emptied the table, persist the schema sidecar so
    // the table still resolves (files are the usual source of truth)
    if (infos.nonEmpty && added.isEmpty && dropped.size + emptied.size == infos.size) {
      import org.apache.spark.sql.types._
      val partFields = ColeMetaCache.partitionSchema(infos,
          ColePartEvolve.evolvedCols(table, conf))
        .filterNot(f => ColeTemporal.isLayoutKey(f._1))
        .map { case (k, t) =>
          StructField(k, t match {
            case "int" => IntegerType
            case "long" => LongType
            case _ => StringType
          }, nullable = false)
        }
      ColeCatalog.writeTableSpec(table, conf,
        StructType(ColeUtil.toSparkSchemaOf(infos).fields.toSeq ++ partFields),
        partFields.map(_.name), ColeCatalog.droppedColumns(table, conf),
        ColeCatalog.renames(table, conf))
    }

    Stats(infos.size,
      infos.size - dropped.size - rewrites.size + noop.size,
      dropped.size + emptied.size,
      replaced.size,
      dropped.map(_.meta.totalRows).sum + results.valuesIterator.map(_.matched).sum,
      results.valuesIterator.map(r => if (r.changed == 0L) 0L else r.spliced.toLong).sum,
      noop.size,
      added.map(_._1.rows).sum)
  }

  /** Executor-side single-file rewrite into `<dir>/<scratch>/<name>`. */
  private def rewriteFile(file: String, partValues: Seq[(String, String)],
      scratch: String, name: String, preds: Array[ColePredicate],
      transform: Transform, hconf: ColeHadoopConf, from: Int, until: Int,
      split: Boolean): FileResult =
    // a candidate vanishing mid-rewrite = a concurrent committer's swap
    // retired it: surface the loud, RETRYABLE conflict (the auto-retry
    // re-plans from a fresh listing), never a bare FileNotFoundException
    try rewriteFileInner(file, partValues, scratch, name, preds, transform, hconf,
      from, until, split)
    catch {
      case e: java.io.FileNotFoundException => throw new IllegalStateException(
        s"concurrent write detected during ${transform.op.toUpperCase} rewrite " +
          s"(${e.getMessage}): another committer replaced a candidate " +
          "file; aborted with no changes — retry after the other writer " +
          "commits", e)
    }

  /** Rewrites row groups [`from`, `until`) of `file`; a `split` run
    * writes its groups even when none changes.
    */
  private def rewriteFileInner(file: String, partValues: Seq[(String, String)],
      scratch: String, name: String, preds: Array[ColePredicate],
      transform: Transform, hconf: ColeHadoopConf, from: Int, until: Int,
      split: Boolean): FileResult = {
    val conf = hconf.value
    val reader = new ColeFileReader(file, conf)
    try {
      val meta = reader.meta
      val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
      val src = new HPath(file)
      val outPath = new HPath(new HPath(src.getParent, scratch), name)
      // ---- phase 1: selection only. Decode just the PREDICATE columns
      // and decide per row group what matches. A file where nothing
      // matches (the steady state of every idempotent re-run) returns
      // here — no writer opened, no other column decoded.
      val AllRows: Array[Int] = null // marker: whole group matches
      val groups = from until until
      val selections: Map[Int, Array[Int]] = groups.map { rgIdx =>
        val rg = meta.rowGroups(rgIdx)
        rgIdx -> (
          if (preds.isEmpty) AllRows
          else if (ColePredicate.skipRowGroup(rg, nameToIdx, preds))
            Array.empty[Int]
          else if (ColePredicate.fullyKeepsRowGroup(rg, nameToIdx, preds))
            AllRows
          else ColePredicate.buildSelection(
            reader, rgIdx, rg.numRows, nameToIdx, preds))
      }.toMap
      val totalRows = groups.map(meta.rowGroups(_).numRows.toLong).sum
      val matched = groups.map { rgIdx =>
        val sel = selections(rgIdx)
        if (sel eq AllRows) meta.rowGroups(rgIdx).numRows.toLong else sel.length.toLong
      }.sum
      if (matched == 0L && !split)
        return FileResult(file, name, totalRows, 0L, 0L, 0, written = false, Array.emptyIntArray)
      // ---- phase 2: transform the selected groups, reusing the phase-1
      // selections (predicate columns decode once). The writer opens at
      // the first changed group; groups before it splice then.
      // Preserve the source's format version and page compression
      // (sizes differ = deflate).
      val wconf = {
        val c = new Configuration(conf)
        c.set(ColeFileWriter.VersionKey, meta.version.toString)
        val compressed = meta.rowGroups.exists(_.chunks.exists(_.pages.exists(
          p => p.compressedSize != p.uncompressedSize)))
        if (compressed) c.set(ColeFileWriter.CompressKey, "deflate")
        c
      }
      val patch = transform match {
        case p: PatchRows => p.forFile(meta, partValues)
        case _ => null
      }
      var writer: ColeFileWriter = null
      val pendingSplices = scala.collection.mutable.ArrayBuffer.empty[Int]
      var kept = 0L
      var changed = 0L
      var spliced = 0
      // no row of the group changes: splice its STORED bytes verbatim —
      // pages, encodings, compression and CRCs stay bit-identical, only
      // the chunk offsets rebase; nothing decodes or re-encodes
      def splice(rgIdx: Int): Unit = {
        writer.writeRawRowGroup(meta, rgIdx,
          meta.columns.indices.map(reader.readChunkBytes(rgIdx, _)))
        spliced += 1
      }
      def unchanged(rgIdx: Int): Unit = {
        kept += meta.rowGroups(rgIdx).numRows
        if (writer == null) pendingSplices += rgIdx else splice(rgIdx)
      }
      def write(rg: RowGroupMeta, cols: Seq[ColumnData], n: Int): Unit = {
        if (writer == null) {
          writer = new ColeFileWriter(outPath.toString, meta.columns, wconf)
          pendingSplices.foreach(splice)
        }
        writer.writeRowGroup(cols, n, chunkEncodings(rg, cols))
        kept += n
      }
      try {
        groups.foreach { rgIdx =>
          val rg = meta.rowGroups(rgIdx)
          val sel = selections(rgIdx)
          val all = (sel eq AllRows) || sel.length == rg.numRows
          if (sel != null && sel.isEmpty) unchanged(rgIdx)
          else if (patch == null) {
            if (all) changed += rg.numRows // every row deletes: drop the group
            else {
              val keepIdx = unselected(sel, rg.numRows)
              write(rg, meta.columns.indices.map(ci =>
                reader.readChunk(rgIdx, ci).gather(keepIdx)), keepIdx.length)
              changed += sel.length
            }
          } else {
            val rows = if (sel eq AllRows) Array.range(0, rg.numRows) else sel
            val patched = patch(reader, rgIdx, rows)
            if (patched == null) unchanged(rgIdx)
            else {
              write(rg, meta.columns.indices.map(ci =>
                patched.getOrElse(ci, reader.readChunk(rgIdx, ci))), rg.numRows)
              changed += rows.length
            }
          }
        }
        // a drop that removed whole groups still rewrites the rest, and a
        // split run writes its groups whether or not they changed
        if ((changed > 0L || split) && writer == null && pendingSplices.nonEmpty) {
          writer = new ColeFileWriter(outPath.toString, meta.columns, wconf)
          pendingSplices.foreach(splice)
        }
        if (writer != null) writer.close()
      } catch {
        case e: Throwable =>
          if (writer != null) {
            try writer.close() catch { case _: Exception => () } // failing anyway
            val (ofs, op) = ColeIO.resolve(outPath.toString, conf)
            ofs.delete(op, false)
          }
          throw e
      }
      FileResult(file, name, kept,
        if (patch != null && patch.rowsMatched >= 0) patch.rowsMatched else matched,
        changed, spliced, written = writer != null,
        if (patch == null) Array.emptyIntArray else patch.sourceMatched)
    } finally reader.close()
  }

  /** The ordinals in [0, `n`) missing from `sel` (ascending). */
  private def unselected(sel: Array[Int], n: Int): Array[Int] = {
    val out = new Array[Int](n - sel.length)
    var r = 0; var s = 0; var o = 0
    while (r < n) {
      if (s < sel.length && sel(s) == r) s += 1
      else { out(o) = r; o += 1 }
      r += 1
    }
    out
  }

  /** Original per-chunk encodings, with the writer's nulls rule applied
    * (chunks that carry nulls write Plain + validity bitmap).
    */
  private def chunkEncodings(rg: RowGroupMeta, cols: Seq[ColumnData]): Seq[Enc] =
    rg.chunks.zip(cols).map { case (c, cd) =>
      if (cd.nulls != null && anyNull(cd.nulls)) Plain
      else c.pages.headOption.map(_.encoding).getOrElse(Plain)
    }

  private def anyNull(nulls: Array[Boolean]): Boolean = {
    var r = 0
    while (r < nulls.length) { if (nulls(r)) return true; r += 1 }
    false
  }
}
