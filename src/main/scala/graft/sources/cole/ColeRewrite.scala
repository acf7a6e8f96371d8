package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.sources.cole.ColeFormat._

/** The copy-on-write file rewrite behind `DELETE WHERE` ([[ColeDelete]])
  * and the native UPDATE ([[ColeUpdateExec]]): one engine, two per-row-
  * group transforms — drop the rows the condition selects, or patch them.
  *
  * Shape: file-local and embarrassingly parallel. Footer stats classify
  * every file on the driver WITHOUT reading a data byte:
  *
  *   - no row can match (partition value misses, stats exclude the
  *     predicate on every row group, or a predicate column predates the
  *     file under schema evolution) → file UNTOUCHED, byte-identical;
  *   - every row provably matches → whole-file DROP (delete), or a
  *     rewrite that patches every row (update);
  *   - otherwise → the file REWRITES to exactly one replacement.
  *
  * Rewrites fan out as one Spark job (one task per file, no shuffle).
  * Each task walks its file row group by row group, preserving row order
  * and row-group boundaries: a group without a selected row — or whose
  * patched values all equal the originals — splices its STORED bytes
  * verbatim; any other group decodes, applies the transform and
  * re-encodes with the chunk's own encodings. A file whose transform
  * changes nothing opens no writer and stays byte-identical. Rows never
  * move between files, so partition, bucket and sort layouts hold.
  *
  * Transaction: the ColeCompact two-phase swap. Replacement files land
  * in a dotted scratch directory (invisible to readers), the manifest
  * commits the intent, then rename-in / delete-old; a crash at any point
  * is resolved by [[ColeCompact.recover]]. Concurrent writers are
  * detected by (length, mtime) snapshot comparison immediately before
  * the swap, under per-file [[ColeClaims]], and rejected loudly —
  * nothing has been renamed at that point, so an aborted statement
  * leaves the table byte-identical.
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
      rowGroupsSpliced: Long, noopFiles: Int)

  /** What a rewrite does to the selected rows of a row group. */
  trait Transform extends Serializable {
    /** Statement name: claims, version records, file names, messages. */
    def op: String
  }

  /** Drop the selected rows. */
  case object DropRows extends Transform { val op = "delete" }

  /** Patch the selected rows in place. */
  trait PatchRows extends Transform {
    val op = "update"
    /** Executor side, once per file. */
    def forFile(meta: FileMeta, partValues: Seq[(String, String)]): RowGroupPatch
  }

  trait RowGroupPatch {
    /** The row group's chunks with the selected rows (`sel`, ascending
      * ordinals) patched, by column index, or null when no selected row
      * changes. The reader's chunks are shared: a patched chunk is a copy.
      */
    def apply(reader: ColeFileReader, rgIdx: Int, sel: Array[Int]): Map[Int, ColumnData]
  }

  /** Driver-side classification of the live files against `preds`. */
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

  def classify(table: String, preds: Array[ColePredicate], partCols: Seq[String],
      conf: Configuration): Plan = {
    val (fs, _) = ColeIO.resolve(table, conf)
    // resolve any interrupted earlier swap before trusting the listing
    ColeIO.listPartitioned(table, conf).map(_._1.getPath.getParent).distinct
      .foreach(ColeCompact.recover(fs, _, table, conf))

    val infos = ColeMetaCache.infos(table, conf)
    // split on the columns EVERY file serves from its directory, not the
    // declared partCols: under partition-spec evolution (ColePartEvolve)
    // a declared partition column may still be DATA in older files —
    // those resolve per file below
    val dirAlways: Set[String] =
      if (infos.isEmpty) partCols.toSet
      else infos.iterator.map(_.partValues.iterator.map(_._1).toSet).reduce(_ & _)
    val (partPreds, dataPreds) = preds.partition(p => dirAlways.contains(p.column))
    // equality/IN on the bucket column(s) pins hash buckets: files in
    // other buckets cannot contain a matching row regardless of stats —
    // per ERA on evolved layouts, each era judged by its own key
    val bucketKeeps: Map[String, Set[String]] = ColeBucket.keepsByEra(
      ColeBucket.readHistory(table, conf), dataPreds.toSeq)
    val Untouched = 0; val Whole = 1; val Partial = 2
    val classified = infos.map { info =>
      val pv = info.partValues.toMap
      val partHit = partPreds.forall(p =>
        pv.get(p.column).exists(ColePredicate.partitionKeeps(p, _)))
      // partition-spec duality (ColePartEvolve): a pred column THIS file
      // serves from its directory decides the whole file by that value —
      // constant-true for survivors, so row matching uses the remaining
      // file-local preds only
      val (dirPs, filePs) = dataPreds.partition(p => pv.contains(p.column))
      val cls =
        if (!partHit) Untouched
        else if (!dirPs.forall(p =>
          ColePredicate.partitionKeeps(p, pv(p.column)))) Untouched
        else if (ColeBucket.pruneFile(pv, bucketKeeps)) Untouched
        else {
          val meta = info.meta
          val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
          // a file written before a predicate column existed stores NULL
          // for it on every row; NULL never satisfies a condition
          if (filePs.exists(p => !nameToIdx.contains(p.column))) Untouched
          else if (filePs.nonEmpty && meta.rowGroups.forall(rg =>
              ColePredicate.skipRowGroup(rg, nameToIdx, filePs))) Untouched
          else if (filePs.isEmpty || meta.rowGroups.forall(rg =>
              ColePredicate.fullyKeepsRowGroup(rg, nameToIdx, filePs)))
            Whole
          else Partial
        }
      (info, cls, filePs)
    }
    Plan(infos,
      classified.collect { case (i, c, _) if c == Whole => i },
      classified.collect { case (i, c, _) if c == Partial => i },
      classified.collect { case (i, c, ps) if c != Untouched => i.path -> ps }.toMap)
  }

  /** One task's outcome: `changed` counts the deleted rows, or the
    * selected rows of the groups a patch altered; 0 = the file stays as
    * it is.
    */
  private final case class FileResult(file: String, kept: Long, matched: Long,
      changed: Long, spliced: Int)

  /** A replacement's name: the statement prefix on the source's base
    * name. Earlier statement prefixes are stripped so names do not grow
    * with every rewrite of the same file; a base name two candidates of
    * one directory share keeps the full source name.
    */
  private def replacementNames(op: String, stamp: String,
      files: Seq[String]): Map[String, String] = {
    val Prefixed = "^(?:(?:delete|update)-[0-9a-f]+-)+(.+)$".r
    def base(f: String): String = new HPath(f).getName match {
      case Prefixed(b) => b
      case n => n
    }
    files.groupBy(f => new HPath(f).getParent.toString).values.flatMap { fs0 =>
      val clash = fs0.groupBy(base).collect { case (b, g) if g.size > 1 => b }.toSet
      fs0.map { f =>
        val b = base(f)
        f -> s"$op-$stamp-${if (clash(b)) new HPath(f).getName else b}"
      }
    }.toMap
  }

  /** Test seam: runs after the rewrite job, before the claims, the race
    * check and the swap — a concurrent writer injected here must be
    * detected.
    */
  private[cole] var raceWindow: () => Unit = () => ()

  /** Runs the rewrite of `plan` and commits it as one statement. */
  def rewrite(spark: SparkSession, table: String, plan: Plan,
      conf: Configuration, transform: Transform): Stats = {
    val op = transform.op
    val (fs, _) = ColeIO.resolve(table, conf)
    val infos = plan.infos
    // a drop needs no task for a file whose every row matches; a patch
    // rewrites it like any other candidate
    val (dropped, rewrites) = transform match {
      case DropRows => (plan.whole, plan.partial)
      case _ => (Seq.empty, plan.whole ++ plan.partial)
    }
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val scratchName = s".$op-$stamp"
    val names = replacementNames(op, stamp, rewrites.map(_.path))
    val scratchDirs = rewrites.map(i => new HPath(i.path).getParent).distinct
      .map(new HPath(_, scratchName))
    def dropScratch(): Unit = scratchDirs.foreach(fs.delete(_, true))

    // ---- distributed rewrite: one task per affected file, zero shuffle
    val hconf = new ColeHadoopConf(conf)
    val results: Map[String, FileResult] =
      if (rewrites.isEmpty) Map.empty
      else {
        val tasks = rewrites.map(i =>
          (i.path, i.partValues, names(i.path), plan.filePreds(i.path)))
        try spark.sparkContext.parallelize(tasks, tasks.size)
          .map { case (f, pv, name, ps) =>
            rewriteFile(f, pv, scratchName, name, ps, transform, hconf) }
          .collect().map(r => r.file -> r).toMap
        catch { case e: Throwable => dropScratch(); throw e }
      }
    raceWindow()
    // a rewrite that kept ZERO rows degenerates to a whole-file drop —
    // never rename an empty replacement into the table. A rewrite that
    // CHANGED zero rows (stats couldn't exclude, exact evaluation did, or
    // every patched value equals the original) degenerates to untouched:
    // its original stays, byte-identical, and no replacement was written.
    val noop = results.filter(_._2.changed == 0L)
    val emptied = results.filter { case (_, r) => r.changed > 0L && r.kept == 0L }
    val replaced = results.filter { case (_, r) => r.changed > 0L && r.kept > 0L }

    // ---- two-phase swap per directory
    val swapFiles = dropped ++ rewrites.filterNot(i => noop.contains(i.path))
    // versioning bookkeeping (no-ops on unversioned tables): one commit
    // record for the whole statement, written after every directory swapped
    val verAdds = scala.collection.mutable.ArrayBuffer.empty[String]
    val verRemoves = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val versioned = ColeVersions.enabled(table, conf)
    // check-then-swap holds per-file storage claims (ColeClaims —
    // cross-process) on EVERY file of the statement until its version
    // record lands: without them two overlapping committers could both
    // pass the (len,mtime) check below before either renames
    val claims = try ColeClaims.acquire(fs, conf, table,
      swapFiles.map(i => ColeVersions.relOf(fs, table, i.path)), op)
    catch { case e: Throwable => dropScratch(); throw e }
    try {
      // concurrent-write race check: every file this statement decided
      // over, in every directory, must still be exactly the bytes the
      // decision read. Abort BEFORE any mutation — the table is untouched
      // on rejection (speculative scratch output is discarded), so a
      // retry re-runs the whole statement, never half of it.
      swapFiles.foreach { info =>
        val ok = try {
          val st = fs.getFileStatus(new HPath(info.path))
          st.getLen == info.len && st.getModificationTime == info.mtime
        } catch { case _: java.io.FileNotFoundException => false }
        if (!ok) dropScratch()
        require(ok,
          s"concurrent write detected on ${info.path} during ${op.toUpperCase}; " +
            "aborted with no changes — retry after the other writer commits")
      }
      swapFiles.groupBy(i => new HPath(i.path).getParent).toSeq.sortBy(_._1.toString)
        .zipWithIndex.foreach { case ((dir, files), dirIdx) =>
          val oldNames = files.map(i => new HPath(i.path).getName)
          val newNames = files.flatMap(i => replaced.get(i.path).map(_ => names(i.path)))
          ColeCompact.writeManifest(fs, dir,
            oldNames.map("old:" + _) ++ newNames.map("new:" + _))
          // record the swap for streaming sources: a cole-file-log that
          // already covers the input files must not re-emit the
          // replacements. Named by the directory's index: layouts nest, so
          // directory names repeat (`_t_days_ts=1/_bucket=0`,
          // `_t_days_ts=2/_bucket=0`)
          ColeCompact.writeCompactionRecord(fs, table, s"$op-$stamp-$dirIdx",
            newNames.map(n => fs.makeQualified(new HPath(dir, n)).toString),
            oldNames.map(n => fs.makeQualified(new HPath(dir, n)).toString))
          val scratch = new HPath(dir, scratchName)
          newNames.foreach { n =>
            require(fs.rename(new HPath(scratch, n), new HPath(dir, n)),
              s"rename failed for $scratch/$n")
            verAdds += ColeVersions.relOf(fs, table, new HPath(dir, n).toString)
          }
          val indexedCols = files.flatMap(i =>
            ColeBloomIndex.indexedColumns(i.path, conf)).distinct
          files.foreach { i =>
            fs.delete(new HPath(ColeBloomIndex.sidecarPath(i.path)), false)
            ColeDv.drop(fs, i.path)
            verRemoves ++= ColeVersions.retireOrDelete(fs, table, i.path, stamp, versioned)
          }
          fs.delete(scratch, true)
          fs.delete(ColeCompact.manifestPath(dir), false)
          if (indexedCols.nonEmpty)
            ColeBloomIndex.build(dir.toString, indexedCols, conf)
        }
      dropScratch() // dirs whose every rewrite was a no-op never swapped
      if (verAdds.nonEmpty || verRemoves.nonEmpty)
        ColeVersions.commitIfEnabled(table, conf, op, verAdds.toSeq, verRemoves.toSeq)
    } finally claims.release()

    // if the statement emptied the table, persist the schema sidecar so
    // the table still resolves (files are the usual source of truth)
    if (dropped.size + emptied.size == infos.size) {
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
      results.valuesIterator.map(_.spliced.toLong).sum,
      noop.size)
  }

  /** Executor-side single-file rewrite into `<dir>/<scratch>/<name>`. */
  private def rewriteFile(file: String, partValues: Seq[(String, String)],
      scratch: String, name: String, preds: Array[ColePredicate],
      transform: Transform, hconf: ColeHadoopConf): FileResult =
    // a candidate vanishing mid-rewrite = a concurrent committer's swap
    // retired it: surface the loud, RETRYABLE conflict (the auto-retry
    // re-plans from a fresh listing), never a bare FileNotFoundException
    try rewriteFileInner(file, partValues, scratch, name, preds, transform, hconf)
    catch {
      case e: java.io.FileNotFoundException => throw new IllegalStateException(
        s"concurrent write detected during ${transform.op.toUpperCase} rewrite " +
          s"(${e.getMessage}): another committer replaced a candidate " +
          "file; aborted with no changes — retry after the other writer " +
          "commits", e)
    }

  private def rewriteFileInner(file: String, partValues: Seq[(String, String)],
      scratch: String, name: String, preds: Array[ColePredicate],
      transform: Transform, hconf: ColeHadoopConf): FileResult = {
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
      val selections: Array[Array[Int]] =
        meta.rowGroups.zipWithIndex.map { case (rg, rgIdx) =>
          if (preds.isEmpty) AllRows
          else if (ColePredicate.skipRowGroup(rg, nameToIdx, preds))
            Array.empty[Int]
          else if (ColePredicate.fullyKeepsRowGroup(rg, nameToIdx, preds))
            AllRows
          else ColePredicate.buildSelection(
            reader, rgIdx, rg.numRows, nameToIdx, preds)
        }.toArray
      val totalRows = meta.rowGroups.map(_.numRows.toLong).sum
      val matched = selections.zip(meta.rowGroups).map { case (sel, rg) =>
        if (sel eq AllRows) rg.numRows.toLong else sel.length.toLong }.sum
      if (matched == 0L) return FileResult(file, totalRows, 0L, 0L, 0)
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
        meta.rowGroups.zipWithIndex.foreach { case (rg, rgIdx) =>
          val sel = selections(rgIdx)
          val all = (sel eq AllRows) || sel.length == rg.numRows
          if (sel != null && sel.isEmpty) unchanged(rgIdx)
          else if (patch == null) {
            if (all) changed += rg.numRows // every row deletes: drop the group
            else {
              val drop = new Array[Boolean](rg.numRows)
              sel.foreach(drop(_) = true)
              val keepIdx = Array.range(0, rg.numRows).filterNot(drop)
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
        // a drop that removed whole groups still rewrites the rest
        if (changed > 0L && writer == null && pendingSplices.nonEmpty) {
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
      FileResult(file, kept, matched, changed, if (changed == 0L) 0 else spliced)
    } finally reader.close()
  }

  /** Original per-chunk encodings, with the writer's nulls rule applied
    * (chunks that carry nulls write Plain + validity bitmap).
    */
  private def chunkEncodings(rg: RowGroupMeta, cols: Seq[ColumnData]): Seq[Enc] =
    rg.chunks.zip(cols).map { case (c, cd) =>
      if (cd.nulls != null && cd.nulls.exists(identity)) Plain
      else c.pages.headOption.map(_.encoding).getOrElse(Plain)
    }
}
