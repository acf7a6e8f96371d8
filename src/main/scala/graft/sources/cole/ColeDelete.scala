package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter

import graft.sources.cole.ColeFormat._

/** Copy-on-write row-level `DELETE WHERE` for COLE tables — the GDPR
  * delete every real warehouse eventually needs.
  *
  * Shape: file-local and embarrassingly parallel. Footer stats classify
  * every file on the driver WITHOUT reading a data byte:
  *
  *   - no row can match (partition value misses, stats exclude the
  *     predicate on every row group, or a predicate column predates the
  *     file under schema evolution) → file UNTOUCHED, byte-identical;
  *   - every row provably matches → whole-file DROP, nothing rewritten;
  *   - otherwise → the file REWRITES to exactly one replacement holding
  *     its non-matching rows.
  *
  * Rewrites fan out as one Spark job (one task per file, no shuffle):
  * each task re-emits the kept rows of its file row-group by row-group,
  * preserving row order — a sorted bucket file stays sorted, page stats
  * stay tight, and bucket routing is untouched because rows never move
  * between files. Each input file maps to at most one output file, so
  * there is no write amplification beyond the files that actually
  * contain matching rows.
  *
  * Transaction: the ColeCompact two-phase swap. Replacement files land
  * in a dotted scratch directory (invisible to readers), the manifest
  * commits the intent, then rename-in / delete-old; a crash at any point
  * is resolved by [[ColeCompact.recover]]. Concurrent writers are
  * detected by (length, mtime) snapshot comparison immediately before
  * the swap and rejected loudly — nothing has been renamed at that
  * point, so an aborted delete leaves the table byte-identical.
  *
  * Deletion semantics are SQL WHERE-true: a row deletes only when the
  * condition evaluates TRUE; NULL comparisons keep the row (every
  * ColePredicate evaluator rejects NULL slots).
  */
object ColeDelete {

  final case class Stats(filesTotal: Int, filesUntouched: Int,
      filesDropped: Int, filesRewritten: Int, rowsDeleted: Long)

  /** Test seam: runs after the rewrite job, before the race check +
    * swap — a concurrent writer injected here must be detected.
    */
  private[cole] var raceWindow: () => Unit = () => ()

  /** Candidate files whose phase-1 selection matched ZERO rows and
    * therefore skipped the speculative rewrite entirely (no writer
    * opened, no replacement bytes written-then-discarded) — the r17-opt
    * steady-state path of an idempotent re-run DELETE. Spec-visible,
    * like [[ColeMetaCache.footerReads]].
    */
  val noopRewriteSkips = new java.util.concurrent.atomic.AtomicLong(0)

  /** Row groups of partial-match rewrites spliced as RAW STORED BYTES
    * (no row of the group matched: pages copy verbatim, offsets rebase —
    * [[ColeFileWriter.writeRawRowGroup]]) instead of decode+re-encode
    * (r18). At 100 TB this is the write-amplification bound of a
    * selective DELETE: survivor groups cost memcpy, not codec work.
    * Spec-visible, like [[noopRewriteSkips]].
    */
  val splicedRowGroups = new java.util.concurrent.atomic.AtomicLong(0)

  def deleteWhere(spark: SparkSession, table: String, filters: Array[Filter],
      partCols: Seq[String], conf: Configuration): Stats = {
    val predOpts = filters.map(f => f -> ColePredicate.fromFilter(f))
    val bad = predOpts.collect { case (f, None) => f }
    require(bad.isEmpty,
      s"unsupported DELETE condition ${bad.mkString(", ")}: COLE deletes " +
        "by conjunctions of comparisons / IN / string predicates on " +
        "single columns (same-column ORs allowed)")
    val preds = predOpts.flatMap(_._2)
    require(preds.nonEmpty,
      "DELETE with no condition: use TRUNCATE TABLE to empty a COLE table")
    val (partPreds, dataPreds) = preds.partition(p => partCols.contains(p.column))

    val (fs, _) = ColeIO.resolve(table, conf)
    // resolve any interrupted earlier swap before trusting the listing
    ColeIO.listPartitioned(table, conf).map(_._1.getPath.getParent).distinct
      .foreach(ColeCompact.recover(fs, _))

    val infos = ColeMetaCache.infos(table, conf)
    // equality/IN on the bucket column(s) pins hash buckets: files in
    // other buckets cannot contain a matching row regardless of stats —
    // per ERA on evolved layouts, each era judged by its own key
    val bucketKeeps: Map[String, Set[String]] = ColeBucket.keepsByEra(
      ColeBucket.readHistory(table, conf), dataPreds.toSeq)
    val Untouched = 0; val Drop = 1; val Rewrite = 2
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
            Drop
          else Rewrite
        }
      (info, cls, filePs)
    }
    val dropped = classified.collect { case (i, c, _) if c == Drop => i }
    val rewrites = classified.collect { case (i, c, _) if c == Rewrite => i }
    val filePredsOf: Map[String, Array[ColePredicate]] =
      classified.collect { case (i, c, ps) if c != Untouched => i.path -> ps }
        .toMap
    if (dropped.isEmpty && rewrites.isEmpty)
      return Stats(infos.size, infos.size, 0, 0, 0L)

    // merge-on-read (vector) mode: no file is rewritten or dropped —
    // each affected file gets (or extends) a deletion-vector sidecar of
    // its matching LIVE row ordinals, and scans subtract them. Deleting
    // 100 rows from a 100 TB table then costs a read of the candidate
    // files and KB-scale sidecar writes, zero data-file IO on the write
    // side; compaction later materializes the vectors.
    if (ColeDv.vectorMode(table, conf))
      return deleteVector(spark, table, dropped ++ rewrites, filePredsOf,
        conf, infos.size)

    val stamp = java.lang.Long.toHexString(System.nanoTime())
    // ---- distributed rewrite: one task per affected file, zero shuffle
    val hconf = new ColeHadoopConf(conf)
    val rewritten: Map[String, (String, Long, Long)] =
      if (rewrites.isEmpty) Map.empty
      else {
        val tasks = rewrites.map(i => (i.path, filePredsOf(i.path)))
        val sc = spark.sparkContext
        sc.parallelize(tasks, tasks.size)
          .map { case (f, ps) => rewriteFile(f, stamp, ps, hconf) }
          .collect().toMap
      }
    raceWindow()
    val rowsFromRewrites = rewritten.valuesIterator.map(_._3).sum
    // a rewrite that kept ZERO rows degenerates to a whole-file drop —
    // never rename an empty replacement into the table. A rewrite that
    // DELETED zero rows (stats couldn't exclude, exact evaluation did)
    // degenerates to untouched: its original stays, byte-identical, and
    // the speculative replacement is discarded.
    val emptied = rewritten.filter { case (_, (_, kept, del)) => kept == 0L && del > 0L }
    val noop = rewritten.filter { case (_, (_, _, del)) => del == 0L }
    val replaced = rewritten.filter { case (_, (_, kept, del)) => kept > 0L && del > 0L }
    val scratchDirs = rewrites.map(i => new HPath(i.path).getParent).distinct
      .map(new HPath(_, s".delete-$stamp"))
    def dropScratch(): Unit = scratchDirs.foreach(fs.delete(_, true))

    // ---- two-phase swap per directory
    val swapFiles = dropped.map(i => (i, None: Option[(String, Long, Long)])) ++
      rewrites.filterNot(i => noop.contains(i.path))
        .map(i => (i, rewritten.get(i.path)))
    val byDir = swapFiles.groupBy { case (i, _) => new HPath(i.path).getParent }
    // versioning bookkeeping (no-ops on unversioned tables): one commit
    // record for the whole DELETE, written after every directory swapped
    val verAdds = scala.collection.mutable.ArrayBuffer.empty[String]
    val verRemoves = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val versioned = ColeVersions.enabled(table, conf)
    byDir.toSeq.sortBy(_._1.toString).foreach { case (dir, files) =>
      // check-then-swap holds per-file storage claims (ColeClaims, r12 —
      // cross-process): without them two overlapping committers could
      // both pass the (len,mtime) check below before either renames
      val claims = ColeClaims.acquire(fs, conf, table,
        files.map { case (i, _) => ColeVersions.relOf(fs, table, i.path) },
        "delete")
      try {
      // concurrent-write race check: every file this delete decided over
      // must still be exactly the bytes the decision read. Abort BEFORE
      // any mutation — the table is untouched on rejection (speculative
      // scratch output is discarded).
      files.foreach { case (info, _) =>
        val ok = try {
          val st = fs.getFileStatus(new HPath(info.path))
          st.getLen == info.len && st.getModificationTime == info.mtime
        } catch { case _: java.io.FileNotFoundException => false }
        if (!ok) dropScratch()
        require(ok,
          s"concurrent write detected on ${info.path} during DELETE; " +
            "aborted with no changes — retry after the other writer commits")
      }
      val oldNames = files.map { case (i, _) => new HPath(i.path).getName }
      val newNames = files.flatMap { case (i, _) =>
        replaced.get(i.path).map(_._1) }
      ColeCompact.writeManifest(fs, dir,
        oldNames.map("old:" + _) ++ newNames.map("new:" + _))
      // record the swap for streaming sources: a cole-file-log that
      // already covers the input files must not re-emit the replacements
      ColeCompact.writeCompactionRecord(fs, table, s"delete-$stamp-${dir.getName}",
        newNames.map(n => fs.makeQualified(new HPath(dir, n)).toString),
        oldNames.map(n => fs.makeQualified(new HPath(dir, n)).toString))
      val scratch = new HPath(dir, s".delete-$stamp")
      newNames.foreach { n =>
        require(fs.rename(new HPath(scratch, n), new HPath(dir, n)),
          s"rename failed for $scratch/$n")
        verAdds += ColeVersions.relOf(fs, table, new HPath(dir, n).toString)
      }
      val indexedCols = files.flatMap { case (i, _) =>
        ColeBloomIndex.indexedColumns(i.path, conf) }.distinct
      files.foreach { case (i, _) =>
        fs.delete(new HPath(ColeBloomIndex.sidecarPath(i.path)), false)
        ColeDv.drop(fs, i.path)
        verRemoves ++= ColeVersions.retireOrDelete(fs, table, i.path, stamp, versioned)
      }
      fs.delete(scratch, true)
      fs.delete(ColeCompact.manifestPath(dir), false)
      if (indexedCols.nonEmpty)
        ColeBloomIndex.build(dir.toString, indexedCols, conf)
      } finally claims.release()
    }
    dropScratch() // dirs whose every rewrite was a no-op never swapped
    if (verAdds.nonEmpty || verRemoves.nonEmpty)
      ColeVersions.commitIfEnabled(table, conf, "delete",
        verAdds.toSeq, verRemoves.toSeq)

    // if the delete emptied the table, persist the schema sidecar so the
    // table still resolves (files are the usual source of truth)
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
      dropped.map(_.meta.totalRows).sum + rowsFromRewrites)
  }

  /** Executor-side single-file rewrite: decode each row group, drop the
    * rows matching the delete conjunction, re-emit the survivors in
    * their original order with the original per-chunk encodings (order
    * is preserved, so a DELTA-friendly sorted chunk stays DELTA-friendly
    * and page stats stay tight). Returns
    * (originalPath → (replacementName, keptRows, deletedRows)).
    */
  private def rewriteFile(file: String, stamp: String,
      preds: Array[ColePredicate], hconf: ColeHadoopConf)
      : (String, (String, Long, Long)) =
    // a candidate vanishing mid-rewrite = a concurrent committer's swap
    // retired it: surface the loud, RETRYABLE conflict (the auto-retry
    // re-plans from a fresh listing), never a bare FileNotFoundException
    try rewriteFileInner(file, stamp, preds, hconf)
    catch {
      case e: java.io.FileNotFoundException => throw new IllegalStateException(
        s"concurrent write detected during DELETE rewrite " +
          s"(${e.getMessage}): another committer replaced a candidate " +
          "file; aborted with no changes — retry after the other writer " +
          "commits", e)
    }

  private def rewriteFileInner(file: String, stamp: String,
      preds: Array[ColePredicate], hconf: ColeHadoopConf)
      : (String, (String, Long, Long)) = {
    val conf = hconf.value
    val reader = new ColeFileReader(file, conf)
    try {
      val meta = reader.meta
      val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
      val src = new HPath(file)
      val newName = s"delete-$stamp-${src.getName}"
      val outPath = new HPath(new HPath(src.getParent, s".delete-$stamp"), newName)
      // ---- phase 1: selection only. Decode just the PREDICATE columns
      // and decide per row group what matches. A file where nothing
      // matches (the steady state of every idempotent re-run) returns
      // here as a no-op — no writer opened, no non-predicate column
      // decoded, no replacement bytes written-then-discarded.
      val AllRows: Array[Int] = null // marker: whole group matches
      val selections: Array[Array[Int]] =
        meta.rowGroups.zipWithIndex.map { case (rg, rgIdx) =>
          if (ColePredicate.skipRowGroup(rg, nameToIdx, preds))
            Array.empty[Int]
          else if (ColePredicate.fullyKeepsRowGroup(rg, nameToIdx, preds))
            AllRows
          else ColePredicate.buildSelection(
            reader, rgIdx, rg.numRows, nameToIdx, preds)
        }.toArray
      val matchTotal = selections.zip(meta.rowGroups).map { case (sel, rg) =>
        if (sel eq AllRows) rg.numRows.toLong else sel.length.toLong }.sum
      if (matchTotal == 0L) {
        noopRewriteSkips.incrementAndGet()
        return (file, (newName, meta.rowGroups.map(_.numRows.toLong).sum, 0L))
      }
      // ---- phase 2: at least one row deletes — rewrite the survivors,
      // reusing the phase-1 selections (predicate columns decode once).
      // Preserve the source's page compression (sizes differ = deflate).
      val wconf = {
        val c = new Configuration(conf)
        c.set(ColeFileWriter.VersionKey, meta.version.toString)
        val compressed = meta.rowGroups.exists(_.chunks.exists(_.pages.exists(
          p => p.compressedSize != p.uncompressedSize)))
        if (compressed) c.set(ColeFileWriter.CompressKey, "deflate")
        c
      }
      val writer = new ColeFileWriter(outPath.toString, meta.columns, wconf)
      var kept = 0L
      var deleted = 0L
      try {
        meta.rowGroups.zipWithIndex.foreach { case (rg, rgIdx) =>
          val matching = selections(rgIdx)
          if (matching eq AllRows) {
            deleted += rg.numRows // every row matches: drop the group
          } else if (matching.isEmpty) {
            // no row matches: splice the group's STORED bytes verbatim —
            // pages, encodings, compression and CRCs stay bit-identical,
            // only the chunk offsets rebase; no column decodes, nothing
            // re-encodes (r18, guide §6/§5 — the partial-match rewrite's
            // survivor groups cost memcpy, not codec work)
            val raw = meta.columns.indices
              .map(reader.readChunkBytes(rgIdx, _)).toIndexedSeq
            writer.writeRawRowGroup(meta, rgIdx, raw)
            splicedRowGroups.incrementAndGet()
            kept += rg.numRows
          } else if (matching.length == rg.numRows) {
            deleted += rg.numRows
          } else {
            val drop = new Array[Boolean](rg.numRows)
            matching.foreach(drop(_) = true)
            val keepIdx = Array.range(0, rg.numRows).filterNot(drop)
            val cols = meta.columns.indices.map(ci =>
              reader.readChunk(rgIdx, ci).gather(keepIdx))
            writer.writeRowGroup(cols, keepIdx.length, chunkEncodings(rg, cols))
            kept += keepIdx.length
            deleted += matching.length
          }
        }
      } finally writer.close()
      if (kept == 0L) {
        // all rows matched after exact evaluation: the replacement is
        // empty — drop it here and report a whole-file drop
        val (ofs, op) = ColeIO.resolve(outPath.toString, conf)
        ofs.delete(op, false)
      }
      (file, (newName, kept, deleted))
    } finally reader.close()
  }

  /** Original per-chunk encodings, with the writer's nulls rule applied
    * (chunks that still carry nulls write Plain + validity bitmap).
    */
  private def chunkEncodings(rg: RowGroupMeta,
      cols: Seq[ColumnData]): Seq[Enc] =
    rg.chunks.zip(cols).map { case (c, cd) =>
      if (cd.nulls != null && cd.nulls.exists(identity)) Plain
      else c.pages.headOption.map(_.encoding).getOrElse(Plain)
    }

  /** Merge-on-read DELETE: one task per candidate file computes the
    * matching LIVE row ordinals (claimed-predicate selection minus the
    * existing vector), race-checks the data file against the
    * classification snapshot, and writes the merged sidecar ON THE
    * EXECUTOR (temp+rename; per-file sidecars are task-exclusive, and
    * ordinals never travel to the driver — a billion-row delete moves
    * counts, not vectors). Data files stay byte-identical.
    */
  private def deleteVector(spark: SparkSession, table: String,
      files: Seq[ColeMetaCache.FileInfo],
      filePredsOf: Map[String, Array[ColePredicate]],
      conf: Configuration, totalFiles: Int): Stats = {
    val hconf = new ColeHadoopConf(conf)
    val tasks = files.map(i => (i.path, i.len, i.mtime, filePredsOf(i.path)))
    val sc = spark.sparkContext
    // commit stamp fixed BEFORE the job: each task derives its pin path
    // deterministically and writes the pin ITSELF from the ordinal set
    // it computed — the pin is exactly this commit's view even when a
    // concurrent vector DML from another process extends the live
    // sidecar between the task's write and the driver's record
    val versioned = ColeVersions.enabled(table, conf)
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    // the whole classify→extend-sidecars→record sequence holds per-file
    // storage claims (ColeClaims — cross-PROCESS, unlike r11's JVM table
    // lock): two vector DELETEs touching a shared file would otherwise
    // read-merge-write the same sidecar concurrently and lose one side's
    // ordinals; claims on disjoint file sets never contend
    val (lockFs, _) = ColeIO.resolve(table, conf)
    val claims = ColeClaims.acquire(lockFs, conf, table,
      files.map(i => ColeVersions.relOf(lockFs, table, i.path)), "delete-vector")
    try {
    val perFile: Array[(String, Long)] =
      sc.parallelize(tasks, math.max(1, tasks.size)).map { case (f, len, mtime, dataPreds) =>
        val c = hconf.value
        val (ffs, fp) = ColeIO.resolve(f, c)
        // race check: the file must still be the bytes classification read
        val st = ffs.getFileStatus(fp)
        require(st.getLen == len && st.getModificationTime == mtime,
          s"concurrent write detected on $f during DELETE (vector mode); " +
            "aborted with no changes — retry after the other writer commits")
        val existing = ColeDv.read(ffs, f, len, mtime).getOrElse(Array.empty[Int])
        val reader = new ColeFileReader(f, c)
        val added = try {
          val meta = reader.meta
          require(meta.totalRows <= Int.MaxValue,
            s"$f exceeds ${Int.MaxValue} rows; deletion-vector ordinals " +
              "are int32 — split the file (compact with a smaller target)")
          val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
          val exLocal = ColeDv.localize(meta, existing)
          val out = scala.collection.mutable.ArrayBuffer.empty[Int]
          var base = 0L
          meta.rowGroups.zipWithIndex.foreach { case (rg, rgIdx) =>
            if (!(dataPreds.nonEmpty &&
                ColePredicate.skipRowGroup(rg, nameToIdx, dataPreds))) {
              // matching rows (empty preds = partition-only condition:
              // every row matches) minus the already-deleted
              val matched =
                if (dataPreds.isEmpty) Array.tabulate(rg.numRows)(identity)
                else ColePredicate.buildSelection(reader, rgIdx, rg.numRows,
                  nameToIdx, dataPreds)
              val fresh = ColeDv.applyTo(matched, exLocal(rgIdx), rg.numRows)
              if (fresh != null) fresh.foreach(r => out += (base + r).toInt)
            }
            base += rg.numRows
          }
          out.toArray
        } finally reader.close()
        if (added.nonEmpty) {
          val merged = ColeDv.merge(existing, added)
          ColeDv.write(ffs, f, len, mtime, merged)
          // versioned table: the task writes its own pin from the
          // ordinal set it just computed (ordinals never transit the
          // driver; the pin cannot absorb a concurrent committer's rows)
          if (versioned) {
            val rel = ColeVersions.relOf(ffs, table, f)
            val pin = ColeVersions.dvPath(table,
              ColeVersions.dvRelOf(stamp, rel))
            ffs.mkdirs(pin.getParent)
            ColeDv.writeAt(ffs, pin, len, mtime, merged)
          }
        }
        (f, added.length.toLong)
      }.collect()
    val touched = perFile.count(_._2 > 0)
    // versioned table: ONE record carrying the dv entries the tasks
    // pinned — time travel and the row-level change feed resolve this
    // DELETE from the pins (per-affected-FILE driver work, names only).
    // CRASH WINDOW (same ordering note as the delta write's step 2/3):
    // the live sidecars became visible on the executors ABOVE, before
    // this record — a crash in between leaves the delete applied to the
    // live table but absent from the log, so time travel to the head
    // and the change feed do not observe it until a later commit; the
    // pins are log-internal and unreferenced until the record lands —
    // a crash orphans KB-scale files that are never read, not state.
    if (touched > 0 && versioned) {
      val (tfs, _) = ColeIO.resolve(table, conf)
      val dvs = perFile.collect { case (f, n) if n > 0 =>
        val rel = ColeVersions.relOf(tfs, table, f)
        rel -> ColeVersions.dvRelOf(stamp, rel)
      }.toSeq
      ColeVersions.commitIfEnabled(table, conf, "delete", Seq.empty,
        Seq.empty, dvs)
    }
    Stats(totalFiles, totalFiles - touched, 0, 0, perFile.map(_._2).sum)
    } finally claims.release()
  }
}
