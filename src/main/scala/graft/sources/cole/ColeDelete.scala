package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter

/** Copy-on-write row-level `DELETE WHERE` for COLE tables — the GDPR
  * delete every real warehouse eventually needs. Copy-on-write tables
  * run on the [[ColeRewrite]] engine with its drop transform: footer
  * stats classify every file on the driver, files whose every row
  * matches drop whole, the rest rewrite one task per file, and the
  * two-phase swap commits. Merge-on-read (vector) tables extend
  * deletion-vector sidecars instead and rewrite nothing.
  */
object ColeDelete {

  final case class Stats(filesTotal: Int, filesUntouched: Int,
      filesDropped: Int, filesRewritten: Int, rowsDeleted: Long)

  /** Candidate files whose phase-1 selection matched ZERO rows and
    * therefore skipped the speculative rewrite entirely (no writer
    * opened, no replacement bytes written-then-discarded) — the
    * steady-state path of an idempotent re-run DELETE. Spec-visible,
    * like [[ColeMetaCache.footerReads]].
    */
  val noopRewriteSkips = new java.util.concurrent.atomic.AtomicLong(0)

  /** Row groups of partial-match rewrites spliced as RAW STORED BYTES
    * (no row of the group matched: pages copy verbatim, offsets rebase —
    * [[ColeFileWriter.writeRawRowGroup]]) instead of decode+re-encode.
    * At 100 TB this is the write-amplification bound of a selective
    * DELETE: survivor groups cost memcpy, not codec work. Spec-visible,
    * like [[noopRewriteSkips]].
    */
  val splicedRowGroups = new java.util.concurrent.atomic.AtomicLong(0)

  def deleteWhere(spark: SparkSession, table: String, filters: Array[Filter],
      conf: Configuration): Stats = {
    val predOpts = filters.map(f => f -> ColePredicate.fromFilter(f))
    val bad = predOpts.collect { case (f, None) => f }
    require(bad.isEmpty,
      s"unsupported DELETE condition ${bad.mkString(", ")}: COLE deletes " +
        "by conjunctions of comparisons / IN / string predicates on " +
        "single columns (same-column ORs allowed)")
    val preds = predOpts.flatMap(_._2)
    require(preds.nonEmpty,
      "DELETE with no condition: use TRUNCATE TABLE to empty a COLE table")
    val plan = ColeRewrite.classify(table, preds, conf)
    if (plan.isEmpty) return Stats(plan.infos.size, plan.infos.size, 0, 0, 0L)

    // merge-on-read (vector) mode: no file is rewritten or dropped —
    // each affected file gets (or extends) a deletion-vector sidecar of
    // its matching LIVE row ordinals, and scans subtract them. Deleting
    // 100 rows from a 100 TB table then costs a read of the candidate
    // files and KB-scale sidecar writes, zero data-file IO on the write
    // side; compaction later materializes the vectors.
    if (ColeDv.vectorMode(table, conf))
      return deleteVector(spark, table, plan.whole ++ plan.partial,
        plan.filePreds, conf, plan.infos.size)

    val st = ColeRewrite.rewrite(spark, table, plan, conf,
      ColeRewrite.DropRows)
    noopRewriteSkips.addAndGet(st.noopFiles)
    splicedRowGroups.addAndGet(st.rowGroupsSpliced)
    Stats(st.filesTotal, st.filesUntouched, st.filesDropped,
      st.filesRewritten, st.rowsMatched)
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
