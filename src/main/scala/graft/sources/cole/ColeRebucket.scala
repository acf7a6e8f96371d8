package graft.sources.cole

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Rewrite a bucket-evolved table's OLD eras into the active layout
  * (r13) — the maintenance pass that completes `evolve_bucket`.
  *
  * Evolution itself is zero-rewrite: old files stay under their era's
  * `_bucket<e>=` directories and every read prunes each era by its own
  * spec. What a mixed-era table CANNOT do is storage-partition-join —
  * two eras are not co-bucketed, so the scan withdraws its SPJ claim.
  * `rebucket` reads exactly the old eras' files and rewrites their rows
  * through the normal layout-aware writer (which routes by the active
  * era: bucket hash, synthetic-key derivation, temporal unit
  * directories, sorted bucket files), then swaps — after which every
  * file carries the active era's key and the SPJ claim returns, also
  * automatically. Cost is proportional to the OLD eras' bytes, never
  * the table (a 100 TB table that evolved yesterday rewrites only
  * yesterday's history, and appends since route by the new spec
  * already).
  *
  * Layout scope: bucket layouts, optionally temporal-composed. Hive
  * identity partitioning cannot coexist with buckets (rejected at write
  * time), and every layout key here re-derives from STORED columns —
  * so reading the old leaf directories loses no information. Files
  * still carrying merge-on-read deletion vectors are rejected loudly
  * (run compact first to materialize them; a leaf-dir read would
  * otherwise resurrect their deleted rows).
  *
  * Crash safety — the compaction swap discipline, with the manifest at
  * the TABLE ROOT because outputs land across directories: scratch
  * write (dotted, invisible) → row-count verify from footers → manifest
  * (old + new, table-relative) → compaction record (tailing streams
  * skip the rewritten rows) → rename outputs in → delete/retire olds →
  * drop manifest. A crash at any point resolves at the next rebucket /
  * recover(root): forward when every output landed, backward otherwise.
  * The whole read→swap window holds per-file claims on the inputs
  * (heartbeated), so concurrent DML parks and never interleaves.
  */
object ColeRebucket {

  /** Test seam: runs with the input claims HELD, after the drift check
    * and before the rewrite — interleaving specs launch concurrent DML
    * here to pin the park→conflict→auto-retry composition. No-op in
    * production.
    */
  val afterClaimsHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](() => ())

  final case class Stats(filesRewritten: Int, filesKept: Int,
      filesOut: Int, rows: Long)

  def rebucket(spark: SparkSession, table: String,
      rowGroupSize: Int = 65536): Stats = {
    ColeClone.requireLocal(table, ColeIO.driverConf(), "rebucket")
    val conf = ColeIO.driverConf()
    val (fs, root) = ColeIO.resolve(table, conf)
    val history = ColeBucket.readHistory(table, conf)
    require(history.nonEmpty, s"$table has no bucket layout to rebucket")
    val activeKey = history.last.dirKey
    // resolve a prior interrupted rebucket before trusting the listing
    ColeCompact.recover(fs, root, table, conf)
    val infos = ColeMetaCache.infos(table, conf)
    val old = infos.filterNot(_.partValues.toMap.contains(activeKey))
    val kept = infos.size - old.size
    if (old.isEmpty) return Stats(0, kept, 0, 0L)
    old.foreach { i =>
      require(!fs.exists(new HPath(ColeDv.sidecarPath(i.path))),
        s"${i.path} carries a deletion vector: run CALL " +
          "<catalog>.system.compact first to materialize vectors, then " +
          "rebucket")
    }
    val claims = ColeClaims.acquire(fs, conf, table,
      ColeCompact.manifestClaim(fs, table, root) +:
        old.map(i => ColeVersions.relOf(fs, table, i.path)), "rebucket")
    try {
      def drifted = old.exists { i =>
        try {
          val st = fs.getFileStatus(new HPath(i.path))
          st.getLen != i.len || st.getModificationTime != i.mtime
        } catch { case _: java.io.FileNotFoundException => true }
      }
      if (drifted) return Stats(0, kept, 0, 0L) // next run picks it up
      afterClaimsHook.get().run()
      val stamp = java.lang.Long.toHexString(System.nanoTime())
      val scratch = new HPath(root, s".rebucket-$stamp")
      fs.mkdirs(scratch)
      // the scratch directory IS a cole table with the evolved layout:
      // copying the sidecars makes the ordinary writer route, derive,
      // and sort exactly like an append to the real table
      Seq(ColeBucket.SpecFile, ColeTemporal.SpecFile).foreach { f =>
        val src = new HPath(root, f)
        if (fs.exists(src))
          org.apache.hadoop.fs.FileUtil.copy(fs, src,
            fs, new HPath(scratch, f), false, true, fs.getConf)
      }
      // old eras' leaf directories are era-exclusive (era is part of the
      // directory key), so per-directory reads cover exactly the old
      // rows; schemas may differ per era under column evolution — union
      // by name, missing columns null (the same semantics a whole-table
      // read serves). Leaf reads bypass the TABLE-ROOT rename/drop
      // sidecar (it lives beside the root, not the leaf), so apply it
      // here: RENAMED columns surface under their stored names in
      // pre-rename files — unify to the current name or the union
      // null-splits the column; DROPPED columns must not resurrect.
      val renames = ColeCatalog.renames(table, conf) // current -> stored
      val dropped = ColeCatalog.droppedColumns(table, conf).toSet
      def normalize(df0: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        // RENAMES FIRST, drops second — the read path's order
        // (applyRenames then the dropped filter): dropped names are the
        // CURRENT names at drop time, so a renamed-then-dropped column
        // must reach the drop filter under its current name, or the
        // rewrite would resurrect its stored values from pre-rename eras
        var df = df0
        renames.foreach { case (cur, stored) =>
          if (df.columns.contains(stored) && !df.columns.contains(cur))
            df = df.withColumnRenamed(stored, cur)
        }
        dropped.foreach(c => if (df.columns.contains(c)) df = df.drop(c))
        df
      }
      val dirs = old.map(i => new HPath(i.path).getParent.toString).distinct
      // branch="" opts out of the WAP read route (rebucket rewrites MAIN)
      val df = dirs.map(d => normalize(spark.read.format("cole")
        .option("branch", "").load(d)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val srcVersion = old.map(_.meta.version).max
      df.write.format("cole").mode("append")
        .option("rowGroupSize", rowGroupSize.toString)
        .option("formatVersion", srcVersion.toString)
        .save(scratch.toString)
      val outs = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[HPath]
        val it = fs.listFiles(scratch, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".col")) buf += st.getPath
        }
        buf.toSeq.sortBy(_.toString)
      }
      // count verify from footers BEFORE anything becomes visible: a
      // row lost or duplicated by the rewrite aborts with the table
      // untouched (scratch dropped)
      val oldRows = old.map(_.meta.totalRows).sum
      val newRows = outs.map { p =>
        val r = new ColeFileReader(p.toString, conf)
        try r.meta.totalRows finally r.close()
      }.sum
      if (newRows != oldRows) {
        fs.delete(scratch, true)
        throw new IllegalStateException(
          s"rebucket of $table would change the row count " +
            s"($oldRows -> $newRows); aborted with the table untouched")
      }
      val scratchQ = fs.makeQualified(scratch).toString
      def relUnderScratch(p: HPath): String = {
        val q = fs.makeQualified(p).toString
        require(q.startsWith(scratchQ + "/"), s"$p not under $scratch")
        q.substring(scratchQ.length + 1)
      }
      // final names carry the stamp so a later rebucket can never mint a
      // colliding name; target relative path = scratch-relative path
      // with the file name prefixed
      val finalRels = outs.map { p =>
        val rel = relUnderScratch(p)
        val slash = rel.lastIndexOf('/')
        if (slash < 0) s"rebucket-$stamp-$rel"
        else rel.substring(0, slash + 1) + s"rebucket-$stamp-" +
          rel.substring(slash + 1)
      }
      // belt under the claim heartbeat (same discipline as ColeCompact):
      // the rewrite window is data-proportional — re-stat the inputs
      // IMMEDIATELY before the swap intent commits and abort on drift,
      // so even a wrongly broken claim can never let the swap resurrect
      // a concurrent DML's rows
      if (drifted) {
        fs.delete(scratch, true)
        return Stats(0, kept, 0, 0L)
      }
      val oldRels = old.map(i => ColeVersions.relOf(fs, table, i.path))
      // swap intent at the TABLE ROOT (outputs span directories; the
      // relative paths resolve under it), resolved by recover(root)
      ColeCompact.writeManifest(fs, root,
        oldRels.map("old:" + _) ++ finalRels.map("new:" + _))
      ColeCompact.writeCompactionRecord(fs, table, s"rebucket-$stamp",
        finalRels.map(r => fs.makeQualified(new HPath(root, r)).toString),
        old.map(i => fs.makeQualified(new HPath(i.path)).toString))
      outs.zip(finalRels).foreach { case (src, rel) =>
        val dst = new HPath(root, rel)
        fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"rebucket rename failed: $src")
      }
      val indexedCols = old.flatMap(i =>
        ColeBloomIndex.indexedColumns(i.path, conf)).distinct
      val versioned = ColeVersions.enabled(table, conf)
      val verRemoves = old.flatMap { i =>
        fs.delete(new HPath(ColeBloomIndex.sidecarPath(i.path)), false)
        ColeVersions.retireOrDelete(fs, table, i.path, stamp, versioned)
      }
      fs.delete(scratch, true)
      fs.delete(ColeCompact.manifestPath(root), false)
      ColeVersions.commitIfEnabled(table, conf, "rebucket",
        finalRels, verRemoves)
      if (indexedCols.nonEmpty)
        ColeBloomIndex.build(table, indexedCols, conf)
      Stats(old.size, kept, outs.size, newRows)
    } finally claims.release()
  }
}
