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
  * Crash safety — the [[ColeSwap]], with the manifest at the TABLE ROOT
  * because outputs land across directories: scratch write (dotted,
  * invisible) → row-count verify from footers → manifest (old + new,
  * table-relative) → compaction record (tailing streams skip the
  * rewritten rows) → rename outputs in → delete/retire olds → drop
  * manifest. A crash at any point resolves at the next rebucket /
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
    // resolve a prior interrupted swap before trusting the listing
    ColeSwap.recoverTable(fs, table, conf,
      ColeIO.listPartitioned(table, conf).map(_._1.getPath.getParent).distinct)
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
    val removed = old.map(i => (i.path, i.len, i.mtime))
    val claimed = ColeSwap.claim(fs, conf, table, "rebucket", old.map(_.path), Seq(root))
    try {
      // drifted inputs: the next run picks them up
      if (ColeSwap.drifted(fs, removed).isDefined) return Stats(0, kept, 0, 0L)
      afterClaimsHook.get().run()
      val stamp = ColeSwap.newStamp()
      val scratch = new HPath(root, ColeSwap.scratchName("rebucket", stamp))
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
      // final names carry the stamp so a later rebucket can never mint a
      // colliding name; the directory is the scratch-relative one
      val scratchQ = fs.makeQualified(scratch).toString
      val finals = outs.map { p =>
        val rel = fs.makeQualified(p.getParent).toString.stripPrefix(scratchQ).stripPrefix("/")
        new HPath(if (rel.isEmpty) root else new HPath(root, rel), s"rebucket-$stamp-${p.getName}")
      }
      // belt under the claim heartbeat (same discipline as ColeCompact):
      // the rewrite window is data-proportional — re-stat the inputs
      // IMMEDIATELY before the swap intent commits and abort on drift,
      // so even a wrongly broken claim can never let the swap resurrect
      // a concurrent DML's rows
      if (ColeSwap.drifted(fs, removed).isDefined) {
        fs.delete(scratch, true)
        return Stats(0, kept, 0, 0L)
      }
      finals.map(_.getParent).distinct.foreach(fs.mkdirs)
      // one manifest at the TABLE ROOT: outputs land across directories
      ColeSwap.commit(fs, table, conf, "rebucket", stamp, claimed,
        Seq(ColeSwap.Group(root, old.map(_.path),
          outs.map(_.toString).zip(finals.map(_.toString)))))(Nil)
      Stats(old.size, kept, outs.size, newRows)
    } finally claimed.release()
  }
}
