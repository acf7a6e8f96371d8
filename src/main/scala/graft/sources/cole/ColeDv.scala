package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Deletion vectors — merge-on-read row-level DELETE (opt-in,
  * `CALL cole.system.delete_mode('ns.t','vector')`).
  *
  * Copy-on-write DELETE pays a full rewrite of every file containing a
  * match: deleting 100 rows from a 100 TB table costs a table-scale IO
  * pass. In vector mode the DELETE writes one tiny sidecar per affected
  * file — `<file>.col.dv`: the sorted ROW ORDINALS (file-wide positions)
  * of deleted rows — and every scan subtracts them from its selection.
  * The data file stays byte-identical; compaction (or any copy-on-write
  * rewrite of the file) materializes the deletes and clears the sidecar.
  *
  * Sidecar format: `CDV1` magic, the (len, mtime) identity of the data
  * file it describes, a count, then zigzag-delta varints of the sorted
  * ordinals. Writes are temp+rename (readers never see a torn vector);
  * repeated DELETEs union into the existing vector. A sidecar whose
  * recorded identity mismatches the live data file fails LOUDLY — an
  * ignored stale vector would resurrect deleted rows.
  *
  * Soundness boundaries (enforced, spec-pinned):
  *   - footer stats/counts describe the PHYSICAL file, so with a vector
  *     present the scan keeps only OVER-approximating uses (stat skip,
  *     bucket/bloom pruning) and declines the count-exact ones:
  *     aggregate pushdown, LIMIT row-group truncation, TopN threshold
  *     pruning, CBO column stats;
  *   - versioning COMPOSES (r10): every vector commit pins an immutable
  *     sidecar copy under `_cole_versions/dv/<stamp>/` and records it
  *     (`dv:` lines), so time travel resolves each file's vector AS OF
  *     the version, rollback restores vector state, and the change feed
  *     serves vector DELETEs from the pinned ordinals delta-exactly;
  *   - switching back to copy mode requires no live vectors (compact
  *     first) — the copy-path rewrite evaluates footers it would
  *     otherwise have to merge with vectors;
  *   - the vector fast path serves CONVERTIBLE conditions (the same
  *     conjunction surface as the metadata DELETE); non-convertible
  *     DELETEs route to the group-based copy-on-write rewrite, which
  *     applies and clears the vectors of the files it replaces.
  */
object ColeDv {

  val ModeFile = "_deletemode"
  private val Magic = Array[Byte]('C', 'D', 'V', '1')

  def sidecarPath(dataFile: String): String = dataFile + ".dv"

  // ---- mode marker -------------------------------------------------------

  def vectorMode(table: String, conf: Configuration): Boolean = {
    val (fs, _) = ColeIO.resolve(table, conf)
    fs.exists(new HPath(table, ModeFile))
  }

  /** Scan-side mode resolution: a PARTITION (or bucket) subdirectory of
    * a vectored table can be loaded directly — compaction does exactly
    * that per directory — and must still apply the vectors. The marker
    * lives at the TABLE root, so walk up through `key=value` / `_bucket=`
    * segments (the only shapes a COLE layout nests) until a non-layout
    * segment bounds the search. Missing this walk would RESURRECT
    * deleted rows on any subdirectory read.
    */
  def vectorModeFor(path: String, conf: Configuration): Boolean = {
    val (fs, _) = ColeIO.resolve(path, conf)
    var p = new HPath(path)
    if (fs.exists(new HPath(p, ModeFile))) return true
    while (p.getName.contains("=") && p.getParent != null) {
      p = p.getParent
      if (fs.exists(new HPath(p, ModeFile))) return true
    }
    false
  }

  def setMode(table: String, conf: Configuration, mode: String): Unit = {
    val (fs, root) = ColeIO.resolve(table, conf)
    require(fs.exists(root), s"no table at $table")
    val p = new HPath(table, ModeFile)
    mode match {
      case "vector" =>
        // a zero-copy clone must NOT enter vector mode: its foreign files
        // resolve in the SOURCE's tree, so vector-mode scans would pick
        // up .dv sidecars the source writes AFTER the clone — silently
        // dropping rows from the pinned snapshot (ADVICE r13). Localize
        // first; the guard matches compact/rebucket.
        ColeClone.requireLocal(table, conf, "delete_mode('vector')")
        // versioned tables compose (r10): every vector commit pins an
        // immutable sidecar copy under the log, so time travel resolves
        // vectors AS OF the version — no exclusion needed
        val out = fs.create(p, true)
        try out.write("vector\n".getBytes) finally out.close()
      case "copy" =>
        val withDv = ColeIO.listPartitioned(table, conf)
          .filter { case (st, _) =>
            fs.exists(new HPath(sidecarPath(st.getPath.toString))) }
        require(withDv.isEmpty,
          s"${withDv.size} file(s) still carry deletion vectors; run " +
            "CALL <catalog>.system.compact to materialize them first")
        fs.delete(p, false)
      case other => throw new IllegalArgumentException(
        s"delete_mode is 'vector' or 'copy', got '$other'")
    }
  }

  // ---- sidecar codec -----------------------------------------------------

  /** Write (temp+rename) the vector for `dataFile`, pinned to its
    * current (len, mtime). `ordinals` must be sorted distinct file-wide
    * row positions.
    */
  def write(fs: FileSystem, dataFile: String, len: Long, mtime: Long,
      ordinals: Array[Int]): Unit =
    writeAt(fs, new HPath(sidecarPath(dataFile)), len, mtime, ordinals)

  /** Write a vector in the sidecar format at an ARBITRARY path — how a
    * commit writes its PINNED copy under the version log from the exact
    * ordinal set it computed, instead of re-reading the live (mutable)
    * sidecar whose content a concurrent vector DML from another process
    * could have extended in between (misattributing foreign deletes to
    * this commit in the change feed).
    */
  def writeAt(fs: FileSystem, p: HPath, len: Long, mtime: Long,
      ordinals: Array[Int]): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Magic)
    val buf = java.nio.ByteBuffer.allocate(20)
    buf.putLong(len).putLong(mtime).putInt(ordinals.length)
    bos.write(buf.array())
    var prev = 0L
    ordinals.foreach { o =>
      writeUvarint(bos, o.toLong - prev)
      prev = o.toLong
    }
    val tmp = new HPath(p.getParent, "." + p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bos.toByteArray) finally out.close()
    // POSIX rename(2) overwrites atomically — a concurrent reader sees
    // the old vector or the new one, never NO vector (which would
    // transiently RESURRECT rows deleted by earlier commits). Stores
    // whose rename refuses an existing destination (HDFS) fall back to
    // delete+rename: the no-vector window there is bounded by two
    // metadata ops and covered by the engine's single-writer discipline.
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"deletion-vector rename failed: $p")
    }
  }

  /** The deletion vector for `dataFile` (None = no sidecar). The data
    * file's live (len, mtime) must match the recorded identity — a
    * mismatch is corruption (a rewrite that failed to drop the sidecar)
    * and fails loudly rather than resurrect or over-delete rows.
    */
  def read(fs: FileSystem, dataFile: String, len: Long,
      mtime: Long): Option[Array[Int]] =
    readWithId(fs, dataFile, len, mtime).map(_._2)

  /** [[read]], with the sidecar's (len, mtime) as statted BEFORE its
    * ordinals were read: a commit landing in between leaves the identity
    * older than the live sidecar, so a drift check against it rejects.
    */
  def readWithId(fs: FileSystem, dataFile: String, len: Long,
      mtime: Long): Option[((Long, Long), Array[Int])] = {
    val p = new HPath(sidecarPath(dataFile))
    val key = fs.makeQualified(p).toString
    val st = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None =>
        cache.remove(key)
        None
      case Some(status) =>
        cache.get(key) match {
          case Some((m1, l1, dLen, dMtime, v))
              if m1 == status.getModificationTime && l1 == status.getLen =>
            checkIdentity(dataFile, dLen, dMtime, len, mtime)
            Some(((status.getLen, status.getModificationTime), v))
          case _ =>
            val (dLen, dMtime, out) = parsePinned(fs, p)
            checkIdentity(dataFile, dLen, dMtime, len, mtime)
            cache.put(key,
              (status.getModificationTime, status.getLen, dLen, dMtime, out))
            Some(((status.getLen, status.getModificationTime), out))
        }
    }
  }

  /** Parse any sidecar file (live or a versioning PIN copy): the
    * recorded data-file identity plus the ordinals. Callers decide what
    * to verify the identity against (a pin verifies the snapshot's
    * resolved physical file; rollback re-pins to a fresh incarnation).
    */
  def parsePinned(fs: FileSystem, p: HPath): (Long, Long, Array[Int]) = {
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    require(bytes.length >= 24 &&
      java.util.Arrays.equals(bytes.take(4), Magic),
      s"unreadable deletion vector at $p")
    val bb = java.nio.ByteBuffer.wrap(bytes, 4, 20)
    val (dLen, dMtime, n) = (bb.getLong, bb.getLong, bb.getInt)
    val out = new Array[Int](n)
    var pos = 24
    var prev = 0L
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xFF; pos += 1
        v |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      prev += v
      out(i) = prev.toInt
      i += 1
    }
    (dLen, dMtime, out)
  }

  private def checkIdentity(dataFile: String, recLen: Long, recMtime: Long,
      len: Long, mtime: Long): Unit =
    require(recLen == len && recMtime == mtime,
      s"deletion vector for $dataFile describes a different incarnation " +
        s"(recorded len=$recLen mtime=$recMtime, live len=$len " +
        s"mtime=$mtime): a rewrite failed to drop the sidecar — remove " +
        s"${sidecarPath(dataFile)} only if you can prove which rows it " +
        "covered, otherwise restore the matching data file")

  private def writeUvarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  // (sidecar mtime, len, recorded data len, recorded data mtime, ordinals)
  private val cache =
    new LruCache[String, (Long, Long, Long, Long, Array[Int])](16384)

  /** Delete the sidecar (file-removal paths call this beside the bloom
    * sidecar deletion).
    */
  def drop(fs: FileSystem, dataFile: String): Unit =
    fs.delete(new HPath(sidecarPath(dataFile)), false)

  /** Union of two sorted distinct ordinal arrays. */
  def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length + b.length)
    var i = 0
    var j = 0
    var k = 0
    while (i < a.length && j < b.length) {
      val av = a(i)
      val bv = b(j)
      val v = if (av <= bv) { i += 1; if (av == bv) j += 1; av }
        else { j += 1; bv }
      out(k) = v; k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    java.util.Arrays.copyOf(out, k)
  }

  /** Effective row selection of one row group: the claimed-filter
    * selection (null = every row) minus this group's deleted ordinals
    * (both sorted). Returns null only when nothing is deleted and no
    * filter selected — the readers' untouched fast path.
    */
  def applyTo(sel: Array[Int], deleted: Array[Int], nRows: Int): Array[Int] = {
    if (deleted == null || deleted.isEmpty) return sel
    if (sel == null) {
      val out = new Array[Int](nRows - deleted.length)
      var k = 0
      var di = 0
      var r = 0
      while (r < nRows) {
        if (di < deleted.length && deleted(di) == r) di += 1
        else { out(k) = r; k += 1 }
        r += 1
      }
      out
    } else {
      val out = new Array[Int](sel.length)
      var k = 0
      var di = 0
      var i = 0
      while (i < sel.length) {
        val r = sel(i)
        while (di < deleted.length && deleted(di) < r) di += 1
        if (!(di < deleted.length && deleted(di) == r)) { out(k) = r; k += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(out, k)
    }
  }

  /** Split file-wide ordinals into per-row-group LOCAL ordinal arrays
    * (null where a row group has none), using the row-group sizes from
    * the footer.
    */
  def localize(meta: ColeFormat.FileMeta,
      ordinals: Array[Int]): Array[Array[Int]] = {
    val out = new Array[Array[Int]](meta.rowGroups.length)
    var base = 0L
    var oi = 0
    var rg = 0
    while (rg < meta.rowGroups.length) {
      val n = meta.rowGroups(rg).numRows
      val hi = base + n
      val start = oi
      while (oi < ordinals.length && ordinals(oi) < hi) oi += 1
      if (oi > start) {
        val local = new Array[Int](oi - start)
        var i = start
        while (i < oi) { local(i - start) = (ordinals(i) - base).toInt; i += 1 }
        out(rg) = local
      }
      base = hi
      rg += 1
    }
    require(oi == ordinals.length,
      s"deletion vector carries ${ordinals.length - oi} ordinal(s) beyond " +
        s"the file's $base rows — corrupt or foreign sidecar")
    out
  }
}
