package graft.sources.cole

import java.io.BufferedOutputStream

import org.apache.hadoop.conf.Configuration

import graft.sources.cole.ColeCodec._
import graft.sources.cole.ColeFormat._

/** Decoded column chunk: exactly one of the value arrays is non-null.
  * All value arrays are full-length (one slot per row); when `nulls` is
  * non-null, rows flagged true are NULL and their value slot is a
  * placeholder (v2 files only — v1 chunks always decode with nulls=null).
  * TTimestamp chunks decode into `longs` (micros).
  */
final case class ColumnData(ints: Array[Int], longs: Array[Long],
    strings: Array[Array[Byte]], doubles: Array[Double] = null,
    nulls: Array[Boolean] = null, vecs: Array[Array[Float]] = null,
    /** TDecimalWide lane: interleaved [hi,lo] i64 pairs, length 2×rows. */
    wides: Array[Long] = null) {

  /** The chunk restricted to positions `rows`, in that order: one
    * primitive loop per lane (wides in [hi,lo] pairs), null flags too.
    * Each lane loops in a method of its own: one method holding every
    * lane's loop ran each in the interpreter or on-stack-replaced code,
    * about 15× slower, because a rewrite calls it only a few times per
    * row group.
    */
  def gather(rows: Array[Int]): ColumnData = {
    import ColumnData._
    ColumnData(
      if (ints == null) null else gatherInts(ints, rows),
      if (longs == null) null else gatherLongs(longs, rows),
      if (strings == null) null else gatherRefs(strings, rows),
      if (doubles == null) null else gatherDoubles(doubles, rows),
      if (nulls == null) null else gatherBools(nulls, rows),
      if (vecs == null) null else gatherRefs(vecs, rows),
      if (wides == null) null else gatherWides(wides, rows))
  }
}

object ColumnData {
  private def gatherInts(a: Array[Int], rows: Array[Int]): Array[Int] = {
    val g = new Array[Int](rows.length)
    var j = 0
    while (j < rows.length) { g(j) = a(rows(j)); j += 1 }
    g
  }
  private def gatherLongs(a: Array[Long], rows: Array[Int]): Array[Long] = {
    val g = new Array[Long](rows.length)
    var j = 0
    while (j < rows.length) { g(j) = a(rows(j)); j += 1 }
    g
  }
  private def gatherDoubles(a: Array[Double], rows: Array[Int]): Array[Double] = {
    val g = new Array[Double](rows.length)
    var j = 0
    while (j < rows.length) { g(j) = a(rows(j)); j += 1 }
    g
  }
  private def gatherBools(a: Array[Boolean], rows: Array[Int]): Array[Boolean] = {
    val g = new Array[Boolean](rows.length)
    var j = 0
    while (j < rows.length) { g(j) = a(rows(j)); j += 1 }
    g
  }
  private def gatherRefs[T <: AnyRef: scala.reflect.ClassTag](a: Array[T], rows: Array[Int]): Array[T] = {
    val g = new Array[T](rows.length)
    var j = 0
    while (j < rows.length) { g(j) = a(rows(j)); j += 1 }
    g
  }
  private def gatherWides(a: Array[Long], rows: Array[Int]): Array[Long] = {
    val g = new Array[Long](2 * rows.length)
    var j = 0
    while (j < rows.length) {
      g(2 * j) = a(2 * rows(j)); g(2 * j + 1) = a(2 * rows(j) + 1)
      j += 1
    }
    g
  }
}

/** Read-time type widening (r9): adapt a file's decoded chunk to the
  * UNION schema's wider container — INT32 values under an INT64 union
  * widen to longs, and ≤18-precision decimal longs under a wide (>18)
  * union widen to sign-extended int128 lane pairs. The unscaled DOMAIN
  * never changes (same scale), only the container, so stats, claimed
  * same-lane predicates, and encodings stay valid per file.
  */
object ColeWiden {
  /** Normalize `cd` to the lane the required Spark type expects. */
  def adapt(cd: ColumnData, required: org.apache.spark.sql.types.DataType): ColumnData = {
    import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}
    required match {
      case LongType | TimestampType | TimestampNTZType if cd.ints != null =>
        cd.copy(ints = null, longs = widenInts(cd.ints))
      case dt: DecimalType if dt.precision > 18 =>
        if (cd.longs != null) cd.copy(longs = null, wides = widenLongs(cd.longs))
        else if (cd.ints != null)
          cd.copy(ints = null, wides = widenLongs(widenInts(cd.ints)))
        else cd
      case dt: DecimalType if dt.precision > 9 && cd.ints != null =>
        // narrow-decimal union reads an INT-lane chunk (can only arise
        // from a widened INT32 read through a decimal-typed projection;
        // defensive — schema union never produces it today)
        cd.copy(ints = null, longs = widenInts(cd.ints))
      case _ => cd
    }
  }

  private def widenInts(a: Array[Int]): Array[Long] = {
    val g = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { g(i) = a(i).toLong; i += 1 }
    g
  }

  private def widenLongs(a: Array[Long]): Array[Long] = {
    val g = new Array[Long](2 * a.length)
    var i = 0
    while (i < a.length) {
      g(2 * i) = a(i) >> 63 // sign extension into the hi lane
      g(2 * i + 1) = a(i)
      i += 1
    }
    g
  }
}

/** Single-file reader: footer → metadata → per-chunk decode.
  * (Reading algorithm per reference docs/FORMAT.md "Reading Algorithm".)
  *
  * All access goes through the Hadoop FileSystem API (positioned
  * `readFully`, never seek state), so the same reader serves local files,
  * `file://` URIs, and distributed stores resolved from the Hadoop conf.
  */
final class ColeFileReader(path: String, conf: Configuration) extends AutoCloseable {
  /** Driver/CLI convenience: resolve through the active session's conf. */
  def this(path: String) = this(path, ColeIO.driverConf())

  private val (fs, hPath) = ColeIO.resolve(path, conf)
  private val fileLen = fs.getFileStatus(hPath).getLen
  private val in = { ColeIO.opens.incrementAndGet(); fs.open(hPath) }

  val meta: FileMeta = {
    if (fileLen < 20) throw new ColeFormatException(s"$path: too small to be a COLE file")
    // header check
    val header = readAt(0, 8)
    val hc = new Cursor(header, 0)
    if (hc.u32() != FileMagic) throw new ColeFormatException(s"$path: bad file magic")
    val version = hc.u16()
    hc.u16() // version minor
    if (version < 1 || version > Version2)
      throw new ColeFormatException(s"$path: unsupported format version $version")
    // footer: [FOOT u32][metadata offset u64]
    val footer = readAt(fileLen - 12, 12)
    val fc = new Cursor(footer, 0)
    if (fc.u32() != FooterMagic) throw new ColeFormatException(s"$path: bad footer magic")
    val metaOffset = fc.i64()
    if (metaOffset < 8 || metaOffset >= fileLen - 12)
      throw new ColeFormatException(s"$path: metadata offset out of range")
    if (version >= Version2) {
      // v2 footer layout: [metadata][meta crc u32][FOOT][offset] — verify
      // the block the whole planner trusts before parsing a byte of it
      val metaLen = (fileLen - 12 - 4 - metaOffset).toInt
      if (metaLen < 0)
        throw new ColeFormatException(s"$path: metadata region too small for v2")
      val withCrc = readAt(metaOffset, metaLen + 4)
      val stored = new Cursor(withCrc, metaLen).u32()
      if (bodyCrc(withCrc, 0, metaLen) != stored)
        throw new ColeFormatException(
          s"$path: metadata checksum mismatch (corrupt footer metadata)")
      readMetadata(new Cursor(withCrc, 0), version, metaLen)
    } else {
      val metaBytes = readAt(metaOffset, (fileLen - 12 - metaOffset).toInt)
      readMetadata(new Cursor(metaBytes, 0), version)
    }
  }

  private def readAt(offset: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    in.readFully(offset, buf, 0, len)
    buf
  }

  /** Cursor over one page's decoded body. Sizes equal = stored (the only
    * layout the reference writes); differing = raw-DEFLATE page from this
    * writer's opt-in compression. The single choke point every read path
    * (scan, agg sweep, dict view) passes through — v2 page CRCs verify
    * here, BEFORE any byte is decoded.
    */
  private def pageCursor(c: Cursor, ph: PageHeader): Cursor = {
    if (meta.version >= Version2 &&
        bodyCrc(c.buf, c.pos, ph.compressedSize) != ph.crc)
      throw new ColeFormatException(
        s"$path: page checksum mismatch (corrupt page body)")
    if (ph.compressedSize == ph.uncompressedSize) new Cursor(c.buf, c.pos)
    else new Cursor(
      ColeCodec.inflate(c.buf, c.pos, ph.compressedSize, ph.uncompressedSize), 0)
  }

  /** The STORED bytes of one column chunk ([page header][page body]...),
    * verbatim — the raw-splice lane's input: a row group no DML touched
    * copies these bytes into the replacement file bit-identically
    * instead of decode+re-encode (see [[ColeFileWriter.writeRawRowGroup]]).
    */
  def readChunkBytes(rgIdx: Int, colIdx: Int): Array[Byte] = {
    val cc = meta.rowGroups(rgIdx).chunks(colIdx)
    readAt(cc.fileOffset, cc.totalSize.toInt)
  }

  // ---- decode-once: the decoded chunks, dictionary views and validity
  // flags of the row group last served. A scan's predicate columns are
  // decoded by the selection builder and then read again by the loader;
  // both see one decode. Asking for another row group drops them, so the
  // heap holds at most one row group per reader. Returned arrays are
  // shared and read-only by contract.
  private var cachedRg = -1
  private val chunkCache = new Array[ColumnData](meta.columns.size)
  private val dictCache = new Array[(Array[Array[Byte]], Array[Int])](meta.columns.size)
  private val validityCache = new Array[Array[Boolean]](meta.columns.size)

  private def useRowGroup(rgIdx: Int): Unit =
    if (rgIdx != cachedRg) {
      java.util.Arrays.fill(chunkCache.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(dictCache.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(validityCache.asInstanceOf[Array[AnyRef]], null)
      cachedRg = rgIdx
    }

  /** The pages' arrays (of `elem` values) of one chunk as one array: a
    * single page's array as-is, several joined with `System.arraycopy`.
    */
  private def concat[A](parts: Array[_ <: AnyRef], elem: Class[_]): A =
    if (parts.length == 1) parts(0).asInstanceOf[A] else {
      import java.lang.reflect.{Array => JArray}
      var total = 0
      parts.foreach(p => total += JArray.getLength(p))
      val out = JArray.newInstance(elem, total)
      var off = 0
      parts.foreach { p =>
        val n = JArray.getLength(p)
        System.arraycopy(p, 0, out, off, n)
        off += n
      }
      out.asInstanceOf[A]
    }

  /** Read and decode one column chunk of one row group. v2 pages with
    * nulls decode their validity bitmap first; encoded values cover the
    * present rows only and are expanded to full-length arrays here
    * (placeholder at null slots, per-row flags in `ColumnData.nulls`).
    * Decoded once per row group (see `useRowGroup`).
    */
  def readChunk(rgIdx: Int, colIdx: Int): ColumnData = {
    useRowGroup(rgIdx)
    if (chunkCache(colIdx) == null) chunkCache(colIdx) = decodeChunk(rgIdx, colIdx)
    chunkCache(colIdx)
  }

  private def decodeChunk(rgIdx: Int, colIdx: Int): ColumnData = {
    val cc = meta.rowGroups(rgIdx).chunks(colIdx)
    val col = meta.columns(colIdx)
    val raw = readAt(cc.fileOffset, cc.totalSize.toInt)
    val c = new Cursor(raw, 0)
    // chunk = sequence of [page header][page data]; decode each page into
    // its primitive array, then join the pages
    val nPages = cc.pages.size
    val parts = new Array[AnyRef](nPages)
    val nullParts = new Array[Array[Boolean]](nPages)
    val pageRows = new Array[Int](nPages)
    var anyNulls = false
    var p = 0
    while (p < nPages) {
      val ph = readPageHeader(c, meta.version, col.colType == TDouble,
        isWide(col.colType))
      val pageData = pageCursor(c, ph)
      val isNull: Array[Boolean] =
        if (ph.nullCount == 0) null
        else { anyNulls = true; readValidity(pageData, ph.numValues) }
      val present = ph.numValues - ph.nullCount
      // null per dense page: materialized only when some page has nulls
      nullParts(p) = isNull
      pageRows(p) = ph.numValues
      parts(p) = col.colType match {
        case TInt32 => expandInt(decodeIntPage(pageData, ph, present), isNull, ph.numValues)
        case t if isLongBacked(t) =>
          expandLong(decodeLongPage(pageData, ph, present), isNull, ph.numValues)
        case TString | TBinary =>
          expandRef(decodeStringPage(pageData, ph, present), isNull, ph.numValues)
        case TDouble =>
          expandDouble(decodeDoublePage(pageData, ph, present), isNull, ph.numValues)
        case TFloatVec =>
          expandVec(decodeVecPage(pageData, ph, present), isNull, ph.numValues)
        case t if isWide(t) => // PLAIN [hi,lo] pairs = 2×present i64s
          val pairs = ph.encoding match {
            case Plain => decodePlainLong(pageData, 2 * present)
            case other => throw new ColeFormatException(s"$other not valid for WIDE DECIMAL")
          }
          expandWide(pairs, isNull, ph.numValues)
        case other => throw new ColeFormatException(s"unhandled column type $other")
      }
      c.pos += ph.compressedSize
      p += 1
    }
    val nulls: Array[Boolean] = if (!anyNulls) null else {
      var q = 0
      while (q < nPages) {
        if (nullParts(q) == null) nullParts(q) = new Array[Boolean](pageRows(q))
        q += 1
      }
      concat(nullParts, classOf[Boolean])
    }
    col.colType match {
      case TInt32 => ColumnData(concat(parts, classOf[Int]), null, null, null, nulls)
      case t if isLongBacked(t) =>
        ColumnData(null, concat(parts, classOf[Long]), null, null, nulls)
      case TString | TBinary =>
        ColumnData(null, null, concat(parts, classOf[Array[Byte]]), null, nulls)
      case TDouble =>
        ColumnData(null, null, null, concat(parts, classOf[Double]), nulls)
      case TFloatVec =>
        ColumnData(null, null, null, null, nulls, concat(parts, classOf[Array[Float]]))
      case t if isWide(t) =>
        ColumnData(null, null, null, null, nulls, null, concat(parts, classOf[Long]))
      case other => throw new ColeFormatException(s"unhandled column type $other")
    }
  }

  private def expandInt(vals: Array[Int], isNull: Array[Boolean], n: Int): Array[Int] =
    if (isNull == null) vals else {
      val out = new Array[Int](n)
      var i = 0; var j = 0
      while (i < n) { if (!isNull(i)) { out(i) = vals(j); j += 1 }; i += 1 }
      out
    }

  private def expandLong(vals: Array[Long], isNull: Array[Boolean], n: Int): Array[Long] =
    if (isNull == null) vals else {
      val out = new Array[Long](n)
      var i = 0; var j = 0
      while (i < n) { if (!isNull(i)) { out(i) = vals(j); j += 1 }; i += 1 }
      out
    }

  /** Wide expansion works in PAIRS: slot r of the output is (2r, 2r+1). */
  private def expandWide(vals: Array[Long], isNull: Array[Boolean], n: Int): Array[Long] =
    if (isNull == null) vals else {
      val out = new Array[Long](2 * n)
      var i = 0; var j = 0
      while (i < n) {
        if (!isNull(i)) { out(2 * i) = vals(j); out(2 * i + 1) = vals(j + 1); j += 2 }
        i += 1
      }
      out
    }

  private def expandDouble(vals: Array[Double], isNull: Array[Boolean], n: Int): Array[Double] =
    if (isNull == null) vals else {
      val out = new Array[Double](n)
      var i = 0; var j = 0
      while (i < n) { if (!isNull(i)) { out(i) = vals(j); j += 1 }; i += 1 }
      out
    }

  private def expandRef(vals: Array[Array[Byte]], isNull: Array[Boolean], n: Int): Array[Array[Byte]] =
    if (isNull == null) vals else {
      val out = new Array[Array[Byte]](n)
      var i = 0; var j = 0
      while (i < n) { if (!isNull(i)) { out(i) = vals(j); j += 1 }; i += 1 }
      out
    }

  private def expandVec(vals: Array[Array[Float]], isNull: Array[Boolean], n: Int): Array[Array[Float]] =
    if (isNull == null) vals else {
      val out = new Array[Array[Float]](n)
      var i = 0; var j = 0
      while (i < n) { if (!isNull(i)) { out(i) = vals(j); j += 1 }; i += 1 }
      out
    }

  private def decodeIntPage(c: Cursor, ph: PageHeader, present: Int): Array[Int] = ph.encoding match {
    case Plain => decodePlainInt(c, present)
    case Rle => decodeRleInt(c, present)
    case Delta => decodeDeltaInt(c, present)
    case Dict => throw new ColeFormatException("DICTIONARY not valid for INT32")
  }

  private def decodeLongPage(c: Cursor, ph: PageHeader, present: Int): Array[Long] = ph.encoding match {
    case Plain => decodePlainLong(c, present)
    case Rle => decodeRleLong(c, present)
    case Delta => decodeDeltaLong(c, present)
    case Dict => throw new ColeFormatException("DICTIONARY not valid for INT64")
  }

  private def decodeDoublePage(c: Cursor, ph: PageHeader, present: Int): Array[Double] = ph.encoding match {
    case Plain => decodePlainDouble(c, present)
    case other => throw new ColeFormatException(s"$other not valid for DOUBLE")
  }

  private def decodeStringPage(c: Cursor, ph: PageHeader, present: Int): Array[Array[Byte]] = ph.encoding match {
    case Plain => decodePlainStrings(c, present)
    case Dict => decodeDictStrings(c, present)
    case other => throw new ColeFormatException(s"$other not valid for STRING")
  }

  private def decodeVecPage(c: Cursor, ph: PageHeader, present: Int): Array[Array[Float]] = ph.encoding match {
    case Plain => decodePlainVecs(c, present)
    case other => throw new ColeFormatException(s"$other not valid for FLOAT_VECTOR")
  }

  /** One-pass numeric aggregate (count/sum/min/max) over a chunk without
    * materializing value arrays — the aggregate-pushdown read path. RLE
    * pages contribute per run, so a heavily-runny column aggregates in
    * far less than decode time.
    */
  def aggChunk(rgIdx: Int, colIdx: Int): ColeCodec.NumAgg = {
    val rg = meta.rowGroups(rgIdx)
    val cc = rg.chunks(colIdx)
    val colType = meta.columns(colIdx).colType
    require(colType == TInt32 || isLongBacked(colType),
      s"aggChunk requires an integral column; '${meta.columns(colIdx).name}' is $colType")
    val raw = readAt(cc.fileOffset, cc.totalSize.toInt)
    val c = new Cursor(raw, 0)
    val acc = new ColeCodec.NumAgg
    cc.pages.foreach { _ =>
      val ph = readPageHeader(c, meta.version, isDouble = false)
      val pageData = pageCursor(c, ph)
      // v2 null-bearing pages: encoded values cover PRESENT rows only
      // behind the validity prefix, so the dense sweep over them IS the
      // SQL null-ignoring aggregate — skip the bitmap, sweep `present`
      // values, and acc.count accumulates non-null rows exactly
      if (ph.nullCount > 0) pageData.pos += (ph.numValues + 7) / 8
      val present = ph.numValues - ph.nullCount
      (colType, ph.encoding) match {
        case (TInt32, Plain) => aggPlainInt(pageData, present, acc)
        case (TInt32, Rle) => aggRleInt(pageData, acc)
        case (TInt32, Delta) => aggDeltaInt(pageData, present, acc)
        case (t, Plain) if isLongBacked(t) => aggPlainLong(pageData, present, acc)
        case (t, Rle) if isLongBacked(t) => aggRleLong(pageData, acc)
        case (t, Delta) if isLongBacked(t) => aggDeltaLong(pageData, present, acc)
        case (t, e) => throw new ColeFormatException(s"$e not valid for $t")
      }
      c.pos += ph.compressedSize
    }
    acc
  }

  /** Double twin of [[aggChunk]] for v2 TDouble chunks (PLAIN pages). */
  def aggChunkDouble(rgIdx: Int, colIdx: Int): ColeCodec.DblAgg = {
    val cc = meta.rowGroups(rgIdx).chunks(colIdx)
    require(meta.columns(colIdx).colType == TDouble,
      s"aggChunkDouble requires a DOUBLE column")
    val raw = readAt(cc.fileOffset, cc.totalSize.toInt)
    val c = new Cursor(raw, 0)
    val acc = new ColeCodec.DblAgg
    cc.pages.foreach { _ =>
      val ph = readPageHeader(c, meta.version, isDouble = true)
      val pageData = pageCursor(c, ph)
      // same null discipline as [[aggChunk]]: skip the validity prefix,
      // sweep the densely-encoded present values
      if (ph.nullCount > 0) pageData.pos += (ph.numValues + 7) / 8
      ph.encoding match {
        case Plain => aggPlainDouble(pageData, ph.numValues - ph.nullCount, acc)
        case e => throw new ColeFormatException(s"$e not valid for DOUBLE")
      }
      c.pos += ph.compressedSize
    }
    acc
  }

  /** Min/max for a chunk from page stats alone (no page read); None when
    * any page lacks stats.
    */
  def statsMinMax(rgIdx: Int, colIdx: Int): Option[(Long, Long)] =
    meta.statsMinMax(rgIdx, colIdx)

  /** Per-row isNull flags for one chunk, decoded from validity bitmaps
    * alone (values stay encoded — the COUNT(col)-under-filter path);
    * null when the footer proves the chunk dense. An already-decoded chunk
    * of the row group answers from its own flags.
    */
  def chunkValidity(rgIdx: Int, colIdx: Int): Array[Boolean] = {
    if (meta.chunkNullCount(rgIdx, colIdx) == 0L) return null
    useRowGroup(rgIdx)
    if (chunkCache(colIdx) != null) return chunkCache(colIdx).nulls
    if (validityCache(colIdx) == null) {
      val cc = meta.rowGroups(rgIdx).chunks(colIdx)
      val raw = readAt(cc.fileOffset, cc.totalSize.toInt)
      val c = new Cursor(raw, 0)
      val isDbl = meta.columns(colIdx).colType == TDouble
      val isW = isWide(meta.columns(colIdx).colType)
      val parts = new Array[Array[Boolean]](cc.pages.size)
      var p = 0
      while (p < parts.length) {
        val ph = readPageHeader(c, meta.version, isDbl, isW)
        val pageData = pageCursor(c, ph)
        parts(p) = if (ph.nullCount == 0) new Array[Boolean](ph.numValues)
          else readValidity(pageData, ph.numValues)
        c.pos += ph.compressedSize
        p += 1
      }
      validityCache(colIdx) = concat(parts, classOf[Boolean])
    }
    validityCache(colIdx)
  }

  /** Dictionary view of an all-DICTIONARY string chunk: (entries, per-row
    * ids), with multi-page chunks merged by offsetting ids into one
    * concatenated entry table. Returns null when any page is PLAIN — the
    * caller falls back to materialized strings.
    */
  def readStringChunkDict(rgIdx: Int, colIdx: Int): (Array[Array[Byte]], Array[Int]) = {
    val cc = meta.rowGroups(rgIdx).chunks(colIdx)
    if (meta.columns(colIdx).colType != TString) return null
    if (!cc.pages.forall(_.encoding == Dict)) return null
    // null-bearing chunks have no dense id-per-row view: callers fall
    // back to the materialized (null-expanded) string path
    if (cc.pages.exists(_.nullCount > 0)) return null
    useRowGroup(rgIdx)
    if (dictCache(colIdx) == null) {
      val raw = readAt(cc.fileOffset, cc.totalSize.toInt)
      val c = new Cursor(raw, 0)
      val entryParts = new Array[Array[Array[Byte]]](cc.pages.size)
      val idParts = new Array[Array[Int]](cc.pages.size)
      var base = 0
      var p = 0
      while (p < idParts.length) {
        val ph = readPageHeader(c, meta.version, isDouble = false)
        val (dict, ids) = decodeDictRaw(pageCursor(c, ph), ph.numValues)
        if (base != 0) {
          var j = 0
          while (j < ids.length) { ids(j) += base; j += 1 }
        }
        entryParts(p) = dict
        idParts(p) = ids
        base += dict.length
        c.pos += ph.compressedSize
        p += 1
      }
      dictCache(colIdx) = (concat(entryParts, classOf[Array[Byte]]), concat(idParts, classOf[Int]))
    }
    dictCache(colIdx)
  }

  override def close(): Unit = {
    useRowGroup(-1)
    in.close()
  }
}

object ColeFileWriter {
  /** Hadoop-conf key carrying the opt-in page compression codec from the
    * write options down to every (possibly executor-side) file writer —
    * the conf already travels the whole write path, so no signature in
    * between needs to know.
    */
  val CompressKey = "graft.cole.compress"

  /** Hadoop-conf key for the target format version ("1"|"2"); absent =
    * auto (v2 iff the schema carries a v2-only type, else the
    * reference-byte-compatible v1).
    */
  val VersionKey = "graft.cole.version"

  /** Resolve the format version for a column set: explicit wins (but v1
    * cannot carry v2-only types); otherwise the lowest version that can
    * hold the schema — keeping DEFAULT writes byte-compatible with the
    * reference layout.
    */
  def resolveVersion(columns: Seq[ColeColumn], conf: Configuration): Int = {
    val needsV2 = columns.exists(c => requiresV2(c.colType))
    val explicit = Option(conf).flatMap(c => Option(c.get(VersionKey)))
    explicit match {
      case Some("1") =>
        if (needsV2) throw new ColeFormatException(
          "formatVersion=1 cannot carry DOUBLE/TIMESTAMP columns")
        1
      case Some("2") => Version2
      case Some(other) =>
        throw new ColeFormatException(s"unknown formatVersion '$other' (1|2)")
      case None => if (needsV2) Version2 else 1
    }
  }
}

/** Single-file writer: buffers one row group of columns, flushes pages +
  * accumulates metadata, writes footer on close.
  */
final class ColeFileWriter(path: String, columns: Seq[ColeColumn],
    conf: Configuration) extends AutoCloseable {

  /** Opt-in page compression ("deflate"); default writes remain
    * byte-identical to the reference layout (sizes equal = stored).
    */
  private val compress =
    conf != null && conf.get(ColeFileWriter.CompressKey, "none") == "deflate"
  /** Format version: v1 (reference-byte-compatible, default) or v2
    * (doubles/timestamps/null bitmaps) — see [[ColeFileWriter.resolveVersion]].
    */
  private val version = ColeFileWriter.resolveVersion(columns, conf)
  /** Driver/CLI convenience: resolve through the active session's conf. */
  def this(path: String, columns: Seq[ColeColumn]) =
    this(path, columns, ColeIO.driverConf())

  private val stream = {
    val (fs, hPath) = ColeIO.resolve(path, conf)
    ColeIO.opens.incrementAndGet()
    fs.create(hPath, true)
  }

  // per-column NDV bound accumulation (v2 footers, TString+Dict columns):
  // the writer knows every page's dictionary size — the CBO then answers
  // string NDV from the cached footer with zero positioned reads
  private val ndvSums = Array.fill(columns.size)(0L)
  private val ndvSound = Array.fill(columns.size)(true)
  // per-chunk wrapped present-value sums (v2 footers, integral columns):
  // one Array[Long] per row group, aligned to columns — the footer's
  // SUMS tail then answers unfiltered SUM pushdown metadata-only
  private val chunkSumRows = scala.collection.mutable.ArrayBuffer[Array[Long]]()
  private val sumEligible: Array[Boolean] =
    columns.map(c => c.colType == TInt32 || isLongBacked(c.colType)).toArray
  // a raw-spliced group whose SOURCE footer cannot answer a column's sum
  // (pre-extension file) drops that column from the output SUMS tail —
  // absent is always sound, a fabricated value never is
  private val sumSound = Array.fill(columns.size)(true)
  // per-chunk EXACT string bounds (v2 footers, STRB tail): byte-wise
  // unsigned min/max of present values — Spark's UTF8String order — so a
  // footer-answered string MIN/MAX is the sweep's answer bit-for-bit;
  // null slot = absent (no present values, or an extreme beyond the cap)
  private val strBoundRows =
    scala.collection.mutable.ArrayBuffer[Array[(Array[Byte], Array[Byte])]]()
  private val strEligible: Array[Boolean] =
    columns.map(_.colType == TString).toArray
  private val out = new BufferedOutputStream(stream, 1 << 16)
  private var position = 0L
  private val rowGroups = scala.collection.mutable.ArrayBuffer[RowGroupMeta]()
  private var totalRows = 0L
  private var closed = false

  writeHeader()

  private def writeHeader(): Unit = {
    val o = new Out(8)
    o.u32(FileMagic); o.u16(version); o.u16(VersionMinor)
    emit(o.toBytes)
  }

  private def emit(b: Array[Byte]): Unit = { out.write(b); position += b.length }

  /** Write one row group from fully-buffered column data (one page per
    * chunk, mirroring the reference writer's layout). Encoding may be
    * chosen per chunk — readers dispatch on the page header's encoding.
    */
  def writeRowGroup(cols: Seq[ColumnData], numRows: Int,
      encodings: Seq[Enc] = null): Unit = {
    require(cols.size == columns.size, "column count mismatch")
    val encs = if (encodings == null) columns.map(_.encoding) else encodings
    val rgSums = new Array[Long](columns.size)
    val rgStrBounds = new Array[(Array[Byte], Array[Byte])](columns.size)
    val chunkMetas = columns.indices.map { i =>
      val col = columns(i).copy(encoding = encs(i))
      val data = cols(i)
      val isNull = data.nulls
      var nullCount = 0
      if (isNull != null) {
        var r = 0
        while (r < numRows) { if (isNull(r)) nullCount += 1; r += 1 }
      }
      if (nullCount > 0 && version < Version2)
        throw new ColeFormatException(
          s"COLE format v1 does not support NULLs (column '${col.name}'); " +
            "write with option formatVersion=2")
      // encoded values cover the PRESENT rows only; the validity bitmap
      // (when nulls exist) prefixes the page body
      def presentInts: Array[Int] =
        if (nullCount == 0) data.ints
        else compactInts(data.ints, isNull, numRows, numRows - nullCount)
      def presentLongs: Array[Long] =
        if (nullCount == 0) data.longs
        else compactLongs(data.longs, isNull, numRows, numRows - nullCount)
      def presentStrs: Array[Array[Byte]] =
        if (nullCount == 0) data.strings
        else compactRefs(data.strings, isNull, numRows, numRows - nullCount)
      val (encoded, stats) = col.colType match {
        case TInt32 =>
          val vals = presentInts
          var s = 0L
          var mn = Int.MaxValue; var mx = Int.MinValue
          var k = 0
          while (k < vals.length) {
            val v = vals(k)
            s += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            k += 1
          }
          rgSums(i) = s
          val bytes = col.encoding match {
            case Plain => encodePlainInt(vals)
            case Rle => encodeRleInt(vals)
            case Delta => encodeDeltaInt(vals)
            case Dict => throw new ColeFormatException("DICTIONARY not valid for INT32")
          }
          val st = if (vals.isEmpty) PageStats(None, None, nullCount)
            else PageStats(Some(mn.toLong), Some(mx.toLong), nullCount)
          (bytes, st)
        case t if isLongBacked(t) =>
          val vals = presentLongs
          var s = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          var k = 0
          while (k < vals.length) {
            val v = vals(k)
            s += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            k += 1
          }
          rgSums(i) = s
          val bytes = col.encoding match {
            case Plain => encodePlainLong(vals)
            case Rle => encodeRleLong(vals)
            case Delta => encodeDeltaLong(vals)
            case Dict => throw new ColeFormatException("DICTIONARY not valid for INT64")
          }
          val st = if (vals.isEmpty) PageStats(None, None, nullCount)
            else PageStats(Some(mn), Some(mx), nullCount)
          (bytes, st)
        case TDouble =>
          val vals =
            if (nullCount == 0) data.doubles
            else compactDoubles(data.doubles, isNull, numRows, numRows - nullCount)
          val bytes = col.encoding match {
            case Plain => encodePlainDouble(vals)
            case other => throw new ColeFormatException(s"$other not valid for DOUBLE")
          }
          val st = if (vals.isEmpty) PageStats(None, None, nullCount)
            else {
              // java.lang.Double.compare: the total order (NaN above
              // +Infinity, -0.0 below 0.0) the stats have always used
              var mn = vals(0); var mx = vals(0)
              var k = 1
              while (k < vals.length) {
                val v = vals(k)
                if (java.lang.Double.compare(v, mn) < 0) mn = v
                if (java.lang.Double.compare(v, mx) > 0) mx = v
                k += 1
              }
              PageStats(None, None, nullCount, Some(mn), Some(mx))
            }
          (bytes, st)
        case TString | TBinary =>
          val vals = presentStrs
          if (col.colType == TString && vals.nonEmpty) {
            var mn = vals(0); var mx = vals(0)
            var k = 1
            while (k < vals.length) {
              val v = vals(k)
              if (cmpBytesU(v, mn) < 0) mn = v
              if (cmpBytesU(v, mx) > 0) mx = v
              k += 1
            }
            if (mn.length <= StrBoundMaxLen && mx.length <= StrBoundMaxLen)
              rgStrBounds(i) = (mn, mx)
          }
          val bytes = col.encoding match {
            case Plain => encodePlainStrings(vals)
            case Dict =>
              val b = encodeDictStrings(vals)
              // the body's leading u32 IS the dictionary entry count —
              // accumulate it so the footer can carry a metadata-only
              // NDV upper bound for this column (r13; sum over pages is
              // sound: every distinct value appears in some dictionary)
              if (col.colType == TString)
                ndvSums(i) += (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) |
                  ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
              b
            case other => throw new ColeFormatException(s"$other not valid for STRING/BINARY")
          }
          // a non-dictionary page breaks the bound (per-group encoding
          // overrides allow mixing): this column reports none
          if (col.colType == TString && col.encoding != Dict)
            ndvSound(i) = false
          (bytes, PageStats(None, None, nullCount))
        case TFloatVec =>
          val vals =
            if (nullCount == 0) data.vecs
            else compactVecs(data.vecs, isNull, numRows, numRows - nullCount)
          val bytes = col.encoding match {
            case Plain => encodePlainVecs(vals)
            case other => throw new ColeFormatException(s"$other not valid for FLOAT_VECTOR")
          }
          (bytes, PageStats(None, None, nullCount))
        case t if isWide(t) =>
          // interleaved [hi,lo] pairs; PLAIN lays them out as 2m i64s,
          // byte-identical to a long page of twice the value count
          val vals =
            if (nullCount == 0) data.wides
            else compactWides(data.wides, isNull, numRows, numRows - nullCount)
          val bytes = col.encoding match {
            case Plain => encodePlainLong(vals)
            case other => throw new ColeFormatException(s"$other not valid for WIDE DECIMAL")
          }
          val st =
            if (vals.isEmpty) PageStats(None, None, nullCount)
            else {
              var mnHi = vals(0); var mnLo = vals(1)
              var mxHi = vals(0); var mxLo = vals(1)
              var k = 2
              while (k < vals.length) {
                val hi = vals(k); val lo = vals(k + 1)
                if (cmp128(hi, lo, mnHi, mnLo) < 0) { mnHi = hi; mnLo = lo }
                if (cmp128(hi, lo, mxHi, mxLo) > 0) { mxHi = hi; mxLo = lo }
                k += 2
              }
              PageStats(None, None, nullCount, None, None,
                Some((mnHi, mnLo)), Some((mxHi, mxLo)))
            }
          (bytes, st)
        case other => throw new ColeFormatException(s"unhandled column type $other")
      }
      val raw =
        if (nullCount == 0) encoded
        else ColeCodec.packValidity(java.util.Arrays.copyOf(isNull, numRows)) ++ encoded
      val body = if (compress) ColeCodec.deflate(raw) else raw
      val ph = PageHeader(raw.length, body.length, numRows, col.encoding, stats,
        nullCount, if (version >= Version2) bodyCrc(body, 0, body.length) else 0)
      val offset = position
      val hdr = new Out()
      writePageHeader(hdr, ph, version, col.colType == TDouble, isWide(col.colType))
      emit(hdr.toBytes)
      emit(body)
      ColumnChunkMeta(offset, position - offset, Seq(ph))
    }
    rowGroups += RowGroupMeta(numRows, chunkMetas)
    chunkSumRows += rgSums
    strBoundRows += rgStrBounds
    totalRows += numRows
  }

  /** Splice one row group VERBATIM from a source file's stored bytes
    * (r18, the raw-group lane behind partial-match DML rewrites):
    * `chunkBytes(i)` is column i's chunk as stored
    * ([page header][page body]...), re-emitted unchanged — page headers,
    * bodies, encodings, compression and CRCs stay bit-identical; only
    * the chunk's file offset rebases in the output footer. The v2 footer
    * tails copy the SOURCE footer's exact values (wrapped sums, exact
    * string bounds — the same numbers a re-encode would recompute from
    * the identical values); a column the source footer cannot answer is
    * dropped from the output tail (readers fall back to the page sweep —
    * absent is sound). String-NDV accumulates each uncompressed DICT
    * page's entry count from the spliced body's leading u32 (what the
    * encoder reports); a compressed or non-DICT page marks the column's
    * bound underivable, exactly the [[ColeNdv]] probe's own discipline.
    */
  def writeRawRowGroup(src: FileMeta, rgIdx: Int,
      chunkBytes: IndexedSeq[Array[Byte]]): Unit = {
    require(src.version == version,
      s"raw splice needs matching format versions (src ${src.version}, " +
        s"writer $version): page-header layouts differ")
    require(src.columns.size == columns.size &&
      src.columns.zip(columns).forall { case (a, b) =>
        a.name == b.name && a.colType == b.colType },
      "raw splice needs an identical column set")
    require(chunkBytes.size == columns.size, "chunk count mismatch")
    val rg = src.rowGroups(rgIdx)
    val rgSums = new Array[Long](columns.size)
    val rgStrBounds = new Array[(Array[Byte], Array[Byte])](columns.size)
    val chunkMetas = columns.indices.map { i =>
      val bytes = chunkBytes(i)
      val cc = rg.chunks(i)
      require(bytes.length.toLong == cc.totalSize,
        s"chunk $i: ${bytes.length} bytes, footer says ${cc.totalSize}")
      if (sumEligible(i)) src.chunkSum(rgIdx, i) match {
        case Some(s) => rgSums(i) = s
        case None => sumSound(i) = false
      }
      if (strEligible(i)) rgStrBounds(i) = src.statsMinMaxS(rgIdx, i).orNull
      if (columns(i).colType == TString) {
        var off = 0
        cc.pages.foreach { ph =>
          val hdrLen = {
            val o = new Out()
            writePageHeader(o, ph, version,
              isDouble = false, isWide = false)
            o.toBytes.length
          }
          if (ph.encoding == Dict &&
              ph.compressedSize == ph.uncompressedSize) {
            val bmp = if (ph.nullCount > 0) (ph.numValues + 7) / 8 else 0
            val p = off + hdrLen + bmp
            ndvSums(i) += (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
              ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
          } else ndvSound(i) = false
          off += hdrLen + ph.compressedSize
        }
      }
      val offset = position
      emit(bytes)
      ColumnChunkMeta(offset, cc.totalSize, cc.pages)
    }
    rowGroups += RowGroupMeta(rg.numRows, chunkMetas)
    chunkSumRows += rgSums
    strBoundRows += rgStrBounds
    totalRows += rg.numRows
  }

  private def compactInts(a: Array[Int], isNull: Array[Boolean], n: Int, m: Int): Array[Int] = {
    val out = new Array[Int](m)
    var i = 0; var j = 0
    while (i < n) { if (!isNull(i)) { out(j) = a(i); j += 1 }; i += 1 }
    out
  }

  private def compactLongs(a: Array[Long], isNull: Array[Boolean], n: Int, m: Int): Array[Long] = {
    val out = new Array[Long](m)
    var i = 0; var j = 0
    while (i < n) { if (!isNull(i)) { out(j) = a(i); j += 1 }; i += 1 }
    out
  }

  private def compactDoubles(a: Array[Double], isNull: Array[Boolean], n: Int, m: Int): Array[Double] = {
    val out = new Array[Double](m)
    var i = 0; var j = 0
    while (i < n) { if (!isNull(i)) { out(j) = a(i); j += 1 }; i += 1 }
    out
  }

  private def compactRefs(a: Array[Array[Byte]], isNull: Array[Boolean], n: Int, m: Int): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](m)
    var i = 0; var j = 0
    while (i < n) { if (!isNull(i)) { out(j) = a(i); j += 1 }; i += 1 }
    out
  }

  private def compactVecs(a: Array[Array[Float]], isNull: Array[Boolean], n: Int, m: Int): Array[Array[Float]] = {
    val out = new Array[Array[Float]](m)
    var i = 0; var j = 0
    while (i < n) { if (!isNull(i)) { out(j) = a(i); j += 1 }; i += 1 }
    out
  }

  /** Unsigned byte-wise comparison — Spark's UTF8String binary order. */
  private def cmpBytesU(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def compactWides(a: Array[Long], isNull: Array[Boolean], n: Int, m: Int): Array[Long] = {
    val out = new Array[Long](2 * m)
    var i = 0; var j = 0
    while (i < n) {
      if (!isNull(i)) { out(j) = a(2 * i); out(j + 1) = a(2 * i + 1); j += 2 }
      i += 1
    }
    out
  }

  override def close(): Unit = {
    if (closed) return
    closed = true
    val metaOffset = position
    val mo = new Out()
    val ndv: Seq[Long] =
      if (version < Version2) Seq.empty
      else columns.indices.map(i =>
        if (columns(i).colType == TString && ndvSound(i)) ndvSums(i) else -1L)
    val sums: Map[Int, Array[Long]] =
      if (version < Version2) Map.empty
      else columns.indices.collect {
        case i if sumEligible(i) && sumSound(i) =>
          i -> chunkSumRows.map(_(i)).toArray
      }.toMap
    val strb: Map[Int, Array[(Array[Byte], Array[Byte])]] =
      if (version < Version2) Map.empty
      else columns.indices.collect {
        case i if strEligible(i) => i -> strBoundRows.map(_(i)).toArray
      }.toMap
    writeMetadata(mo,
      FileMeta(columns, rowGroups.toSeq, totalRows, version, ndv, sums, strb))
    val metaBytes = mo.toBytes
    val o = new Out()
    o.raw(metaBytes)
    // v2: CRC32 of the metadata block between it and the footer — page
    // CRCs cover values, this covers the stats/offsets that PRUNING
    // trusts (a flipped min/max bit would silently skip live row groups)
    if (version >= Version2) o.u32(bodyCrc(metaBytes, 0, metaBytes.length))
    o.u32(FooterMagic)
    o.i64(metaOffset)
    emit(o.toBytes)
    out.flush()
    stream.close()
  }
}
