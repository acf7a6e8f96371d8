package graft.sources.cole

import java.nio.{ByteBuffer, ByteOrder}

/** Binary codecs for the COLE columnar format.
  *
  * Implemented from the published format spec
  * (reference: docs/FORMAT.md — varint/zigzag, RLE, DELTA, DICTIONARY,
  * PLAIN string layout; reference: src/encoding.cpp:13-37 for the exact
  * zigzag-varint run/delta value encoding). All multi-byte integers are
  * little-endian.
  */
object ColeCodec {

  // ---- optional page compression (raw DEFLATE, no zlib wrapper) ----
  //
  // The reference format has no compression (README "Limitations"); graft
  // adds it as an OPT-IN write option because at 100 TB the dominant cost
  // is bytes moved, not CPU. The page header already carries
  // (uncompressedSize, compressedSize) — the reference always writes them
  // equal — so compressed pages are simply pages where they differ;
  // default writes stay byte-compatible with the reference reader.

  /** Deflate `raw`; returns `raw` unchanged unless compression strictly
    * wins, so incompressible pages cost nothing and sizes-equal remains
    * the "stored" marker.
    */
  def deflate(raw: Array[Byte]): Array[Byte] = {
    if (raw.length < 64) return raw // header overhead beats any win
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(raw); d.finish()
    val out = new Array[Byte](raw.length - 1) // accept only strictly smaller
    var n = 0
    while (!d.finished() && n < out.length)
      n += d.deflate(out, n, out.length - n)
    val won = d.finished() && n < raw.length
    d.end()
    if (won) java.util.Arrays.copyOf(out, n) else raw
  }

  /** Inflate `len` bytes at `buf[off..]` into exactly `uncLen` bytes. */
  def inflate(buf: Array[Byte], off: Int, len: Int, uncLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(buf, off, len)
    val out = new Array[Byte](uncLen)
    var n = 0
    try {
      while (n < uncLen && !inf.finished()) {
        val k = inf.inflate(out, n, uncLen - n)
        if (k == 0 && inf.needsInput())
          throw new ColeFormat.ColeFormatException("truncated compressed page")
        n += k
      }
      // the size lie in the OTHER direction: the stream continues past
      // the declared uncompressed size — whether it produces more bytes
      // OR needs more input to do so, it is not the stream the header
      // describes; reject rather than silently truncate
      if (n == uncLen && !inf.finished()) {
        val k = inf.inflate(new Array[Byte](1))
        if (k > 0 || (!inf.finished() && inf.needsInput()))
          throw new ColeFormat.ColeFormatException(
            s"corrupt compressed page: stream continues past declared $uncLen bytes")
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new ColeFormat.ColeFormatException(s"corrupt compressed page: ${e.getMessage}")
    } finally inf.end()
    if (n != uncLen)
      throw new ColeFormat.ColeFormatException(s"inflate: got $n of $uncLen bytes")
    out
  }

  /** Little-endian view of `len` bytes of `buf` from `off` — the bulk
    * lane of the PLAIN kernels: the `asIntBuffer`/`asLongBuffer`/... views
    * copy whole arrays in and out without touching a value one at a time.
    */
  private def le(buf: Array[Byte], off: Int, len: Int): ByteBuffer =
    ByteBuffer.wrap(buf, off, len).order(ByteOrder.LITTLE_ENDIAN)

  /** Forward cursor over a byte array with little-endian primitives. */
  final class Cursor(val buf: Array[Byte], var pos: Int) {
    def u8(): Int = { val v = buf(pos) & 0xff; pos += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Int = {
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def i32(): Int = u32()
    def i64(): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def uvarint(): Long = {
      val b0 = buf(pos)
      pos += 1
      if (b0 >= 0) return b0.toLong // one-byte varint: the common case
      var result = b0 & 0x7fL
      var shift = 7
      var b = 0
      do {
        b = buf(pos) & 0xff; pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def zz32(): Int = { val e = uvarint().toInt; (e >>> 1) ^ -(e & 1) }
    def zz64(): Long = { val e = uvarint(); (e >>> 1) ^ -(e & 1L) }
    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    /** The next `n` bytes as a little-endian view; advances past them. */
    def view(n: Int): ByteBuffer = { val b = le(buf, pos, n); pos += n; b }
  }

  /** Little-endian growable output buffer (single-threaded, unsynchronized). */
  final class Out(initial: Int = 64) {
    private var buf = new Array[Byte](math.max(initial, 16))
    private var n = 0
    def size: Int = n
    private def ensure(extra: Int): Unit =
      if (n + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + extra))
    def u8(v: Int): Unit = { ensure(1); buf(n) = v.toByte; n += 1 }
    def u16(v: Int): Unit = {
      ensure(2); buf(n) = v.toByte; buf(n + 1) = (v >>> 8).toByte; n += 2
    }
    def u32(v: Int): Unit = {
      ensure(4)
      buf(n) = v.toByte; buf(n + 1) = (v >>> 8).toByte
      buf(n + 2) = (v >>> 16).toByte; buf(n + 3) = (v >>> 24).toByte
      n += 4
    }
    def i64(v: Long): Unit = {
      ensure(8)
      var i = 0
      while (i < 8) { buf(n + i) = (v >>> (8 * i)).toByte; i += 1 }
      n += 8
    }
    def uvarint(value: Long): Unit = {
      ensure(10)
      var v = value
      while ((v & ~0x7fL) != 0) { buf(n) = ((v & 0x7f) | 0x80).toByte; n += 1; v >>>= 7 }
      buf(n) = v.toByte; n += 1
    }
    def zz32(v: Int): Unit = uvarint(((v << 1) ^ (v >> 31)) & 0xffffffffL)
    def zz64(v: Long): Unit = uvarint((v << 1) ^ (v >> 63))
    def raw(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length
    }
    def raw(o: Out): Unit = {
      ensure(o.n); System.arraycopy(o.buf, 0, buf, n, o.n); n += o.n
    }
    /** The written bytes; the buffer itself when it is exactly full. */
    def toBytes: Array[Byte] =
      if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
  }

  // ---- RLE: [num_runs uvarint] ([run_len uvarint][value zigzag-varint])*

  def encodeRleInt(values: Array[Int]): Array[Byte] = {
    // Always emit the run-count header (0 for empty input): the decoder
    // unconditionally reads it, and a header-less empty chunk would desync
    // any cursor that reads further (e.g. the dictionary page layout).
    val out = new Out(10 + values.length)
    var runs = 0
    val body = new Out(values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      var len = 1
      while (i + len < values.length && values(i + len) == v) len += 1
      body.uvarint(len.toLong); body.zz32(v)
      runs += 1
      i += len
    }
    out.uvarint(runs.toLong); out.raw(body)
    out.toBytes
  }

  def encodeRleLong(values: Array[Long]): Array[Byte] = {
    val out = new Out(10 + values.length)
    var runs = 0
    val body = new Out(values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      var len = 1
      while (i + len < values.length && values(i + len) == v) len += 1
      body.uvarint(len.toLong); body.zz64(v)
      runs += 1
      i += len
    }
    out.uvarint(runs.toLong); out.raw(body)
    out.toBytes
  }

  def decodeRleInt(c: Cursor, numValues: Int): Array[Int] = {
    val out = new Array[Int](numValues)
    val runs = c.uvarint().toInt
    var idx = 0
    var r = 0
    while (r < runs) {
      val end = idx + c.uvarint().toInt
      val v = c.zz32()
      // runs are often one or two values long (dictionary ids of
      // unsorted data): a plain loop beats the Arrays.fill call
      while (idx < end) { out(idx) = v; idx += 1 }
      r += 1
    }
    out
  }

  def decodeRleLong(c: Cursor, numValues: Int): Array[Long] = {
    val out = new Array[Long](numValues)
    val runs = c.uvarint().toInt
    var idx = 0
    var r = 0
    while (r < runs) {
      val end = idx + c.uvarint().toInt
      val v = c.zz64()
      // runs are often one or two values long (dictionary ids of
      // unsorted data): a plain loop beats the Arrays.fill call
      while (idx < end) { out(idx) = v; idx += 1 }
      r += 1
    }
    out
  }

  // ---- DELTA: [base fixed-width LE][num_deltas uvarint][delta zigzag-varint]*

  def encodeDeltaInt(values: Array[Int]): Array[Byte] = {
    val out = new Out(values.length)
    if (values.isEmpty) return out.toBytes
    out.u32(values(0))
    out.uvarint((values.length - 1).toLong)
    var i = 1
    while (i < values.length) { out.zz32(values(i) - values(i - 1)); i += 1 }
    out.toBytes
  }

  def encodeDeltaLong(values: Array[Long]): Array[Byte] = {
    val out = new Out(values.length)
    if (values.isEmpty) return out.toBytes
    out.i64(values(0))
    out.uvarint((values.length - 1).toLong)
    var i = 1
    while (i < values.length) { out.zz64(values(i) - values(i - 1)); i += 1 }
    out.toBytes
  }

  def decodeDeltaInt(c: Cursor, numValues: Int): Array[Int] = {
    if (numValues == 0) return Array.emptyIntArray
    val out = new Array[Int](numValues)
    out(0) = c.i32()
    val n = c.uvarint().toInt
    var i = 0
    while (i < n) { out(i + 1) = out(i) + c.zz32(); i += 1 }
    out
  }

  def decodeDeltaLong(c: Cursor, numValues: Int): Array[Long] = {
    if (numValues == 0) return Array.emptyLongArray
    val out = new Array[Long](numValues)
    out(0) = c.i64()
    val n = c.uvarint().toInt
    var i = 0
    while (i < n) { out(i + 1) = out(i) + c.zz64(); i += 1 }
    out
  }

  // ---- PLAIN: fixed-width little-endian values, moved in bulk

  def encodePlainInt(values: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](4 * values.length)
    le(out, 0, out.length).asIntBuffer().put(values)
    out
  }

  def encodePlainLong(values: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](8 * values.length)
    le(out, 0, out.length).asLongBuffer().put(values)
    out
  }

  def decodePlainInt(c: Cursor, numValues: Int): Array[Int] = {
    val out = new Array[Int](numValues)
    c.view(4 * numValues).asIntBuffer().get(out)
    out
  }

  def decodePlainLong(c: Cursor, numValues: Int): Array[Long] = {
    val out = new Array[Long](numValues)
    c.view(8 * numValues).asLongBuffer().get(out)
    out
  }

  // ---- PLAIN doubles (format v2): 8-byte little-endian IEEE-754 bits

  def encodePlainDouble(values: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](8 * values.length)
    le(out, 0, out.length).asDoubleBuffer().put(values)
    out
  }

  def decodePlainDouble(c: Cursor, numValues: Int): Array[Double] = {
    val out = new Array[Double](numValues)
    c.view(8 * numValues).asDoubleBuffer().get(out)
    out
  }

  /** PLAIN offsets table: n+1 u32 entries, the prefix of the string and
    * vector layouts.
    */
  private def writeOffsets(out: Array[Byte], lens: Array[Int]): Unit = {
    val ib = le(out, 0, 4 * (lens.length + 1)).asIntBuffer()
    var off = 0
    var i = 0
    while (i < lens.length) { ib.put(off); off += lens(i); i += 1 }
    ib.put(off)
  }

  private def readOffsets(c: Cursor, numValues: Int): Array[Int] = {
    val offsets = new Array[Int](numValues + 1)
    c.view(4 * (numValues + 1)).asIntBuffer().get(offsets)
    offsets
  }

  /** PLAIN float32 vectors: [element offsets u32 x (n+1)][f32 LE data] —
    * the PLAIN-strings layout with 4-byte elements, so variable per-row
    * dimensions cost one offset per row and decode is a bulk sweep.
    */
  def encodePlainVecs(values: Array[Array[Float]]): Array[Byte] = {
    val lens = new Array[Int](values.length)
    var total = 0
    var i = 0
    while (i < values.length) { lens(i) = values(i).length; total += lens(i); i += 1 }
    val head = 4 * (values.length + 1)
    val out = new Array[Byte](head + 4 * total)
    writeOffsets(out, lens)
    val fb = le(out, head, 4 * total).asFloatBuffer()
    i = 0
    while (i < values.length) { fb.put(values(i)); i += 1 }
    out
  }

  def decodePlainVecs(c: Cursor, numValues: Int): Array[Array[Float]] = {
    val offsets = readOffsets(c, numValues)
    val fb = le(c.buf, c.pos, 4 * offsets(numValues)).asFloatBuffer()
    val out = new Array[Array[Float]](numValues)
    var i = 0
    while (i < numValues) {
      val a = new Array[Float](offsets(i + 1) - offsets(i))
      fb.get(offsets(i), a)
      out(i) = a
      i += 1
    }
    out
  }

  // ---- validity bitmaps (format v2): bit set = value present. The
  // bitmap prefixes the page body; encoded values cover present rows only.

  def packValidity(isNull: Array[Boolean]): Array[Byte] = {
    val out = new Array[Byte]((isNull.length + 7) / 8)
    var i = 0
    while (i < isNull.length) {
      if (!isNull(i)) out(i >>> 3) = (out(i >>> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Reads ceil(n/8) bitmap bytes from the cursor; returns per-row isNull. */
  def readValidity(c: Cursor, n: Int): Array[Boolean] = {
    val out = new Array[Boolean](n)
    val buf = c.buf
    val base = c.pos
    var i = 0
    while (i < n) { out(i) = (buf(base + (i >>> 3)) & (1 << (i & 7))) == 0; i += 1 }
    c.pos += (n + 7) / 8
    out
  }

  /** PLAIN strings: [offsets u32 x (n+1)][utf8 bytes]. */
  def encodePlainStrings(values: Array[Array[Byte]]): Array[Byte] = {
    val lens = new Array[Int](values.length)
    var total = 0
    var i = 0
    while (i < values.length) { lens(i) = values(i).length; total += lens(i); i += 1 }
    val head = 4 * (values.length + 1)
    val out = new Array[Byte](head + total)
    writeOffsets(out, lens)
    var p = head
    i = 0
    while (i < values.length) {
      System.arraycopy(values(i), 0, out, p, lens(i)); p += lens(i); i += 1
    }
    out
  }

  /** Strings are returned as copies; the cursor is left just past the
    * offsets (callers always consume whole pages, so the trailing position
    * is unused).
    */
  def decodePlainStrings(c: Cursor, numValues: Int): Array[Array[Byte]] = {
    val offsets = readOffsets(c, numValues)
    val out = new Array[Array[Byte]](numValues)
    val base = c.pos
    var i = 0
    while (i < numValues) {
      out(i) = java.util.Arrays.copyOfRange(c.buf, base + offsets(i), base + offsets(i + 1))
      i += 1
    }
    out
  }

  // ---- DICTIONARY strings: [dict_size u32]([len u32][bytes])* [indices RLE-int32]

  def encodeDictStrings(values: Array[Array[Byte]]): Array[Byte] = {
    val index = new BytesIndex
    val indices = new Array[Int](values.length)
    var i = 0
    while (i < values.length) { indices(i) = index.idOf(values(i)); i += 1 }
    val out = new Out()
    out.u32(index.size)
    i = 0
    while (i < index.size) {
      val e = index.entry(i)
      out.u32(e.length); out.raw(e)
      i += 1
    }
    out.raw(encodeRleInt(indices))
    out.toBytes
  }

  /** Distinct byte strings with dense ids in first-seen order: an
    * open-addressing table keyed by the bytes themselves, so a lookup
    * builds no `String` and boxes no id.
    */
  final class BytesIndex {
    private var slots = Array.fill(32)(-1) // id, -1 = empty; kept under half full
    private var entries = new Array[Array[Byte]](16)
    private var hashes = new Array[Int](16)
    private var n = 0

    def size: Int = n
    def entry(id: Int): Array[Byte] = entries(id)

    /** The id of `b`, added with the next id when absent. */
    def idOf(b: Array[Byte]): Int = {
      val h = java.util.Arrays.hashCode(b) * 0x9E3779B9
      var mask = slots.length - 1
      var i = (h ^ (h >>> 16)) & mask
      while (slots(i) >= 0) {
        val id = slots(i)
        if (hashes(id) == h && java.util.Arrays.equals(entries(id), b)) return id
        i = (i + 1) & mask
      }
      if (n == entries.length) {
        entries = java.util.Arrays.copyOf(entries, 2 * n)
        hashes = java.util.Arrays.copyOf(hashes, 2 * n)
      }
      entries(n) = b
      hashes(n) = h
      slots(i) = n
      n += 1
      if (2 * n > slots.length) {
        slots = Array.fill(2 * slots.length)(-1)
        mask = slots.length - 1
        var id = 0
        while (id < n) {
          var j = (hashes(id) ^ (hashes(id) >>> 16)) & mask
          while (slots(j) >= 0) j = (j + 1) & mask
          slots(j) = id
          id += 1
        }
      }
      n - 1
    }
  }

  /** Dictionary page as (entries, per-row ids) — the layout the vectorized
    * reader hands to Spark's dictionary-aware column vectors verbatim.
    */
  def decodeDictRaw(c: Cursor, numValues: Int): (Array[Array[Byte]], Array[Int]) = {
    val dictSize = c.u32()
    val dict = new Array[Array[Byte]](dictSize)
    var i = 0
    while (i < dictSize) { val len = c.u32(); dict(i) = c.bytes(len); i += 1 }
    (dict, decodeRleInt(c, numValues))
  }

  def decodeDictStrings(c: Cursor, numValues: Int): Array[Array[Byte]] = {
    val (dict, indices) = decodeDictRaw(c, numValues)
    val out = new Array[Array[Byte]](numValues)
    var i = 0
    while (i < numValues) { out(i) = dict(indices(i)); i += 1 }
    out
  }

  // ---- streaming numeric aggregation (no array materialization)
  //
  // The aggregate-pushdown path sweeps encoded pages directly: RLE pages
  // contribute in O(runs) (a run of length L adds L·v in one step), DELTA
  // pages keep only a running value, PLAIN pages sweep fixed-width bytes.
  // This is what lets SUM/MIN/MAX/COUNT run at decode speed or better
  // without building column vectors.

  /** Mutable (count,sum,min,max) accumulator for one column chunk. */
  final class NumAgg {
    var count: Long = 0L
    var sum: Long = 0L
    var min: Long = Long.MaxValue
    var max: Long = Long.MinValue
    @inline def add(v: Long): Unit = {
      count += 1; sum += v
      if (v < min) min = v
      if (v > max) max = v
    }
    @inline def addRun(v: Long, len: Long): Unit = {
      count += len; sum += v * len
      if (len > 0) {
        if (v < min) min = v
        if (v > max) max = v
      }
    }
  }

  def aggRleInt(c: Cursor, acc: NumAgg): Unit = {
    val runs = c.uvarint().toInt
    var r = 0
    while (r < runs) {
      val len = c.uvarint()
      acc.addRun(c.zz32().toLong, len)
      r += 1
    }
  }

  def aggRleLong(c: Cursor, acc: NumAgg): Unit = {
    val runs = c.uvarint().toInt
    var r = 0
    while (r < runs) {
      val len = c.uvarint()
      acc.addRun(c.zz64(), len)
      r += 1
    }
  }

  def aggDeltaInt(c: Cursor, numValues: Int, acc: NumAgg): Unit = {
    if (numValues == 0) return
    var v = c.i32()
    acc.add(v.toLong)
    val n = c.uvarint().toInt
    var i = 0
    while (i < n) { v += c.zz32(); acc.add(v.toLong); i += 1 }
  }

  def aggDeltaLong(c: Cursor, numValues: Int, acc: NumAgg): Unit = {
    if (numValues == 0) return
    var v = c.i64()
    acc.add(v)
    val n = c.uvarint().toInt
    var i = 0
    while (i < n) { v += c.zz64(); acc.add(v); i += 1 }
  }

  def aggPlainInt(c: Cursor, numValues: Int, acc: NumAgg): Unit = {
    var i = 0
    while (i < numValues) { acc.add(c.i32().toLong); i += 1 }
  }

  def aggPlainLong(c: Cursor, numValues: Int, acc: NumAgg): Unit = {
    var i = 0
    while (i < numValues) { acc.add(c.i64()); i += 1 }
  }

  /** Double twin of [[NumAgg]] for v2 TDouble chunks. */
  final class DblAgg {
    var count: Long = 0L
    var sum: Double = 0d
    var min: Double = Double.PositiveInfinity
    var max: Double = Double.NegativeInfinity
    @inline def add(v: Double): Unit = {
      count += 1; sum += v
      if (v < min) min = v
      if (v > max) max = v
    }
  }

  def aggPlainDouble(c: Cursor, numValues: Int, acc: DblAgg): Unit = {
    var i = 0
    while (i < numValues) { acc.add(java.lang.Double.longBitsToDouble(c.i64())); i += 1 }
  }
}
