package graft.sources.cole

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive multiset fingerprint of a row stream — the engine
  * side of no-op rewrite detection for row-level UPDATE/MERGE.
  *
  * A group-based ReplaceData rewrite classifies a file as "affected"
  * whenever the join/condition MATCHES, even when no assignment changes
  * any row (the standard idempotent-pipeline shape: a re-run MERGE whose
  * WHEN MATCHED condition excludes already-processed rows). Without
  * detection, every such file is rewritten byte-for-byte-equivalent but
  * physically new — write amplification plus file-count fragmentation on
  * every re-run. Detection = compare the rows READ from a candidate file
  * against the rows WRITTEN as its replacement; equality means the
  * original stays and the replacement is discarded.
  *
  * The comparison must be order-insensitive (a shuffle or join between
  * the group scan and the write can permute rows) and cheap (no second
  * I/O pass), so both sides fold each row into a commutative fingerprint
  * as the rows stream by: `count` plus three independent 64-bit
  * combinations (two seeded sums and an xor) of a per-row hash over the
  * DATA columns in name-sorted order. Equal fingerprints ⇒ equal row
  * multisets (modulo a ~2^-192 collision for non-adversarial data);
  * unequal ⇒ definitely different, rewrite proceeds. Misalignment
  * between scan slices and write tasks (an unexpected exchange) can only
  * produce MISMATCHES — detection then degrades to the global
  * whole-operation check, never to a wrong discard.
  */
object ColeRowHash {

  /** The canonical hash column order: every data column, name-sorted.
    * Both sides (scan projection and write schema) must agree on this
    * list or fingerprints are incomparable (the commit checks).
    */
  def hashableNames(schema: StructType): Seq[String] =
    schema.fieldNames.toSeq.filterNot(_ == ColeUtil.FileMetaCol).sorted

  // splitmix64 finalizer — the per-field and per-row avalanche
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val LittleEndian =
    java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN

  /** Fold `len` bytes at (`base`, `off`) in place — a byte array or a
    * `UTF8String`'s backing memory, with no copy. Words read big-endian,
    * so the hash does not depend on the host's byte order.
    */
  @inline private def foldBytes(seed: Long, base: AnyRef, off: Long, len: Int): Long = {
    var h = seed
    var i = 0
    // 8 bytes at a time, tail bytes one by one
    while (i + 8 <= len) {
      val w = Platform.getLong(base, off + i)
      h = mix(h ^ (if (LittleEndian) java.lang.Long.reverseBytes(w) else w))
      i += 8
    }
    while (i < len) { h = mix(h ^ (Platform.getByte(base, off + i) & 0xFFL)); i += 1 }
    mix(h ^ len)
  }

  @inline private def foldBytes(seed: Long, b: Array[Byte]): Long =
    foldBytes(seed, b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length)

  private val NullMarker = 0x6E756C6C5F763141L

  // per-field type tags: the hash of a cell is chosen once per field
  private final val TagInt = 0
  private final val TagLong = 1
  private final val TagDouble = 2
  private final val TagFloat = 3
  private final val TagString = 4
  private final val TagBinary = 5
  private final val TagDecimal = 6
  private final val TagWideDecimal = 7
  private final val TagFloatArray = 8

  private def tagOf(dt: DataType): Int = dt match {
    case IntegerType => TagInt
    case LongType | TimestampType | TimestampNTZType => TagLong
    case DoubleType => TagDouble
    case FloatType => TagFloat
    case StringType => TagString
    case BinaryType => TagBinary
    // scale is fixed by the schema, so the unscaled value is the full
    // identity; wide decimals fold their two's-complement bytes
    case dt: DecimalType =>
      if (dt.precision <= Decimal.MAX_LONG_DIGITS) TagDecimal else TagWideDecimal
    case ArrayType(FloatType, _) => TagFloatArray
    case other =>
      throw new IllegalArgumentException(s"no-op detection cannot hash type $other")
  }

  // doubleToLongBits canonicalizes NaN, so equal values hash equal
  @inline private def hashDouble(d: Double): Long =
    mix(java.lang.Double.doubleToLongBits(d))

  @inline private def hashFloat(f: Float): Long =
    mix(java.lang.Float.floatToIntBits(f).toLong)

  @inline private def hashString(s: UTF8String): Long =
    foldBytes(0x73747268L, s.getBaseObject, s.getBaseOffset, s.numBytes)

  @inline private def hashBinary(b: Array[Byte]): Long = foldBytes(0x62696E68L, b)

  private def hashWide(d: Decimal): Long =
    foldBytes(0x64656377L, d.toJavaBigDecimal.unscaledValue().toByteArray)

  private def hashFloats(a: ArrayData): Long = {
    var h = 0x61727266L
    var i = 0
    val n = a.numElements()
    while (i < n) {
      h = mix(h ^ java.lang.Float.floatToIntBits(a.getFloat(i)).toLong)
      i += 1
    }
    mix(h ^ n)
  }

  /** Streaming fingerprint accumulator over one side's row stream, fed
    * a row at a time ([[add]]) or a batch a column at a time
    * ([[addBatch]]); both fold the same per-row hash.
    * Not thread-safe — one instance per reader/writer task.
    */
  final class RowHasher(schema: StructType) {
    // name-sorted data-column ordinals, tags and decimal types
    // (FileMetaCol excluded)
    private val fields = schema.fields.zipWithIndex
      .filterNot(_._1.name == ColeUtil.FileMetaCol)
      .sortBy(_._1.name)
    private val ords: Array[Int] = fields.map(_._2)
    private val tags: Array[Int] = fields.map(f => tagOf(f._1.dataType))
    private val precisions: Array[Int] = fields.map(_._1.dataType match {
      case d: DecimalType => d.precision
      case _ => 0
    })
    private val scales: Array[Int] = fields.map(_._1.dataType match {
      case d: DecimalType => d.scale
      case _ => 0
    })
    // per-row hashes of the batch being folded
    private var rowHashes = new Array[Long](0)

    var count: Long = 0L
    var sum1: Long = 0L
    var sum2: Long = 0L
    var xor1: Long = 0L

    private def cell(row: InternalRow, f: Int): Long = {
      val ord = ords(f)
      if (row.isNullAt(ord)) NullMarker
      else (tags(f): @switch) match {
        case TagInt => mix(row.getInt(ord).toLong)
        case TagLong => mix(row.getLong(ord))
        case TagDouble => hashDouble(row.getDouble(ord))
        case TagFloat => hashFloat(row.getFloat(ord))
        case TagString => hashString(row.getUTF8String(ord))
        case TagBinary => hashBinary(row.getBinary(ord))
        case TagDecimal => mix(row.getDecimal(ord, precisions(f), scales(f)).toUnscaledLong)
        case TagWideDecimal => hashWide(row.getDecimal(ord, precisions(f), scales(f)))
        case _ => hashFloats(row.getArray(ord))
      }
    }

    private def cell(v: ColumnVector, r: Int, f: Int): Long =
      if (v.isNullAt(r)) NullMarker
      else (tags(f): @switch) match {
        case TagInt => mix(v.getInt(r).toLong)
        case TagLong => mix(v.getLong(r))
        case TagDouble => hashDouble(v.getDouble(r))
        case TagFloat => hashFloat(v.getFloat(r))
        case TagString => hashString(v.getUTF8String(r))
        case TagBinary => hashBinary(v.getBinary(r))
        case TagDecimal => mix(v.getDecimal(r, precisions(f), scales(f)).toUnscaledLong)
        case TagWideDecimal => hashWide(v.getDecimal(r, precisions(f), scales(f)))
        case _ => hashFloats(v.getArray(r))
      }

    @inline private def fold(h: Long): Unit = {
      count += 1
      sum1 += h
      sum2 += mix(h ^ 0xA5A5A5A5DEADBEEFL)
      xor1 ^= mix(h ^ 0x0F0F0F0F12345678L)
    }

    def add(row: InternalRow): Unit = {
      var h = 0L
      var f = 0
      while (f < ords.length) { h = mix(h ^ cell(row, f)); f += 1 }
      fold(h)
    }

    /** Every row of `batch`, one column at a time. */
    def addBatch(batch: ColumnarBatch): Unit = {
      val n = batch.numRows
      if (rowHashes.length < n) rowHashes = new Array[Long](n)
      val h = rowHashes
      java.util.Arrays.fill(h, 0, n, 0L)
      var f = 0
      while (f < ords.length) {
        val v = batch.column(ords(f))
        var r = 0
        while (r < n) { h(r) = mix(h(r) ^ cell(v, r, f)); r += 1 }
        f += 1
      }
      var r = 0
      while (r < n) { fold(h(r)); r += 1 }
    }
  }

  /** One side's fingerprint total — additive, so per-slice / per-task
    * fingerprints sum into per-file and whole-operation ones.
    */
  final case class Fp(count: Long, sum1: Long, sum2: Long, xor1: Long) {
    def +(o: Fp): Fp = Fp(count + o.count, sum1 + o.sum1, sum2 + o.sum2,
      xor1 ^ o.xor1)
  }
  object Fp {
    val zero: Fp = Fp(0L, 0L, 0L, 0L)
    def of(h: RowHasher): Fp = Fp(h.count, h.sum1, h.sum2, h.xor1)
  }

  /** Accumulator element: fingerprint of the rows one scan SLICE
    * (input partition) delivered. `idx` is the partition's position in
    * the planned array — the join key back to write-task partition ids.
    */
  final case class ScanSlice(idx: Int, fp: Fp)
}
