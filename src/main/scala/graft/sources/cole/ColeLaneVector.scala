package graft.sources.cole

import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** Read-only Spark vector over one decoded COLE lane — how a batch
  * reaches Spark without a copy. Row `r` of the current batch reads lane
  * slot `sel(base + r)` through the row group's selection vector (claimed
  * filters, deletion vectors), slot `base + r` without one, and slot 0
  * of a constant (partition values, exists-defaults, absent columns).
  *
  * At most one value lane is set, as in [[ColumnData]]; `nulls` flags
  * NULL slots, and object getters return null for them. Strings and
  * binary read plain per-slot bytes, or dictionary `ids` into the
  * entries; a dictionary or constant string builds one `UTF8String` per
  * entry and reuses it for every row of the row group. Decimals read
  * the long lane (an INT lane too, Spark's layout for precision <= 9) or
  * the [hi,lo] int128 pairs of precision > 18.
  */
final class ColeLaneVector private (dt: DataType) extends ColumnVector(dt) {
  private var ints: Array[Int] = _
  private var longs: Array[Long] = _
  private var doubles: Array[Double] = _
  private var wides: Array[Long] = _
  private var floats: Array[Float] = _
  private var vecs: Array[Array[Float]] = _
  // per-slot strings/binary, or the dictionary entries `ids` point into
  private var bytes: Array[Array[Byte]] = _
  private var ids: Array[Int] = _
  private var utf8: Array[UTF8String] = _
  private var nulls: Array[Boolean] = _
  private var sel: Array[Int] = _
  private var constant = false
  private var base = 0
  private var rows = 0

  /** Point the vector at the batch of `n` rows starting at `start`. */
  def slice(start: Int, n: Int): Unit = { base = start; rows = n }

  @inline private def at(r: Int): Int =
    if (constant) 0 else if (sel == null) base + r else sel(base + r)

  @inline private def nullSlot(i: Int): Boolean = nulls != null && nulls(i)

  override def close(): Unit = ()

  override def isNullAt(r: Int): Boolean = nullSlot(at(r))

  override def numNulls(): Int =
    if (nulls == null) 0
    else {
      var c = 0
      var r = 0
      while (r < rows) { if (nulls(at(r))) c += 1; r += 1 }
      c
    }

  override def hasNull(): Boolean = numNulls() > 0

  override def getInt(r: Int): Int = {
    val i = at(r)
    if (ints != null) ints(i) else longs(i).toInt
  }

  override def getLong(r: Int): Long = {
    val i = at(r)
    if (longs != null) longs(i) else ints(i).toLong
  }

  override def getDouble(r: Int): Double = doubles(at(r))

  override def getFloat(r: Int): Float = floats(at(r))

  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal = {
    val i = at(r)
    if (nullSlot(i)) null
    else if (wides != null)
      Decimal(new java.math.BigDecimal(
        ColeFormat.wideToBigInteger(wides(2 * i), wides(2 * i + 1)), scale),
        precision, scale)
    else Decimal.createUnsafe(if (longs != null) longs(i) else ints(i).toLong,
      precision, scale)
  }

  override def getUTF8String(r: Int): UTF8String = {
    val i = at(r)
    if (nullSlot(i)) null
    else if (utf8 == null) UTF8String.fromBytes(bytes(i))
    else {
      val id = if (ids == null) i else ids(i)
      var u = utf8(id)
      if (u == null) { u = UTF8String.fromBytes(bytes(id)); utf8(id) = u }
      u
    }
  }

  override def getBinary(r: Int): Array[Byte] = {
    val i = at(r)
    if (nullSlot(i)) null else bytes(i)
  }

  override def getArray(r: Int): ColumnarArray = {
    val i = at(r)
    if (nullSlot(i)) null
    else {
      // a v1 vector chunk has no null flags: a missing slot reads empty
      val a = if (vecs(i) == null) Array.emptyFloatArray else vecs(i)
      val child = new ColeLaneVector(org.apache.spark.sql.types.FloatType)
      child.floats = a
      new ColumnarArray(child, 0, a.length)
    }
  }

  override def getBoolean(r: Int): Boolean = unsupported("boolean")
  override def getByte(r: Int): Byte = unsupported("byte")
  override def getShort(r: Int): Short = unsupported("short")
  override def getMap(r: Int): ColumnarMap = unsupported("map")
  override def getChild(ordinal: Int): ColumnVector = unsupported("struct")

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"COLE lanes carry no $what values")
}

object ColeLaneVector {

  /** A decoded chunk read through `sel` (null: every slot in order). */
  def lane(dt: DataType, cd: ColumnData, sel: Array[Int]): ColeLaneVector = {
    val v = new ColeLaneVector(dt)
    v.ints = cd.ints
    v.longs = cd.longs
    v.doubles = cd.doubles
    v.wides = cd.wides
    v.vecs = cd.vecs
    v.bytes = cd.strings
    v.nulls = cd.nulls
    v.sel = sel
    v
  }

  /** An all-DICTIONARY string chunk: per-row `ids` into `entries`. */
  def dictionary(dt: DataType, entries: Array[Array[Byte]], ids: Array[Int],
      sel: Array[Int]): ColeLaneVector = {
    val v = new ColeLaneVector(dt)
    v.bytes = entries
    v.ids = ids
    v.utf8 = new Array[UTF8String](entries.length)
    v.sel = sel
    v
  }

  /** The same Catalyst value on every row; null reads NULL. */
  def constant(dt: DataType, value: Any): ColeLaneVector = {
    val v = new ColeLaneVector(dt)
    v.constant = true
    value match {
      case null => v.nulls = Array(true)
      case d: Int => v.ints = Array(d)
      case d: Long => v.longs = Array(d)
      case d: Double => v.doubles = Array(d)
      case d: Decimal =>
        if (dt.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS)
          v.longs = Array(d.toUnscaledLong)
        else {
          val (hi, lo) = ColeFormat.wideFromBigInteger(d.toJavaBigDecimal.unscaledValue)
          v.wides = Array(hi, lo)
        }
      case d: UTF8String =>
        v.bytes = Array(d.getBytes)
        v.utf8 = Array(d)
      case b: Array[Byte] => v.bytes = Array(b)
    }
    v
  }
}
