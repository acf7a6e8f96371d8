package graft.sources.cole

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.cole.ColeFormat._

private[cole] object ColeAggGuards {
  /** Decimal SUM pushdown accumulates UNSCALED values in an int64; a
    * silent wrap would return a plausible-looking wrong answer where
    * Spark's native decimal sum (p+10 digits) is right. O(1) emission
    * check: |sum| ≤ count · max(|min|,|max|), so if that bound cannot
    * exceed Long.MaxValue the accumulated sum is exact; otherwise the
    * partial must not answer (the message names the fix: smaller
    * partitions/row groups bound count). None = provably exact.
    * count·maxAbs overflowing int64 does not imply the sum did — signs
    * cancel — but at that magnitude exactness is unprovable, and a scan
    * that might be wrong must not answer.
    */
  def checkDecimalSumBound(count: Long, min: Long, max: Long): Option[String] = {
    val maxAbs = math.max(math.abs(math.max(min, -Long.MaxValue)),
      math.abs(math.max(max, -Long.MaxValue)))
    if (count <= 0 || maxAbs == 0 || count <= Long.MaxValue / maxAbs) None
    else Some(
      s"pushed DECIMAL SUM may exceed int64 in the unscaled domain " +
        s"($count values up to unscaled |$maxAbs|): reduce " +
        "spark.sql.files.maxPartitionBytes (or the writer rowGroupSize) " +
        "so each partial covers fewer rows, or aggregate without pushdown")
  }

  /** Wide twin: the int128 sum accumulator must provably fit both 128
    * bits (no silent lane wrap) and the partial's DecimalType(sumPrec, s)
    * — |sum| ≤ count · max(|min|,|max|) < 10^sumPrec covers both, since
    * 10^38 < 2^127. Exact O(1) BigInteger arithmetic at emission only.
    */
  def checkWideSumBound(count: Long, minHi: Long, minLo: Long,
      maxHi: Long, maxLo: Long, sumPrec: Int): Option[String] = {
    if (count <= 0) return None
    val mn = ColeFormat.wideToBigInteger(minHi, minLo).abs
    val mx = ColeFormat.wideToBigInteger(maxHi, maxLo).abs
    val bound = mn.max(mx).multiply(java.math.BigInteger.valueOf(count))
    if (bound.compareTo(java.math.BigInteger.TEN.pow(sumPrec)) < 0) None
    else Some(
      s"pushed wide-DECIMAL SUM may exceed DECIMAL($sumPrec) in the " +
        s"unscaled domain ($count values up to unscaled |${mn.max(mx)}|): " +
        "reduce spark.sql.files.maxPartitionBytes (or the writer " +
        "rowGroupSize) so each partial covers fewer rows, or aggregate " +
        "without pushdown")
  }
}

/** One pushed aggregate: kind ∈ {count_star, count, min, max, sum};
  * column is null for count_star. Resolved to a file column index at read
  * time (part files may order columns differently).
  */
final case class ColeAggSpec(kind: String, column: String)

/** One aggregated column's partial state: a primitive array per field,
  * indexed by group id (struct-of-arrays — no per-group objects). `cnt`
  * counts the column's non-null values: it answers COUNT(col) and turns
  * an all-NULL group's SUM/MIN/MAX into NULL, like Spark's own buffers.
  */
private[cole] abstract class ColeAggLane {
  var cnt: Array[Long] = new Array[Long](0)

  def grow(cap: Int): Unit = cnt = java.util.Arrays.copyOf(cnt, cap)

  /** Resets slot `g` to the identity of every field. */
  def init(g: Int): Unit = cnt(g) = 0L

  /** The evidence step for one chunk whose `present` non-null values all
    * belong to group `g`: footer stats, the SUMS tail, dictionary entries
    * or a streaming page sweep — the last two only when `reader` is
    * non-null. False when only a decode can answer.
    */
  def fromFooter(meta: FileMeta, rg: Int, ci: Int, present: Long, g: Int,
      reader: ColeFileReader): Boolean

  /** What [[add]] reads for chunk `ci` of row group `rg`. */
  def load(reader: ColeFileReader, rg: Int, ci: Int): ColumnData = reader.readChunk(rg, ci)

  /** Accumulates rows `sel(from until to)` (positions themselves when
    * `sel` is null) of a loaded chunk; `gids(i - from)` is row i's group.
    * Expanded arrays carry placeholder slots at null rows — the null flags
    * gate every accumulation (SQL aggregates skip NULL).
    */
  def add(cd: ColumnData, sel: Array[Int], gids: Array[Int], from: Int, to: Int): Unit

  /** SUM/MIN/MAX of a group holding at least one value; a provably
    * inexact sum throws when `strict`, else returns [[ColeAggLane.Declined]].
    */
  protected def valueOf(kind: String, g: Int, strict: Boolean): Any

  final def value(kind: String, g: Int, strict: Boolean): Any =
    if (kind == "count" || kind == "count_star") cnt(g)
    else if (cnt(g) == 0) null
    else valueOf(kind, g, strict)
}

private[cole] object ColeAggLane {
  /** A partial the fold must not emit (a sum bound it cannot prove). */
  object Declined

  private val Dense = ColumnData(null, null, null)

  def decline(err: Option[String], strict: Boolean): Option[Any] = err.map(msg =>
    if (strict) throw new ColeFormatException(msg) else Declined)

  def decimal(unscaled: java.math.BigInteger, p: Int, s: Int): Decimal =
    Decimal(new java.math.BigDecimal(unscaled, s), p, s)

  /** COUNT(*) (column index -1) and COUNT(col) of a column nothing else
    * reads: footer row and null counts, or validity bitmaps alone.
    */
  final class CountLane extends ColeAggLane {
    def fromFooter(meta: FileMeta, rg: Int, ci: Int, present: Long, g: Int,
        reader: ColeFileReader): Boolean = { cnt(g) += present; true }
    override def load(reader: ColeFileReader, rg: Int, ci: Int): ColumnData =
      if (ci < 0) Dense else ColumnData(null, null, null, nulls = reader.chunkValidity(rg, ci))
    def add(cd: ColumnData, sel: Array[Int], gids: Array[Int], from: Int, to: Int): Unit = {
      val nulls = cd.nulls
      var i = from
      while (i < to) {
        if (nulls == null || !nulls(if (sel == null) i else sel(i))) cnt(gids(i - from)) += 1
        i += 1
      }
    }
    protected def valueOf(kind: String, g: Int, strict: Boolean): Any =
      throw new IllegalStateException(s"count lane asked for $kind")
  }

  /** INT32 and int64-backed columns (BIGINT, timestamps, DECIMAL ≤ 18 in
    * the unscaled domain).
    */
  final class LongLane(t: ColeType, needSum: Boolean) extends ColeAggLane {
    var sum, min, max: Array[Long] = new Array[Long](0)
    override def grow(cap: Int): Unit = {
      super.grow(cap)
      sum = java.util.Arrays.copyOf(sum, cap)
      min = java.util.Arrays.copyOf(min, cap)
      max = java.util.Arrays.copyOf(max, cap)
    }
    override def init(g: Int): Unit = {
      super.init(g); sum(g) = 0L; min(g) = Long.MaxValue; max(g) = Long.MinValue
    }
    private def merge(g: Int, n: Long, s: Long, mn: Long, mx: Long): Unit = {
      cnt(g) += n; sum(g) += s
      if (mn < min(g)) min(g) = mn
      if (mx > max(g)) max(g) = mx
    }
    // page stats answer min/max; a sum also needs the v2 SUMS tail (wrapped
    // chunk sums — int64 addition is associative mod 2^64, so footer and
    // sweep agree bit for bit); any gap sweeps the encoded pages
    def fromFooter(meta: FileMeta, rg: Int, ci: Int, present: Long, g: Int,
        reader: ColeFileReader): Boolean = {
      if (present == 0) return true
      val chunkSum = meta.chunkSum(rg, ci)
      meta.statsMinMax(rg, ci) match {
        case Some((mn, mx)) if !needSum || chunkSum.isDefined =>
          merge(g, present, chunkSum.getOrElse(0L), mn, mx); true
        case _ if reader != null =>
          val a = reader.aggChunk(rg, ci)
          merge(g, a.count, a.sum, a.min, a.max); true
        case _ => false
      }
    }
    def add(cd: ColumnData, sel: Array[Int], gids: Array[Int], from: Int, to: Int): Unit = {
      val ints = cd.ints; val longs = cd.longs; val nulls = cd.nulls
      var i = from
      while (i < to) {
        val r = if (sel == null) i else sel(i)
        if (nulls == null || !nulls(r)) {
          val g = gids(i - from)
          val v = if (ints != null) ints(r).toLong else longs(r)
          cnt(g) += 1; sum(g) += v
          if (v < min(g)) min(g) = v
          if (v > max(g)) max(g) = v
        }
        i += 1
      }
    }
    protected def valueOf(kind: String, g: Int, strict: Boolean): Any = {
      val raw = kind match {
        case "sum" => sum(g)
        case "min" => min(g)
        case "max" => max(g)
      }
      t match {
        // decimal sweeps run in the unscaled domain; the partial row
        // re-wraps (sum carries +10 digits of headroom)
        case TDecimal(p, sc) if kind == "sum" =>
          decline(ColeAggGuards.checkDecimalSumBound(cnt(g), min(g), max(g)), strict)
            .getOrElse(Decimal.createUnsafe(raw, math.min(38, p + 10), sc))
        case TDecimal(p, sc) => Decimal.createUnsafe(raw, p, sc)
        case TInt32 if kind != "sum" => raw.toInt
        case _ => raw
      }
    }
  }

  /** v2 DOUBLE columns: typed page stats answer min/max; a sum sweeps the
    * PLAIN pages (float addition is order-sensitive — no footer sum).
    */
  final class DoubleLane(needSum: Boolean) extends ColeAggLane {
    var sum, min, max: Array[Double] = new Array[Double](0)
    override def grow(cap: Int): Unit = {
      super.grow(cap)
      sum = java.util.Arrays.copyOf(sum, cap)
      min = java.util.Arrays.copyOf(min, cap)
      max = java.util.Arrays.copyOf(max, cap)
    }
    override def init(g: Int): Unit = {
      super.init(g); sum(g) = 0d
      min(g) = Double.PositiveInfinity; max(g) = Double.NegativeInfinity
    }
    def fromFooter(meta: FileMeta, rg: Int, ci: Int, present: Long, g: Int,
        reader: ColeFileReader): Boolean = {
      if (present == 0) return true
      val stats = if (needSum) None else meta.statsMinMaxD(rg, ci)
      if (stats.isDefined) {
        val (mn, mx) = stats.get
        cnt(g) += present
        if (mn < min(g)) min(g) = mn
        if (mx > max(g)) max(g) = mx
        true
      } else if (reader != null) {
        val a = reader.aggChunkDouble(rg, ci)
        cnt(g) += a.count; sum(g) += a.sum
        if (a.min < min(g)) min(g) = a.min
        if (a.max > max(g)) max(g) = a.max
        true
      } else false
    }
    def add(cd: ColumnData, sel: Array[Int], gids: Array[Int], from: Int, to: Int): Unit = {
      val vals = cd.doubles; val nulls = cd.nulls
      var i = from
      while (i < to) {
        val r = if (sel == null) i else sel(i)
        if (nulls == null || !nulls(r)) {
          val g = gids(i - from)
          val v = vals(r)
          cnt(g) += 1; sum(g) += v
          if (v < min(g)) min(g) = v
          if (v > max(g)) max(g) = v
        }
        i += 1
      }
    }
    protected def valueOf(kind: String, g: Int, strict: Boolean): Any = kind match {
      case "sum" => sum(g)
      case "min" => min(g)
      case "max" => max(g)
    }
  }

  /** DECIMAL(19..38) columns: int128 [hi,lo] lane pairs per slot. The sum
    * carries unsigned-lo overflow into hi; a possible 128-bit wrap is
    * excluded at emission by [[ColeAggGuards.checkWideSumBound]].
    */
  final class WideLane(t: TDecimalWide, needSum: Boolean) extends ColeAggLane {
    var sum, min, max: Array[Long] = new Array[Long](0)
    override def grow(cap: Int): Unit = {
      super.grow(cap)
      sum = java.util.Arrays.copyOf(sum, 2 * cap)
      min = java.util.Arrays.copyOf(min, 2 * cap)
      max = java.util.Arrays.copyOf(max, 2 * cap)
    }
    override def init(g: Int): Unit = {
      super.init(g)
      sum(2 * g) = 0L; sum(2 * g + 1) = 0L
      min(2 * g) = Long.MaxValue; min(2 * g + 1) = -1L // +inf: largest int128
      max(2 * g) = Long.MinValue; max(2 * g + 1) = 0L // -inf: smallest int128
    }
    private def bound(g: Int, hi: Long, lo: Long): Unit = {
      if (cmp128(hi, lo, min(2 * g), min(2 * g + 1)) < 0) { min(2 * g) = hi; min(2 * g + 1) = lo }
      if (cmp128(hi, lo, max(2 * g), max(2 * g + 1)) > 0) { max(2 * g) = hi; max(2 * g + 1) = lo }
    }
    def fromFooter(meta: FileMeta, rg: Int, ci: Int, present: Long, g: Int,
        reader: ColeFileReader): Boolean = {
      if (present == 0) return true
      if (needSum) return false // int128 sums need the lane sweep
      meta.statsMinMaxW(rg, ci) match {
        case Some(((mnHi, mnLo), (mxHi, mxLo))) =>
          cnt(g) += present
          bound(g, mnHi, mnLo); bound(g, mxHi, mxLo)
          true
        case None => false
      }
    }
    def add(cd: ColumnData, sel: Array[Int], gids: Array[Int], from: Int, to: Int): Unit = {
      val w = cd.wides; val nulls = cd.nulls
      var i = from
      while (i < to) {
        val r = if (sel == null) i else sel(i)
        if (nulls == null || !nulls(r)) {
          val g = gids(i - from)
          val hi = w(2 * r); val lo = w(2 * r + 1)
          cnt(g) += 1
          val nl = sum(2 * g + 1) + lo
          if (java.lang.Long.compareUnsigned(nl, sum(2 * g + 1)) < 0) sum(2 * g) += 1
          sum(2 * g + 1) = nl
          sum(2 * g) += hi
          bound(g, hi, lo)
        }
        i += 1
      }
    }
    protected def valueOf(kind: String, g: Int, strict: Boolean): Any = kind match {
      // the final aggregate casts this partial back to DecimalType(p, s)
      // — guard against p, not p+10
      case "sum" =>
        decline(ColeAggGuards.checkWideSumBound(cnt(g), min(2 * g), min(2 * g + 1),
          max(2 * g), max(2 * g + 1), t.precision), strict).getOrElse(
          decimal(ColeFormat.wideToBigInteger(sum(2 * g), sum(2 * g + 1)),
            math.min(38, t.precision + 10), t.scale))
      case "min" =>
        decimal(ColeFormat.wideToBigInteger(min(2 * g), min(2 * g + 1)), t.precision, t.scale)
      case "max" =>
        decimal(ColeFormat.wideToBigInteger(max(2 * g), max(2 * g + 1)), t.precision, t.scale)
    }
  }

  /** STRING min/max in unsigned byte order — Spark's and DuckDB's binary
    * string collation, and the order of the footer's STRB bounds.
    */
  final class StringLane extends ColeAggLane {
    var min, max: Array[Array[Byte]] = new Array[Array[Byte]](0)
    override def grow(cap: Int): Unit = {
      super.grow(cap)
      min = java.util.Arrays.copyOf(min, cap)
      max = java.util.Arrays.copyOf(max, cap)
    }
    override def init(g: Int): Unit = { super.init(g); min(g) = null; max(g) = null }
    private def bound(g: Int, v: Array[Byte]): Unit = {
      if (min(g) == null || java.util.Arrays.compareUnsigned(v, min(g)) < 0) min(g) = v
      if (max(g) == null || java.util.Arrays.compareUnsigned(v, max(g)) > 0) max(g) = v
    }
    // the STRB tail's exact chunk bounds, else the dictionary's entry table
    // (every entry occurs in the chunk — the writer builds it from the
    // chunk's values), so low-cardinality chunks answer in O(distinct)
    def fromFooter(meta: FileMeta, rg: Int, ci: Int, present: Long, g: Int,
        reader: ColeFileReader): Boolean = {
      if (present == 0) return true
      val entries = meta.statsMinMaxS(rg, ci) match {
        case Some((lo, hi)) => Array(lo, hi)
        case None if reader != null =>
          val dict = reader.readStringChunkDict(rg, ci)
          if (dict == null) return false
          dict._1
        case None => return false
      }
      cnt(g) += present
      entries.foreach(bound(g, _))
      true
    }
    def add(cd: ColumnData, sel: Array[Int], gids: Array[Int], from: Int, to: Int): Unit = {
      val vals = cd.strings
      var i = from
      while (i < to) {
        val v = vals(if (sel == null) i else sel(i))
        if (v != null) { // expanded arrays: null slot = NULL row
          val g = gids(i - from)
          cnt(g) += 1
          bound(g, v)
        }
        i += 1
      }
    }
    protected def valueOf(kind: String, g: Int, strict: Boolean): Any =
      UTF8String.fromBytes(if (kind == "min") min(g) else max(g))
  }
}

/** The partial-aggregate kernel every COLE aggregate answer goes through:
  * the planning-time fold, the grouped and the ungrouped partition reader
  * and the empty-partition row. Lane 0 counts rows (COUNT(*)); every
  * aggregated column owns one more lane, typed by `typeOf` (null = no
  * file describes it, only possible with zero rows, so a count lane
  * stands in). Groups are dense ids into the lanes' slot arrays.
  */
private[cole] final class ColeAggKernel(aggs: Seq[ColeAggSpec], typeOf: String => ColeType) {

  val columns: Array[String] = (null +: aggs.flatMap(a => Option(a.column))).distinct.toArray

  val lanes: Array[ColeAggLane] = columns.map { c =>
    val kinds = aggs.collect { case ColeAggSpec(k, col) if col == c => k }
    if (c == null || kinds.forall(_ == "count")) new ColeAggLane.CountLane
    else typeOf(c) match {
      case null => new ColeAggLane.CountLane
      case TString => new ColeAggLane.StringLane
      case TDouble => new ColeAggLane.DoubleLane(kinds.contains("sum"))
      case w: TDecimalWide => new ColeAggLane.WideLane(w, kinds.contains("sum"))
      case t => new ColeAggLane.LongLane(t, kinds.contains("sum"))
    }
  }
  private val aggLane: Array[Int] = aggs.map(a => columns.indexOf(a.column)).toArray

  private var cap = 0
  var groups = 0

  def newGroup(): Int = {
    if (groups == cap) {
      cap = math.max(16, 2 * cap)
      lanes.foreach(_.grow(cap))
    }
    lanes.foreach(_.init(groups))
    groups += 1
    groups - 1
  }

  def clear(): Unit = groups = 0

  def rows(g: Int): Long = lanes(0).cnt(g)

  /** The evidence step for row group `rg` when all of its `numRows` rows
    * belong to group `g` (no claimed predicate, no deletion vector): each
    * lane answers from the cheapest source it can — footer counts, page
    * stats, the SUMS tail, dictionary entries, a streaming page sweep.
    * `colIdx` maps lanes to the file's columns (-1 for COUNT(*), which
    * needs no footer: a count-only partial opens no file). Returns the
    * lanes left for a decode; `reader` null (the planning-time fold)
    * leaves every lane that would need a read.
    */
  def fromFooter(meta: => FileMeta, colIdx: Array[Int], rg: Int, numRows: Long, g: Int,
      reader: => ColeFileReader): Array[Int] =
    lanes.indices.filterNot { l =>
      val ci = colIdx(l)
      if (ci < 0) lanes(l).fromFooter(null, rg, ci, numRows, g, null)
      else lanes(l).fromFooter(meta, rg, ci, numRows - meta.chunkNullCount(rg, ci), g, reader)
    }.toArray

  /** Group `g`'s partial values in `aggs` order, typed as the pushed
    * aggregate schema expects. A sum whose exactness the bound cannot
    * prove throws when `strict` and yields null otherwise.
    */
  def partial(g: Int, strict: Boolean): Array[Any] = {
    val out = new Array[Any](aggs.length)
    var a = 0
    while (a < out.length) {
      out(a) = lanes(aggLane(a)).value(aggs(a).kind, g, strict)
      if (out(a) == ColeAggLane.Declined) return null
      a += 1
    }
    out
  }
}

/** Plans an unfiltered, ungrouped, vector-free aggregate entirely from
  * the driver's cached footers: the kernel's evidence step runs over every
  * surviving row group with no reader, so counts come from row/null
  * counts, min/max from page stats and STRB bounds, SUM from the v2 SUMS
  * tail. The query then ships ONE task carrying the finished partials:
  * zero data files opened, zero pages decoded. None as soon as a row
  * group needs a read (double/wide sums, a pre-extension file, a chunk
  * without stats) or a decimal bound can't prove exactness — the
  * partitioned sweep, whose per-partition bounds are tighter, answers.
  */
private[graft] object ColeAggFold {
  /** Spec-visible: plans answered without scheduling a sweep. */
  val foldedPlans = new java.util.concurrent.atomic.AtomicLong(0)

  def tryFold(survivors: Seq[ColeMetaCache.FileInfo],
      aggs: Seq[ColeAggSpec]): Option[Array[Any]] = {
    val kernel = new ColeAggKernel(aggs, c => survivors.headOption.map(h =>
      h.meta.columns.find(_.name == c).get.colType).orNull)
    val g = kernel.newGroup()
    survivors.foreach { f =>
      val colIdx = kernel.columns.map(c =>
        if (c == null) -1 else f.meta.columns.indexWhere(_.name == c))
      f.meta.rowGroups.indices.foreach { rg =>
        if (kernel.fromFooter(f.meta, colIdx, rg, f.meta.rowGroups(rg).numRows, g,
            null).nonEmpty) return None
      }
    }
    Option(kernel.partial(g, strict = false))
  }
}

/** The single partition of a metadata-folded global aggregate: carries
  * the finished partial values computed at planning (Long/Int/Double/
  * Decimal/null — all serializable).
  */
final case class ColeFoldedAggPartition(values: Array[Any]) extends InputPartition

class ColeFoldedAggReader(part: ColeFoldedAggPartition)
    extends PartitionReader[InternalRow] {
  private var emitted = false
  override def next(): Boolean = !emitted
  override def get(): InternalRow = {
    emitted = true
    InternalRow.fromSeq(part.values.toIndexedSeq)
  }
  override def close(): Unit = ()
}

/** Scan produced when an aggregation is pushed: partitions are packed
  * row-group runs (same packing as the data scan). Ungrouped, each
  * partition emits ONE row of partial aggregate values computed from page
  * stats / streaming page sweeps; grouped, it emits one row per group
  * (bounded by the 64k-group flush). Output volume is O(partitions ×
  * groups) — at 100 TB that is the difference between shuffling 10^12
  * rows into a hash aggregate and shuffling one row per group per
  * ~128 MB slice.
  */
class ColeAggScan(path: String, conf: Configuration, groupCols: Seq[String],
    aggs: Seq[ColeAggSpec], schema: StructType,
    allPreds: Array[ColePredicate] = Array.empty,
    partCols: Set[String] = Set.empty,
    snapshot: Option[ColeSnapshot] = None)
    extends Scan with Batch {

  // Deliberately NOT SupportsReportPartitioning: the aggregate-pushdown
  // rewrite always interposes `Project [k AS group_col_N]` between this
  // scan and the final aggregate, and ProjectExec's alias-aware
  // partitioning propagation only rewrites Expression-based partitionings
  // (hash/range) — a reported KeyGroupedPartitioning would never reach the
  // aggregate. The exchange this leaves behind carries only the pushed
  // PARTIAL rows (≤ one per group per file), which at 100 TB is noise next
  // to the chunk sweeps the pushdown already avoided; the row scan's SPJ
  // report (ColeScan.outputPartitioning) covers the cases where shuffle
  // volume actually matters.

  private val hconf = new ColeHadoopConf(conf)

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = {
    val g = if (groupCols.isEmpty) ""
      else s", PushedGroupBy: [${groupCols.mkString(", ")}]"
    val f = if (allPreds.isEmpty) ""
      else s", AppliedFilters: [${allPreds.mkString(", ")}]"
    s"ColeAggScan path=$path, PushedAggregates: [${aggs.map(a =>
      s"${a.kind.toUpperCase}(${Option(a.column).getOrElse("*")})").mkString(", ")}]$g$f"
  }

  /** Planned once per listing, like the row scan: Spark plans every copy
    * of the scan's exec node. Live deletion vectors change without the
    * listing, so their plans are never kept.
    */
  private var planned: (Seq[(String, Long, Long)], Array[InputPartition]) = null

  override def planInputPartitions(): Array[InputPartition] = synchronized {
    val infos = snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf))
    val key = infos.map(i => (i.path, i.len, i.mtime))
    if (planned != null && planned._1 == key) planned._2.clone()
    else {
      val plan = ColePlan.plan(path, conf, infos, snapshot, allPreds)
      val parts = partitionsOf(plan)
      if (plan.sidecars.isEmpty) planned = (key, parts)
      parts.clone()
    }
  }

  private def partitionsOf(plan: ColePlan.Plan): Array[InputPartition] = {
    // metadata fold: an ungrouped aggregate whose surviving files evaluate
    // no predicate row by row and carry no deletion vector answers from
    // the footer cache alone — ONE task ships the finished partials and
    // no data file is ever opened (the v2 SUMS tail carries exact wrapped
    // chunk sums; counts and min/max were already metadata)
    if (groupCols.isEmpty && snapshot.forall(_.rgKeep.isEmpty) &&
        plan.files.forall(f => f.preds.isEmpty && f.deleted == null)) {
      val folded = ColeAggFold.tryFold(plan.files.map(_.info), aggs)
      if (folded.isDefined) {
        ColeAggFold.foldedPlans.incrementAndGet()
        return Array(ColeFoldedAggPartition(folded.get))
      }
    }
    plan.files.flatMap { f =>
      val meta = f.info.meta
      val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
      // partition group columns are per-file constants — they need no
      // chunk, so they never enter the projected column set
      val colIndices = (groupCols.filterNot(partCols.contains) ++
          aggs.flatMap(a => Option(a.column))).distinct
        .map(nameToIdx(_)).toArray
      // PHYSICAL row counts (the readers need them to build selections
      // over every stored row); the vector rides the partition and the
      // readers subtract it — same contract as the row scan
      val rgs = f.groups.toSeq.collect { case rgIdx if meta.rowGroups(rgIdx).numRows > 0 =>
        val rg = meta.rowGroups(rgIdx)
        (rgIdx, rg.numRows, colIndices.map(ci => rg.chunks(ci).totalSize).sum)
      }
      ColePack.pack(f.info.path, colIndices, rgs, ColePack.targetBytes, f.preds,
        f.info.partValues.toArray, deletedOf = f.deletedOf)
    }.toArray match {
      // a fully-pruned (or empty) table still needs ONE partial row for a
      // GLOBAL aggregate: Spark's rewritten final agg over zero partial
      // rows would turn COUNT into NULL instead of 0. The empty partition
      // emits (count=0, sum/min/max=NULL); grouped readers emit nothing.
      case empty if empty.isEmpty && groupCols.isEmpty =>
        // file path is never opened for an empty partition, so a table
        // directory with ZERO .col files (external schema) is covered too
        Array[InputPartition](ColeInputPartition(
          plan.infos.headOption.map(_.path).getOrElse(path),
          Array.empty, Array.empty, Array.empty))
      case parts => parts.map(p => p: InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ColeAggReaderFactory(groupCols, aggs, hconf, schema, partCols)
}

class ColeAggReaderFactory(groupCols: Seq[String], aggs: Seq[ColeAggSpec],
    hconf: ColeHadoopConf, aggSchema: StructType, partCols: Set[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case f: ColeFoldedAggPartition => new ColeFoldedAggReader(f)
      case p: ColeInputPartition =>
        new ColeAggReader(p, groupCols, aggs, hconf.value, aggSchema, partCols)
    }
}

/** Partial aggregation inside the source, one row group at a time: every
  * selected row gets a group id, then each aggregated column accumulates
  * into its [[ColeAggKernel]] lane over the whole slice. Group ids come
  * from one of three sources:
  *   - one group for the partition, when there are no group keys or every
  *     key is a partition constant — such a row group with no claimed
  *     predicate and no deletion vector first takes the kernel's evidence
  *     step, and only the lanes it leaves decode chunks;
  *   - the chunk-local dictionary id, for a single null-free all-DICT
  *     string key (no per-row string materialization);
  *   - a key→id hash map, for every other key shape.
  * The table is flushed past 64k groups, so key cardinality never exceeds
  * the memory of one flush window — pathological keys just emit more
  * partial rows for Spark's final aggregate to merge. An ungrouped
  * partition always emits its one row (count 0, NULL values when nothing
  * survives: Spark's rewritten final aggregate needs it).
  */
class ColeAggReader(part: ColeInputPartition, groupCols: Seq[String],
    aggs: Seq[ColeAggSpec], conf: Configuration, aggSchema: StructType,
    partCols: Set[String]) extends PartitionReader[InternalRow] {

  private val FlushGroups = 1 << 16
  // row groups are consumed in SliceRows slices with a flush check between
  // slices, so the group table is bounded by FlushGroups + SliceRows no
  // matter how large a writer-configured rowGroupSize made the row group
  private val SliceRows = 8192

  // lazy: a count-only partial over partition-constant keys answers from
  // the planner-provided row counts and never opens the data file
  private var readerOpened = false
  private lazy val reader = {
    readerOpened = true
    new ColeFileReader(part.file, conf)
  }
  private lazy val meta = reader.meta
  private lazy val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap

  /** Per group column: its partition constant from the file's directory,
    * typed by the agg schema (group fields lead it positionally), or
    * null for a column read from chunks.
    */
  private val consts: Array[Any] = groupCols.zipWithIndex.map { case (g, gi) =>
    if (!partCols.contains(g)) null
    else {
      val raw = part.partValues.collectFirst { case (k, v) if k == g => v }
        .getOrElse(throw new IllegalStateException(
          s"missing partition value for '$g' in ${part.file}"))
      aggSchema.fields(gi).dataType match {
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case _ => UTF8String.fromString(raw)
      }
    }
  }.toArray
  private val fileKeys: Array[String] = groupCols.filterNot(partCols.contains).toArray
  private val oneGroup = fileKeys.isEmpty

  private val kernel = new ColeAggKernel(aggs, c =>
    if (part.rowGroups.isEmpty) null else meta.columns(nameToIdx(c)).colType)
  private lazy val laneCols: Array[Int] =
    kernel.columns.map(c => if (c == null) -1 else nameToIdx(c))
  private lazy val keyCols: Array[Int] = fileKeys.map(nameToIdx)

  // file key → dense group id, and back (the value itself for one key
  // column, a Seq for several); emission runs in first-seen order
  private val keyIds = mutable.HashMap.empty[Any, Int]
  private val keys = mutable.ArrayBuffer.empty[Any]
  if (oneGroup) kernel.newGroup()

  private val out = mutable.Queue.empty[InternalRow]
  private var rgPos = 0
  private var done = false

  // ---- the current row group's decoded state
  private var active = false
  private var cursor = 0
  private var end = 0
  private var sel: Array[Int] = null
  private var pending: Array[Int] = null // lanes that accumulate from chunks
  private var chunks: Array[ColumnData] = null // parallel to `pending`
  private var keyChunks: Array[ColumnData] = null
  private var dictEntries: Array[Array[Byte]] = null
  private var dictIds: Array[Int] = null
  private var dictGid: Array[Int] = null // dict id → group id, -1 = unseen
  private val gids = new Array[Int](SliceRows) // all zero for one group

  private def startRowGroup(pos: Int): Unit = {
    val rg = part.rowGroups(pos)
    val n = part.rowCounts(pos)
    val deleted = if (part.deleted == null) null else part.deleted(pos)
    if (oneGroup && part.preds.isEmpty && (deleted == null || deleted.isEmpty)) {
      // footer counts and stats describe PHYSICAL rows, so only a row
      // group with no predicate and no deletions may answer from them
      sel = null
      end = n
      pending = kernel.fromFooter(meta, laneCols, rg, n, 0, reader)
      if (pending.isEmpty) return
    } else {
      // claimed filters: the selection vector decides which rows
      // accumulate; the row group's deleted ordinals subtract from it
      val selP = if (part.preds.isEmpty) null
        else ColePredicate.buildSelection(reader, rg, n, nameToIdx, part.preds)
      sel = ColeDv.applyTo(selP, deleted, n)
      end = if (sel == null) n else sel.length
      if (end == 0) return
      pending = laneCols.indices.toArray
    }
    chunks = pending.map(l => kernel.lanes(l).load(reader, rg, laneCols(l)))
    if (!oneGroup) {
      val dict = if (keyCols.length == 1) reader.readStringChunkDict(rg, keyCols(0)) else null
      if (dict != null) {
        dictEntries = dict._1
        dictIds = dict._2
        dictGid = Array.fill(dictEntries.length)(-1)
      } else keyChunks = keyCols.map(reader.readChunk(rg, _))
    }
    cursor = 0
    active = true
  }

  private def groupOf(key: Any): Int =
    keyIds.getOrElseUpdate(key, { keys += key; kernel.newGroup() })

  private def keyAt(cd: ColumnData, r: Int): Any =
    if (cd.nulls != null && cd.nulls(r)) null // NULL group key
    else if (cd.ints != null) cd.ints(r)
    else if (cd.longs != null) cd.longs(r)
    else if (cd.doubles != null) cd.doubles(r)
    else UTF8String.fromBytes(cd.strings(r))

  private def assignGroups(from: Int, to: Int): Unit = {
    var i = from
    while (i < to) {
      val r = if (sel == null) i else sel(i)
      gids(i - from) =
        if (dictIds != null) {
          val id = dictIds(r)
          if (dictGid(id) < 0) dictGid(id) = groupOf(UTF8String.fromBytes(dictEntries(id)))
          dictGid(id)
        } else if (keyChunks.length == 1) groupOf(keyAt(keyChunks(0), r))
        else groupOf(keyChunks.toSeq.map(keyAt(_, r)))
      i += 1
    }
  }

  private def processSlice(): Unit = {
    val to = math.min(cursor + SliceRows, end)
    if (!oneGroup) assignGroups(cursor, to)
    var p = 0
    while (p < pending.length) {
      kernel.lanes(pending(p)).add(chunks(p), sel, gids, cursor, to)
      p += 1
    }
    cursor = to
    if (cursor >= end) {
      active = false
      sel = null; chunks = null; keyChunks = null
      dictEntries = null; dictIds = null; dictGid = null
    }
  }

  private def flush(): Unit = {
    var g = 0
    while (g < kernel.groups) {
      // constant keys emit only groups that saw a row; no keys, always
      if (groupCols.isEmpty || kernel.rows(g) > 0) {
        val fileKey = (if (oneGroup) Nil
          else if (fileKeys.length == 1) Seq(keys(g))
          else keys(g).asInstanceOf[Seq[Any]]).iterator
        val key = groupCols.indices.map(gi =>
          if (partCols.contains(groupCols(gi))) consts(gi) else fileKey.next())
        out.enqueue(InternalRow.fromSeq(key ++ kernel.partial(g, strict = true)))
      }
      g += 1
    }
    kernel.clear()
    keyIds.clear()
    keys.clear()
    // a mid-row-group flush: the chunk's ids must re-resolve their groups
    if (dictGid != null) java.util.Arrays.fill(dictGid, -1)
  }

  override def next(): Boolean = {
    while (out.isEmpty && !done) {
      if (active) {
        processSlice()
        if (kernel.groups > FlushGroups) flush()
      } else if (rgPos < part.rowGroups.length) {
        startRowGroup(rgPos)
        rgPos += 1
      } else {
        flush()
        done = true
      }
    }
    out.nonEmpty
  }

  override def get(): InternalRow = out.dequeue()

  override def close(): Unit = if (readerOpened) reader.close()
}
