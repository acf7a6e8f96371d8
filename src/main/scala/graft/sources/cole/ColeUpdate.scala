package graft.sources.cole

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, BindReferences, Expression, GenericInternalRow, If, JoinedRow, LeafExpression, Literal, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionOperation, ReplaceData, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, LeafV2CommandExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.cole.ColeFormat._

/** Native copy-on-write UPDATE: an eligible `UPDATE t SET … WHERE …` on a
  * copy-on-write COLE table runs on the [[ColeRewrite]] engine with a
  * patch transform instead of Spark's ReplaceData pipeline (a group-filter
  * subquery job, then a rewrite job that projects every row of every
  * candidate file into an `UnsafeRow`, buffers it in a writer and
  * fingerprints both sides to detect no-ops). Here the statement is one
  * job with no shuffle: the assignments evaluate over the selected rows
  * only, row groups with no changed value splice their stored bytes, and
  * a file whose patched values all equal the originals stays
  * byte-identical — no-op detection is exact and free.
  *
  * Eligible when, on the plan Spark has already aligned and optimized:
  *   - the WHERE converts to [[ColePredicate]]s under the rules of
  *     [[ColeTable.canDeleteWhere]] (no WHERE at all selects every row);
  *   - every assignment is deterministic, subquery-free and reads table
  *     columns only;
  *   - no assigned column is a partition, bucket, bucket-derivation or
  *     temporal key (those rows would move between files);
  *   - every live file stores every table column in the table's own
  *     lane, or serves it from its directory (no renamed, widened,
  *     lane-mixed or missing column, and no partition layout
  *     mid-evolution);
  *   - the table is copy-on-write, not a clone, and the statement writes
  *     no branch.
  * Everything else keeps the ReplaceData path unchanged.
  */
object ColeUpdate {

  /** The native exec for `rd`, or None to keep Spark's ReplaceData. */
  def plan(rd: ReplaceData, op: ColeRowLevelOperation): Option[ColeUpdateExec] = {
    val (attrs, table) = ColeNativeDml.relation(rd, op, RowLevelOperation.Command.UPDATE)
      .getOrElse(return None)
    val projected = (ColeNativeDml.unwrap(rd.query) match {
      case p: Project => p
      case _ => return None
    }).projectList.map(e => e.name -> e).toMap
    val cond = rd.condition
    val always = cond == Literal.TrueLiteral
    val filters: Array[Filter] =
      if (always) Array.empty
      else ColeNativeDml.conjuncts(cond).map(c =>
        org.apache.spark.sql.GraftBridge.translateFilter(c).getOrElse(return None))
        .toArray
    // Spark projects every column as `if (cond) assigned else column`;
    // the optimizer folds an unassigned (or self-assigned) one to the
    // column itself and an always-true condition to the bare value
    val assigned: Seq[(Attribute, Expression)] = attrs.flatMap { a =>
      val e = projected.getOrElse(a.name, return None) match {
        case Alias(child, _) => child
        case other => other
      }
      e match {
        case v: Attribute if v.exprId == a.exprId => None
        case If(c, _, v: Attribute) if v.exprId == a.exprId &&
          c.semanticEquals(cond) => Some(a -> e)
        case _ if always => Some(a -> e)
        case _ => return None
      }
    }
    if (!assigned.forall { case (_, e) => ColeNativeDml.pure(e, AttributeSet(attrs)) } ||
        !ColeNativeDml.fits(table, attrs, op, filters, assigned.map(_._1)))
      return None
    Some(ColeUpdateExec(op.path, filters, attrs, assigned))
  }
}

/** What the native UPDATE and MERGE share: the table a statement rewrites
  * in place, and the checks that it can.
  */
private[cole] object ColeNativeDml {

  /** The COLE table behind `rd` and its columns, when `rd` is a
    * copy-on-write `command` on main.
    */
  def relation(rd: ReplaceData, op: ColeRowLevelOperation,
      command: RowLevelOperation.Command): Option[(Seq[Attribute], ColeTable)] =
    if (op.command() != command || op.branch.isDefined ||
        ColeDv.vectorMode(op.path, op.conf)) None
    else rd.originalTable match {
      case r: DataSourceV2Relation => r.table match {
        case t: ColeTable => Some((r.output, t))
        case _ => None
      }
      case _ => None
    }

  /** The rewrite's query without the write's required distribution and
    * ordering (bucketed and temporal layouts wrap it).
    */
  def unwrap(q: LogicalPlan): LogicalPlan = q match {
    case s: Sort => unwrap(s.child)
    case r: RepartitionOperation => unwrap(r.child)
    case other => other
  }

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Deterministic, subquery-free and reading only `columns`. */
  def pure(e: Expression, columns: AttributeSet): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) && e.references.subsetOf(columns)

  /** Whether [[ColeRewrite]] can run a statement that classifies files by
    * `filters` and writes `assigned` in place:
    *   - the filters convert to [[ColePredicate]]s under the rules of
    *     [[ColeTable.rewritesNatively]] (not a clone, no renamed or
    *     lane-mixed predicate column);
    *   - no assigned column is a partition, bucket, bucket-derivation or
    *     temporal key (those rows would move between files);
    *   - every column has a COLE lane, and every live file stores it in
    *     that lane or serves it from its directory (no renamed, widened,
    *     lane-mixed or missing column, and no partition layout
    *     mid-evolution: a rewritten file keeps its directory, while
    *     ReplaceData's replacements adopt the active spec).
    */
  def fits(table: ColeTable, attrs: Seq[Attribute], op: ColeRowLevelOperation,
      filters: Array[Filter], assigned: Seq[Attribute]): Boolean = {
    val path = op.path
    val conf = op.conf
    lazy val keys: Set[String] = op.partCols.toSet ++
      ColePartEvolve.evolvedCols(path, conf) ++
      ColeBucket.readHistory(path, conf).flatMap(era =>
        era.cols ++ era.derive.toSeq.flatMap { case (s, cs) => s +: cs }) ++
      ColeBucket.readDerivation(path, conf).toSeq.flatMap { case (s, cs) => s +: cs } ++
      ColeTemporal.readSpecs(path, conf).map(_.src)
    lazy val lanes = try Some(ColeUtil.toColeColumns(DataTypeUtils.fromAttributes(attrs)))
      catch { case _: IllegalArgumentException => None }
    lazy val infos = ColeMetaCache.infos(path, conf)
    lazy val servesAll = lanes.exists(ls => infos.forall { i =>
      i.renamed.isEmpty && attrs.zip(ls).forall { case (a, c) =>
        i.partValues.exists(_._1 == a.name) ||
          i.meta.columns.exists(m => m.name == a.name && m.colType == c.colType)
      }
    })
    table.rewritesNatively(filters) && !assigned.exists(a => keys.contains(a.name)) &&
      servesAll && ColePartEvolve.dualCols(infos).isEmpty
  }
}

/** A row-level statement the connector runs itself on [[ColeRewrite]]
  * instead of Spark's ReplaceData, planned by [[ColeDmlRetryStrategy]] as
  * the child of [[ColeDmlRetryExec]], which calls [[attempt]] once per try:
  * each try re-classifies from a fresh listing. Reports its work through
  * SQL metrics.
  */
trait ColeNativeDmlExec extends LeafV2CommandExec {

  /** One try of the statement. */
  def attempt(): ColeRewrite.Stats

  override def output: Seq[Attribute] = Nil

  override protected def run(): Seq[InternalRow] = { attempt(); Nil }

  /** The statement's SQL metrics: the rewrite's, plus `extra` (name →
    * description).
    */
  protected def rewriteMetrics(extra: (String, String)*): Map[String, SQLMetric] =
    (Seq("filesRewritten" -> "files rewritten", "filesUntouched" -> "files untouched",
      "rowGroupsSpliced" -> "row groups spliced", "rowsUpdated" -> "rows updated") ++ extra)
      .map { case (k, d) => k -> SQLMetrics.createMetric(sparkContext, d) }.toMap

  /** Publishes what one try did. */
  protected def report(st: ColeRewrite.Stats): Unit = {
    metrics("filesRewritten").set(st.filesRewritten.toLong)
    metrics("filesUntouched").set(st.filesUntouched.toLong)
    metrics("rowGroupsSpliced").set(st.rowGroupsSpliced)
    metrics("rowsUpdated").set(st.rowsMatched)
    metrics.get("rowsInserted").foreach(_.set(st.rowsInserted))
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
  }
}

/** Physical UPDATE on the [[ColeRewrite]] engine. */
case class ColeUpdateExec(path: String, filters: Array[Filter], attrs: Seq[Attribute],
    assignments: Seq[(Attribute, Expression)]) extends ColeNativeDmlExec {

  override lazy val metrics: Map[String, SQLMetric] = rewriteMetrics()

  override def simpleString(maxFields: Int): String =
    s"ColeUpdate $path SET " +
      assignments.map { case (a, e) => s"${a.name} = ${e.sql}" }.mkString(", ") +
      s" WHERE [${filters.mkString(", ")}]"

  override def attempt(): ColeRewrite.Stats = {
    val conf = ColeIO.driverConf()
    val plan = ColeRewrite.classify(path, filters.flatMap(ColePredicate.fromFilter), conf)
    val st =
      if (plan.isEmpty) plan.untouched
      else {
        val schema = DataTypeUtils.fromAttributes(attrs)
        ColeRewrite.rewrite(session, path, plan, conf, ColeUpdatePatch(schema,
          ColeUpdatePatch.bind(assignments, attrs),
          // CHECK constraints hold for the updated rows, with the message
          // the ReplaceData rewrite gives
          ColeChecks.forWrite(path, conf, schema)))
      }
    report(st)
    st
  }
}

object ColeUpdatePatch {
  /** Assignments by table ordinal, bound to the table row followed by the
    * fields of `after` (a MERGE's source row).
    */
  def bind(assignments: Seq[(Attribute, Expression)], attrs: Seq[Attribute],
      after: Seq[Attribute] = Nil): Array[(Int, Expression)] =
    assignments.map { case (a, e) =>
      (attrs.indexWhere(_.exprId == a.exprId),
        ColeParam.lift(BindReferences.bindReference(e, attrs ++ after)))
    }.toArray
}

/** A constant the compiled projection reads from its references instead
  * of inlining. Generated code inlines primitive literals, so UPDATEs that
  * differ only in their constants (`SET v = v + 37 WHERE k < 1500`, then
  * `+ 52 … < 3000`) would each compile a projection; with the constants
  * lifted they share one from Spark's code cache.
  */
private[cole] final case class ColeParam(value: Any, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
}

private[cole] object ColeParam {
  def lift(e: Expression): Expression = e.transform {
    case Literal(v, t) if v != null && CodeGenerator.isPrimitiveType(t) => ColeParam(v, t)
  }
}

/** The UPDATE and MERGE transform: per row group, the assignments
  * evaluate over the selected rows through zero-copy lane views; a lane
  * whose values change is copied and patched, every other lane stays the
  * reader's. Doubles compare by `doubleToLongBits`, as [[ColeRowHash]]
  * does. A MERGE patches only the rows whose key its `source` holds, each
  * with its source row joined after the table row.
  *
  * @param assigns table ordinal → assignment bound to the table row (and
  *                the source row, for a MERGE)
  */
final case class ColeUpdatePatch(schema: StructType,
    assigns: Array[(Int, Expression)], checks: Array[CompiledCheck],
    source: ColeMergeSource = null)
    extends ColeRewrite.PatchRows {

  override def op: String = if (source == null) "update" else "merge"

  override def forFile(meta: FileMeta, partValues: Seq[(String, String)])
      : ColeRewrite.RowGroupPatch = new ColeRewrite.RowGroupPatch {
    private val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
    // per table column: its file column, or -1 when the directory serves it
    private val src: Array[Int] = schema.fieldNames.map(nameToIdx.getOrElse(_, -1))
    private val referenced: Set[Int] =
      if (checks.nonEmpty) schema.indices.toSet
      else assigns.flatMap(_._2.collect {
        case b: org.apache.spark.sql.catalyst.expressions.BoundReference => b.ordinal
      }).toSet ++ Option(source).toSeq.flatMap(_.keys)
    private val constants: Array[ColumnVector] = Array.tabulate(schema.length) { i =>
      val f = schema.fields(i)
      if (src(i) >= 0 && referenced(i)) null
      else if (src(i) >= 0) ColeLaneVector.constant(f.dataType, null) // never read
      else {
        val raw = partValues.collectFirst { case (k, v) if k == f.name => v }
          .getOrElse(throw new IllegalStateException(
            s"column '${f.name}' is neither stored in nor served for ${meta.columns}"))
        ColeLaneVector.constant(f.dataType, f.dataType match {
          case IntegerType => raw.toInt
          case LongType => raw.toLong
          case _ => UTF8String.fromString(raw)
        })
      }
    }
    private val proj = UnsafeProjection.create(assigns.map(_._2).toSeq)
    private val types: Array[ColeType] = assigns.map { case (i, _) =>
      meta.columns(src(i)).colType }
    private val keyTypes: Array[DataType] =
      if (source == null) null else source.keys.map(schema.fields(_).dataType)
    private val joined = new JoinedRow
    private val hits = new java.util.BitSet
    private var matched = 0L

    override def rowsMatched: Long = if (source == null) -1L else matched
    override def sourceMatched: Array[Int] = hits.stream().toArray

    override def apply(reader: ColeFileReader, rgIdx: Int,
        sel: Array[Int]): Map[Int, ColumnData] = {
      val numRows = meta.rowGroups(rgIdx).numRows
      val batch = new ColumnarBatch(Array.tabulate[ColumnVector](schema.length) { i =>
        if (constants(i) != null) constants(i)
        else ColeLaneVector.lane(schema.fields(i).dataType,
          reader.readChunk(rgIdx, src(i)), sel)
      }, sel.length)
      val originals = assigns.map { case (i, _) => reader.readChunk(rgIdx, src(i)) }
      val patched = new Array[ColumnData](assigns.length)
      val post = if (checks.isEmpty) null else new GenericInternalRow(schema.length)
      // the assignments over row `r` of the group, read through `in`
      // (`row` joins a MERGE's source row after it)
      def patchRow(in: InternalRow, row: InternalRow, r: Int): Unit = {
        val out = proj(row)
        var k = 0
        while (k < assigns.length) {
          val orig = originals(k)
          if (differs(out, k, types(k), orig, r)) {
            if (patched(k) == null) patched(k) = copyOf(orig, numRows)
            set(patched(k), r, out, k, types(k), schema(assigns(k)._1).name)
          }
          k += 1
        }
        if (post != null) {
          var i = 0
          while (i < schema.length) {
            post.update(i, in.get(i, schema.fields(i).dataType))
            i += 1
          }
          k = 0
          while (k < assigns.length) {
            post.update(assigns(k)._1, out.get(k, schema.fields(assigns(k)._1).dataType))
            k += 1
          }
          checks.foreach(_.validate(post, schema))
        }
      }
      var j = 0
      while (j < sel.length) {
        val in = batch.getRow(j)
        if (source == null) patchRow(in, in, sel(j))
        else {
          val s = source.probe(in, keyTypes)
          if (s >= 0) {
            hits.set(s)
            matched += 1
            patchRow(in, joined(in, source.rows(s)), sel(j))
          }
        }
        j += 1
      }
      if (patched.forall(_ == null)) null
      else assigns.indices.collect {
        case k if patched(k) != null => src(assigns(k)._1) -> patched(k)
      }.toMap
    }
  }

  private def isNull(cd: ColumnData, r: Int): Boolean = cd.nulls != null && cd.nulls(r)

  private def differs(out: InternalRow, k: Int, t: ColeType, cd: ColumnData,
      r: Int): Boolean =
    if (out.isNullAt(k) || isNull(cd, r)) out.isNullAt(k) != isNull(cd, r)
    else t match {
      case TInt32 => out.getInt(k) != cd.ints(r)
      case TInt64 | TTimestamp | TTimestampNtz => out.getLong(k) != cd.longs(r)
      case TDecimal(p, s) => out.getDecimal(k, p, s).toUnscaledLong != cd.longs(r)
      case TDecimalWide(p, s) =>
        val (hi, lo) = wideOf(out, k, p, s)
        hi != cd.wides(2 * r) || lo != cd.wides(2 * r + 1)
      case TDouble => java.lang.Double.doubleToLongBits(out.getDouble(k)) !=
        java.lang.Double.doubleToLongBits(cd.doubles(r))
      case TString =>
        val u = out.getUTF8String(k)
        val old = cd.strings(r)
        u.numBytes != old.length || u != UTF8String.fromBytes(old)
      case TBinary => !java.util.Arrays.equals(out.getBinary(k), cd.strings(r))
      case TFloatVec => !java.util.Arrays.equals(out.getArray(k).toFloatArray(),
        if (cd.vecs(r) == null) Array.emptyFloatArray else cd.vecs(r))
    }

  private def wideOf(out: InternalRow, k: Int, p: Int, s: Int): (Long, Long) =
    ColeFormat.wideFromBigInteger(out.getDecimal(k, p, s).toJavaBigDecimal.unscaledValue())

  /** Writes row `r` of a copied chunk from output field `k`. */
  private def set(cd: ColumnData, r: Int, out: InternalRow, k: Int, t: ColeType,
      name: String): Unit =
    if (out.isNullAt(k)) cd.nulls(r) = true
    else {
      if (cd.nulls != null) cd.nulls(r) = false
      t match {
        case TInt32 => cd.ints(r) = out.getInt(k)
        case TInt64 | TTimestamp | TTimestampNtz => cd.longs(r) = out.getLong(k)
        case TDecimal(p, s) => cd.longs(r) = out.getDecimal(k, p, s).toUnscaledLong
        case TDecimalWide(p, s) =>
          val (hi, lo) = wideOf(out, k, p, s)
          cd.wides(2 * r) = hi
          cd.wides(2 * r + 1) = lo
        case TDouble => cd.doubles(r) = out.getDouble(k)
        case TString => cd.strings(r) = out.getUTF8String(k).getBytes
        case TBinary => cd.strings(r) = out.getBinary(k)
        case TFloatVec =>
          val a = out.getArray(k)
          // a null ELEMENT has no float representation (as the writer)
          if ((0 until a.numElements()).exists(a.isNullAt))
            throw new ColeFormatException(
              s"FLOAT_VECTOR column '$name' has a null element; " +
                "COLE vectors are dense (make the whole row NULL instead)")
          cd.vecs(r) = a.toFloatArray()
      }
    }

  /** A private copy of a shared chunk, with null flags ready to set. */
  private def copyOf(cd: ColumnData, numRows: Int): ColumnData = {
    def c[A](a: Array[A]): Array[A] = if (a == null) null else a.clone()
    ColumnData(c(cd.ints), c(cd.longs), c(cd.strings), c(cd.doubles),
      if (cd.nulls == null) new Array[Boolean](numRows) else cd.nulls.clone(),
      c(cd.vecs), c(cd.wides))
  }
}
