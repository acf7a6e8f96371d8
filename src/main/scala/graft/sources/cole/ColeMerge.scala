package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, BoundReference, EqualTo, Expression, InterpretedOrdering, Literal, SortOrder, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, MergeRows, Project, ReplaceData}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.types._

/** Native copy-on-write MERGE: an eligible `MERGE INTO t USING s ON …` on
  * a copy-on-write COLE table runs on the [[ColeRewrite]] engine instead
  * of Spark's ReplaceData pipeline, which joins every row of every
  * candidate file with the source in a shuffled full outer join. Here
  * the source is collected once on the driver (it is small: under the
  * broadcast threshold), the candidate files rewrite in one job with no
  * shuffle — each task probes the source by key over the rows the key
  * can select and patches the matched rows in place, splicing unchanged
  * row groups — and the source rows no task matched are written as new
  * files that commit with the replacements as one statement.
  *
  * Eligible when, on the plan Spark has already rewritten and optimized:
  *   - the ON clause is a conjunction of `target_col = source_expr` over
  *     INT, BIGINT or STRING columns, plus target-only conjuncts that
  *     convert to [[ColePredicate]]s;
  *   - the clauses are one unconditional `WHEN MATCHED THEN UPDATE`,
  *     optionally one unconditional `WHEN NOT MATCHED THEN INSERT`, and
  *     no `WHEN NOT MATCHED BY SOURCE`;
  *   - the source, the assignments and the inserted values are
  *     deterministic and subquery-free;
  *   - the source's estimated size fits `spark.sql.autoBroadcastJoinThreshold`;
  *   - the table passes the native UPDATE's checks
  *     ([[ColeNativeDml.fits]]), with the assigned columns.
  * Everything else keeps the ReplaceData path unchanged.
  */
object ColeMerge {

  /** The native exec for `rd`, or None to keep Spark's ReplaceData. */
  def plan(rd: ReplaceData, op: ColeRowLevelOperation): Option[ColeMergeExec] = {
    val (attrs, table) = ColeNativeDml.relation(rd, op, RowLevelOperation.Command.MERGE)
      .getOrElse(return None)
    val m = ColeNativeDml.unwrap(rd.query) match {
      case m: MergeRows if m.checkCardinality => m
      case _ => return None
    }
    def joinOf(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => joinOf(child)
      case _ => None
    }
    val join = joinOf(m.child).getOrElse(return None)
    val source = join.right
    val columns = AttributeSet(attrs)
    // each table column's position in the instructions' outputs
    val pos = attrs.map(a => m.output.indexWhere(_.name == a.name))
    if (pos.contains(-1)) return None
    def always(c: Expression) = c == Literal.TrueLiteral
    def copies(is: Seq[MergeRows.Instruction]) = is.forall {
      case MergeRows.Keep(MergeRows.Copy, c, _) => always(c)
      case _ => false
    }
    def strip(e: Expression) = e match {
      case Alias(child, _) => child
      case other => other
    }
    val update = m.matchedInstructions match {
      case Seq(MergeRows.Keep(MergeRows.Update, c, out), rest @ _*)
          if always(c) && copies(rest) => pos.map(i => strip(out(i)))
      case _ => return None
    }
    val insert = m.notMatchedInstructions match {
      case Seq() => None
      case Seq(MergeRows.Keep(MergeRows.Insert, c, out)) if always(c) =>
        Some(pos.map(i => strip(out(i))))
      case _ => return None
    }
    // the group rewrite copies the target rows no source row matched; any
    // other instruction there is a NOT MATCHED BY SOURCE clause
    if (m.notMatchedBySourceInstructions.size != 1 ||
        !copies(m.notMatchedBySourceInstructions) ||
        join.joinType != (if (insert.isDefined) FullOuter else LeftOuter))
      return None

    // ON: key equalities, and target-only conjuncts that classify files
    def keyable(a: Attribute, e: Expression) =
      Seq(IntegerType, LongType, StringType).contains(a.dataType) &&
        e.dataType == a.dataType && e.references.nonEmpty &&
        ColeNativeDml.pure(e, source.outputSet)
    val keys = scala.collection.mutable.ArrayBuffer.empty[(Attribute, Expression)]
    val filters = scala.collection.mutable.ArrayBuffer.empty[Filter]
    ColeNativeDml.conjuncts(join.condition.getOrElse(return None)).foreach {
      case EqualTo(a: Attribute, e) if columns.contains(a) && keyable(a, e) => keys += a -> e
      case EqualTo(e, a: Attribute) if columns.contains(a) && keyable(a, e) => keys += a -> e
      case c if c.deterministic && c.references.subsetOf(columns) =>
        filters += org.apache.spark.sql.GraftBridge.translateFilter(c).getOrElse(return None)
      case _ => return None
    }
    if (keys.isEmpty) return None

    // a key column set to the source value it equals keeps its value
    val assigned = attrs.zip(update).filter {
      case (a, v: Attribute) if v.exprId == a.exprId => false
      case (a, e) => !keys.exists { case (k, se) => k.exprId == a.exprId && se.semanticEquals(e) }
    }
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    val pureSource = !source.exists(_.expressions.exists(e =>
      !e.deterministic || SubqueryExpression.hasSubquery(e)))
    if (!pureSource || threshold < 0 || source.stats.sizeInBytes > threshold ||
        !assigned.forall(a => ColeNativeDml.pure(a._2, columns ++ source.outputSet)) ||
        !insert.forall(_.forall(ColeNativeDml.pure(_, source.outputSet))) ||
        !ColeNativeDml.fits(table, attrs, op, filters.toArray, assigned.map(_._1)))
      return None
    Some(ColeMergeExec(op.path, op.partCols, filters.toArray, attrs,
      source, keys.toSeq, assigned, insert))
  }
}

/** Physical MERGE on the [[ColeRewrite]] engine: the source is collected
  * once per attempt; candidate files are those the first key's source
  * values (an IN list, or their range past [[ColePredicate.MaxInValues]])
  * and the target-only conjuncts select.
  *
  * @param keys target key column → the source expression it equals
  * @param inserts per table column, the value an unmatched source row
  *                inserts; None without a `WHEN NOT MATCHED` clause
  */
case class ColeMergeExec(path: String, partCols: Seq[String],
    filters: Array[Filter], attrs: Seq[Attribute], source: LogicalPlan,
    keys: Seq[(Attribute, Expression)], assignments: Seq[(Attribute, Expression)],
    inserts: Option[Seq[Expression]]) extends ColeNativeDmlExec {

  override lazy val metrics: Map[String, SQLMetric] =
    rewriteMetrics("rowsInserted" -> "rows inserted")

  override def simpleString(maxFields: Int): String =
    s"ColeMerge $path ON " +
      keys.map { case (a, e) => s"${a.name} = ${e.sql}" }.mkString(" AND ") +
      filters.map(f => s" AND $f").mkString +
      " UPDATE SET " + assignments.map { case (a, e) => s"${a.name} = ${e.sql}" }.mkString(", ") +
      (if (inserts.isDefined) " INSERT" else "")

  override def attempt(): ColeRewrite.Stats = {
    val conf = ColeIO.driverConf()
    val srcOut = source.output
    val toUnsafe = UnsafeProjection.create(srcOut, srcOut)
    val rows: Array[InternalRow] = session.sessionState.executePlan(source).executedPlan
      .executeCollect().map(r => toUnsafe(r).copy())
    val keyTypes = keys.map(_._1.dataType).toArray
    val keyProj = UnsafeProjection.create(keys.map(_._2), srcOut)
    val rowKeys: Array[AnyRef] = rows.map(r =>
      ColeMergeSource.keyOf(keyProj(r), keys.indices.toArray, keyTypes, copy = true))
    val first = keys.head._1
    val firstValues: Array[Any] = rowKeys.iterator.filter(_ != null).map {
      case parts: List[_] => parts.head
      case v => v
    }.toSeq.distinct.toArray
    val keyFilters: Seq[Filter] =
      if (firstValues.length <= ColePredicate.MaxInValues) Seq(In(first.name, firstValues))
      else first.dataType match {
        case StringType => Nil // no string range: every row probes
        case _ =>
          val ls = firstValues.map { case i: Int => i.toLong; case l: Long => l }
          Seq(GreaterThanOrEqual(first.name, ls.min), LessThanOrEqual(first.name, ls.max))
      }
    val classified = ColeRewrite.classify(path,
      (filters ++ keyFilters).flatMap(ColePredicate.fromFilter), conf)
    // no non-NULL key: no target row can match
    val plan = if (firstValues.nonEmpty) classified
      else classified.copy(whole = Nil, partial = Nil, filePreds = Map.empty)
    val adds = inserts.filter(_ => rows.nonEmpty).map { exprs =>
      (matched: java.util.BitSet, scratch: String, prefix: String) =>
        val proj = UnsafeProjection.create(exprs, srcOut)
        val out = rows.indices.filterNot(matched.get).map(i => proj(rows(i)).copy())
        if (out.isEmpty) Nil
        else writeRows(out, scratch, prefix, conf,
          ColeRowLevelOperation.rowGroupSizeOf(classified.infos))
    }
    val st =
      if (plan.isEmpty && adds.isEmpty) plan.untouched
      else {
        val schema = DataTypeUtils.fromAttributes(attrs)
        ColeRewrite.rewrite(session, path, plan, conf, ColeUpdatePatch(schema,
          ColeUpdatePatch.bind(assignments, attrs, srcOut),
          ColeChecks.forWrite(path, conf, schema),
          ColeMergeSource(keys.map(k => attrs.indexWhere(_.exprId == k._1.exprId)).toArray,
            rows, rowKeys)), adds)
      }
    report(st)
    st
  }

  /** Writes `rows` through the table's write factory, under `scratch`. */
  private def writeRows(rows: Seq[InternalRow], scratch: String, prefix: String,
      conf: Configuration, rowGroupSize: Int): Seq[ColeWrittenFile] = {
    val schema = DataTypeUtils.fromAttributes(attrs)
    val bucketSpec = ColeBucket.readSpec(path, conf)
    val bucketDerive = ColeBucket.readDerivation(path, conf)
    // bucket files land sorted on their key, as ReplaceData orders its write
    val sortCols = bucketDerive.map(_._2).orElse(bucketSpec.map(_._2)).getOrElse(Nil)
    val ordered =
      if (sortCols.isEmpty) rows
      else rows.sorted(new InterpretedOrdering(sortCols.map(c => SortOrder(
        BoundReference(schema.fieldIndex(c), schema(c).dataType, nullable = true), Ascending))))
    val factory = new ColeWriterFactory(schema, path, rowGroupSize,
      new ColeHadoopConf(ColeUtil.evolvedWriteConf(conf, path, schema, partCols)),
      partCols, bucketSpec, bucketDerive, ColeChecks.forWrite(path, conf, schema),
      ColeTemporal.readSpec(path, conf), dataRoot = Some(scratch),
      naming = ColeFileNaming.Deferred(prefix))
    // a fresh task id: file names never repeat a replacement's source name
    val w = factory.createWriter(0, System.nanoTime() & Long.MaxValue)
    try {
      ordered.foreach(w.write)
      w.commit() match {
        case ColeCommitMessage(files) => ColeWrittenFile.dropEmpty(files, conf, keepOne = false)
        case other => throw new IllegalStateException(s"unexpected commit message $other")
      }
    } catch { case e: Throwable => w.abort(); throw e }
    finally w.close()
  }
}

/** A MERGE's source on the executors: its rows and, per row, its key.
  *
  * @param keys the table ordinals of the target key columns
  * @param rowKeys per source row its [[ColeMergeSource.keyOf]] key
  */
final case class ColeMergeSource(keys: Array[Int], rows: Array[InternalRow],
    rowKeys: Array[AnyRef]) {

  // key → its source row, or -1 when several source rows share it
  @transient private lazy val index: java.util.HashMap[AnyRef, Integer] = {
    val m = new java.util.HashMap[AnyRef, Integer](rowKeys.length * 2)
    var i = 0
    while (i < rowKeys.length) {
      if (rowKeys(i) != null)
        m.merge(rowKeys(i), Integer.valueOf(i), (_, _) => Integer.valueOf(-1))
      i += 1
    }
    m
  }

  /** The source row that matches the table row `row`, or -1. A target
    * row two source rows match fails the statement, as ReplaceData does.
    */
  def probe(row: InternalRow, types: Array[DataType]): Int = {
    val k = ColeMergeSource.keyOf(row, keys, types, copy = false)
    val s = if (k == null) null else index.get(k)
    if (s == null) -1
    else if (s < 0) throw org.apache.spark.sql.GraftBridge.mergeCardinalityViolation()
    else s
  }
}

object ColeMergeSource {
  /** The key in `row`'s fields `ords`: the value, a List of values for a
    * composite key, or null when a part is NULL (NULL equals nothing).
    * `copy` detaches strings from the row's buffer.
    */
  def keyOf(row: InternalRow, ords: Array[Int], types: Array[DataType],
      copy: Boolean): AnyRef = {
    def part(i: Int): AnyRef =
      if (row.isNullAt(ords(i))) null
      else types(i) match {
        case IntegerType => Integer.valueOf(row.getInt(ords(i)))
        case LongType => java.lang.Long.valueOf(row.getLong(ords(i)))
        case _ =>
          val u = row.getUTF8String(ords(i))
          if (copy) u.clone() else u
      }
    if (ords.length == 1) part(0)
    else {
      val parts = List.tabulate(ords.length)(part)
      if (parts.contains(null)) null else parts
    }
  }
}
