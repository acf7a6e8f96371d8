package graft.sources.cole

import java.util
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.cole.ColeFormat._

/** Spark DataSource V2 for the COLE columnar format
  * (`spark.read.format("cole").load(path)`).
  *
  * Spark-first re-expression of the reference engine's storage layer: the
  * reference's Scanner/QueryExecutor (reference: include/execution.h) become
  * Catalyst plans; this connector supplies what Catalyst needs from a
  * source — schema inference, column pruning, claimed numeric filters
  * (page-stat row-group skipping, reference: include/execution.h:58
  * Predicate::canSkipPage, plus row-exact selection vectors), aggregate /
  * LIMIT / TopN pushdown, and parallel reads over byte-packed row-group
  * runs (task count scales with data size, so a 100 TB table scans wide
  * without drowning in task launches).
  */
class ColeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cole"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // time travel infers from the SNAPSHOT's footers: a column added
    // after the requested version is absent, exactly as it was then
    val ttVersion = ColeUtil.timeTravelVersion(options, ColeUtil.path(options))
    val feedFiles = Option(options.get(ColeChangeFeed.FeedFilesOption))
    val infos = ttVersion match {
      case Some(v) =>
        ColeVersions.snapshotInfos(ColeUtil.path(options), ColeIO.driverConf(), v)
      case None => feedFiles match {
        case Some(enc) =>
          // exact-file-set read (change feed): schema from those footers,
          // live dropped-column discipline still applies below
          ColeVersions.infosFor(ColeUtil.path(options), ColeIO.driverConf(),
            ColeChangeFeed.decodeFiles(enc), "change feed file set")
        case None =>
          ColeMetaCache.infos(ColeUtil.path(options), ColeIO.driverConf())
      }
    }
    require(infos.nonEmpty, s"No .col files at ${ColeUtil.path(options)}")
    // hive-style layout: partition columns (from key=value directories)
    // append after the file columns, like Spark's own file sources. The
    // reserved _bucket directory key is LAYOUT, not schema: a bucketed
    // table stores its bucket column in the data files (the hash is
    // lossy), so the directory key must not surface as a column.
    val partFields = ColeMetaCache.partitionSchema(infos,
      ColePartEvolve.evolvedCols(ColeUtil.path(options), ColeIO.driverConf()))
      .filterNot(f => ColeTemporal.isLayoutKey(f._1)).map { case (k, t) =>
      StructField(k, t match {
        case "int" => IntegerType
        case "long" => LongType
        case _ => StringType
      }, nullable = false)
    }
    // DROP COLUMN is metadata-only: old footers still carry the column,
    // LIVE reads exclude it (time travel keeps the snapshot's physical
    // schema — the past had the column)
    val dropped: Set[String] =
      if (ttVersion.isDefined) Set.empty
      else ColeCatalog.droppedColumns(ColeUtil.path(options),
        ColeIO.driverConf()).toSet
    val base = StructType(ColeUtil.toSparkSchemaOf(infos).fields.toSeq
      .filterNot(f => dropped.contains(f.name)) ++ partFields)
    // the streaming change feed appends its two labeling columns
    if (options.getBoolean(ColeCdfStream.OptionKey, false))
      StructType(base.fields ++ ColeCdfStream.cdfFields)
    else base
  }

  /** Streaming writes can't use `writeStream.partitionBy` — Spark's V2
    * sink path drops it without passing Transforms to the provider (only
    * the V1 FileStreamSink path reads it). The sink OPTION
    * `partitionBy=c1,c2` fills the gap: decoded here (the hook
    * getTableFromProvider consults), it produces the same hive-style
    * layout as the batch writer's partitionBy. Reads never carry the
    * option (empty → layout inferred from key=value directories).
    */
  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val enc = options.get("partitionBy")
    if (enc == null) Array.empty
    else enc.split(',').map(_.trim).filter(_.nonEmpty)
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // identity transforms arrive from df.write.partitionBy(...): rejected
    // shapes fail loudly instead of silently writing an unpartitioned table
    val partCols = partitioning.map { t =>
      if (t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1)
        t.references.head.fieldNames.head
      else throw new IllegalArgumentException(
        s"COLE supports only identity partitioning (partitionBy on plain columns), got $t")
    }
    new ColeTable(schema, partCols.toSeq, properties.asScala.toMap)
  }
}

private[cole] object ColeUtil {
  /** Metadata column exposing the source file of each row (the GROUP id
    * of row-level operations; also selectable as `_cole_file` in normal
    * reads through the catalog).
    */
  val FileMetaCol = "_cole_file"

  /** colIndices sentinel: this required field is CONSTANT-served by name
    * (a partition directory value, `_cole_file`, or `_cole_pos`) for
    * this file — vs `-1` (column absent: NULL/exists-default) and `>= 0`
    * (decode that footer column). A colIndices SHORTER than the required
    * schema is the legacy shape: its missing tail is all ConstSrc
    * (partition columns were always trailing before spec evolution made
    * placement per-file).
    */
  val ConstSrc: Int = -2

  /** Metadata column exposing each row's PHYSICAL position within its
    * source file — with [[FileMetaCol]] it forms the row id of
    * merge-on-read (delta) UPDATE/MERGE: a deleted row id becomes one
    * deletion-vector ordinal. Generated by the readers (never stored).
    */
  val PosMetaCol = "_cole_pos"

  def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "COLE source requires a path")
    p // schemes (file://, hdfs://, s3a://) resolve through the Hadoop conf
  }

  /** Resolve the `versionAsOf` / `timestampAsOf` read options (None when
    * neither is present). `timestampAsOf` takes epoch millis or an ISO
    * timestamp (`2026-08-14T12:00:00`, space separator also accepted).
    */
  def timeTravelVersion(options: CaseInsensitiveStringMap,
      tablePath: String): Option[Long] = {
    val v = Option(options.get("versionAsOf")).map { s =>
      // a non-numeric versionAsOf is a TAG name (r14 named refs); a
      // branch name is a different kind of read — the `branch` option
      s.toLongOption.getOrElse(
        ColeRefs.resolve(tablePath, ColeIO.driverConf(), s) match {
          case Right(tagVersion) => tagVersion
          case Left(branch) => throw new IllegalArgumentException(
            s"'$branch' is a BRANCH of $tablePath — read it with " +
              s"""option("branch", "$branch"), not versionAsOf""")
        })
    }
    val ts = Option(options.get("timestampAsOf")).map { s =>
      s.toLongOption.getOrElse {
        try java.sql.Timestamp.valueOf(s.replace('T', ' ')).getTime
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"timestampAsOf must be epoch millis or ISO timestamp, got '$s'")
        }
      }
    }
    if (v.isEmpty && ts.isEmpty) None
    else Some(ColeVersions.resolveAsOf(tablePath, ColeIO.driverConf(), v, ts))
  }

  /** A table is a single .col file or a directory of them (part files). */
  def listFiles(path: String, conf: Configuration): Seq[String] =
    ColeIO.listStatus(path, conf).map(_.getPath.toString)

  def listFiles(path: String): Seq[String] = listFiles(path, ColeIO.driverConf())

  /** Columns stored in DIFFERENT decimal lanes across part files (i64
    * unscaled in some, int128 in others — a widened table mid-rewrite):
    * claims and the metadata DELETE fast path must decline on them (a
    * wide predicate cannot evaluate against a narrow chunk); reads adapt
    * per file (ColeWiden), so correctness never depends on uniformity.
    */
  def laneMixedCols(infos: Seq[ColeMetaCache.FileInfo]): Set[String] = {
    val lanes = scala.collection.mutable.Map.empty[String, Int]
    infos.foreach(_.meta.columns.foreach { c =>
      val bit = c.colType match {
        case _: TDecimal => 1
        case _: TDecimalWide => 2
        case _ => 0
      }
      if (bit != 0) lanes(c.name) = lanes.getOrElse(c.name, 0) | bit
    })
    lanes.collect { case (n, 3) => n }.toSet
  }

  /** Columns whose STORED type differs anywhere across part files (any
    * widening pair): aggregate pushdown declines on them — the sweep
    * accumulators and partial emission assume one physical type per
    * column, and a compaction pass restores homogeneity (and pushdown).
    */
  def typeMixedCols(infos: Seq[ColeMetaCache.FileInfo]): Set[String] = {
    val types = scala.collection.mutable.Map.empty[String, ColeType]
    val mixed = scala.collection.mutable.Set.empty[String]
    infos.foreach(_.meta.columns.foreach { c =>
      types.get(c.name) match {
        case None => types(c.name) = c.colType
        case Some(t) => if (t != c.colType) mixed += c.name
      }
    })
    mixed.toSet
  }

  def sparkType(t: ColeType): DataType = t match {
    case TInt32 => IntegerType
    case TInt64 => LongType
    case TString => StringType
    case TDouble => DoubleType
    case TTimestamp => TimestampType
    case TTimestampNtz => TimestampNTZType
    case TDecimal(p, s) => DecimalType(p, s)
    case TDecimalWide(p, s) => DecimalType(p, s)
    // vector elements are dense by design: a missing embedding is a NULL
    // row, not a vector with null slots
    case TFloatVec => ArrayType(FloatType, containsNull = false)
    case TBinary => BinaryType
  }

  /** WIDENING union of two stored types for one column name (read-time
    * type evolution, r9): INT32 widens to INT64, and a DECIMAL widens to
    * a higher precision at the SAME scale — across the int64/int128 lane
    * boundary too (the unscaled domain is unchanged, only the container
    * grows). Anything else is not evolution and fails loudly: a scale
    * change or an int↔string flip silently reinterprets stored values.
    */
  def widen(a: ColeType, b: ColeType): Option[ColeType] = (a, b) match {
    case _ if a == b => Some(a)
    case (TInt32, TInt64) | (TInt64, TInt32) => Some(TInt64)
    case (TDecimal(p1, s1), TDecimal(p2, s2)) if s1 == s2 =>
      Some(TDecimal(math.max(p1, p2), s1))
    case (TDecimal(p1, s1), TDecimalWide(p2, s2)) if s1 == s2 =>
      Some(TDecimalWide(math.max(p1, p2), s1))
    case (TDecimalWide(p1, s1), TDecimal(p2, s2)) if s1 == s2 =>
      Some(TDecimalWide(math.max(p1, p2), s1))
    case (TDecimalWide(p1, s1), TDecimalWide(p2, s2)) if s1 == s2 =>
      Some(TDecimalWide(math.max(p1, p2), s1))
    case _ => None
  }

  /** Table schema = the UNION of every part file's columns, in first-seen
    * order — schema evolution for long-lived tables: a part file written
    * before a column existed reads that column as NULL (and a claimed
    * filter on it prunes the whole file at planning). Nullability is per
    * column across the WHOLE listing: a null-bearing v2 page OR any file
    * missing the column makes it nullable. Type changes WIDEN when safe
    * (see [[widen]]): INT32→INT64 and same-scale DECIMAL precision
    * growth read under the widest type, per-file values adapted at
    * decode; any other change fails loudly.
    */
  def toSparkSchemaOf(infos: Seq[ColeMetaCache.FileInfo]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap[String, ColeType]()
    infos.foreach(i => i.meta.columns.foreach { c =>
      order.get(c.name) match {
        case None => order(c.name) = c.colType
        case Some(t) => order(c.name) = widen(t, c.colType).getOrElse(
          throw new IllegalArgumentException(
            s"schema evolution cannot change column '${c.name}' from $t to " +
              s"${c.colType} (file ${i.path}); only INT32→INT64 and " +
              "same-scale DECIMAL precision growth widen — rewrite the " +
              "table for other changes"))
      }
    })
    // data columns are ALWAYS nullable, like Spark's parquet source:
    // "no nulls stored today" is a statistic, not a declaration, and a
    // table schema derived from it breaks legal DML — a MERGE/UPDATE
    // that introduces the first NULL (e.g. an MV absorbing a NULL group
    // key from a LEFT-join enrichment) would trip Spark's runtime
    // non-null assert on the target attributes. Null-freeness still
    // powers the per-file planning paths (vacuous-IsNotNull drops,
    // chunk null counts) where it belongs.
    StructType(order.toSeq.map { case (name, t) =>
      StructField(name, sparkType(t), nullable = true)
    })
  }

  def toSparkSchema(cols: Seq[ColeColumn]): StructType =
    StructType(cols.map(c => StructField(c.name, sparkType(c.colType), nullable = false)))

  /** Writes into a table with EVOLVED columns — present in the write
    * schema but absent from at least one live file (ALTER/MERGE-evolution
    * ADD COLUMN) — inevitably carry NULLs for them, which format v1
    * rejects per value. Auto-select v2 for exactly those writes, so an
    * evolved table stays writable without a hand-passed option; tables
    * with no evolved columns keep their reference-byte-compatible v1
    * writes. An explicit formatVersion always wins. Files whose directory
    * values `replaced` picks (an overwrite's) do not count: the new rows
    * never sit beside them.
    */
  def evolvedWriteConf(conf: Configuration, path: String,
      schema: StructType, partCols: Seq[String],
      replaced: Map[String, String] => Boolean = _ => false): Configuration = {
    if (conf.get(ColeFileWriter.VersionKey) != null) return conf
    val stored = schema.fieldNames.filterNot(partCols.contains)
    val infos = ColeMetaCache.infos(path, conf).filterNot(i => replaced(i.partValues.toMap))
    val evolved = infos.nonEmpty && stored.exists(n =>
      infos.exists(i => !i.meta.columns.exists(_.name == n) &&
        !i.renamed.contains(n)))
    if (!evolved) conf
    else {
      val c = new Configuration(conf)
      c.set(ColeFileWriter.VersionKey, "2")
      c
    }
  }

  def toColeColumns(schema: StructType): Seq[ColeColumn] =
    schema.fields.map { f =>
      val (t, e) = f.dataType match {
        case IntegerType => (TInt32, Plain)
        case LongType => (TInt64, Plain)
        case StringType => (TString, Plain)
        case DoubleType => (TDouble, Plain)
        case TimestampType => (TTimestamp, Plain)
        case TimestampNTZType => (TTimestampNtz, Plain)
        case ArrayType(FloatType, _) => (TFloatVec, Plain)
        case BinaryType => (TBinary, Plain)
        case dt: DecimalType if dt.precision <= 18 && dt.scale >= 0 =>
          (TDecimal(dt.precision, dt.scale), Plain)
        case dt: DecimalType if dt.precision <= 38 && dt.scale >= 0 =>
          (TDecimalWide(dt.precision, dt.scale), Plain)
        case other => throw new IllegalArgumentException(
          s"COLE format supports INT32/INT64/STRING (v1) + DOUBLE/TIMESTAMP/" +
            s"DECIMAL(<=38)/ARRAY<FLOAT>/BINARY (v2); column '${f.name}' is $other " +
            "(cast unsupported types before writing)")
      }
      ColeColumn(f.name, t, e)
    }.toSeq
}

class ColeTable(schema: StructType, writePartCols: Seq[String],
    props: Map[String, String],
    bucketSpec: Option[(Int, Seq[String])] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  def this(schema: StructType, properties: Map[String, String]) =
    this(schema, Seq.empty, properties)

  /** Surface table properties (path, CHECK constraints, pinned
    * versions) — what DESCRIBE TABLE EXTENDED shows.
    */
  override def properties(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    props.asJava
  }

  /** `_cole_file`: the row's source file — the group id of row-level
    * UPDATE/MERGE/DELETE, also selectable directly.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ColeUtil.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "source .col file of the row"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ColeUtil.PosMetaCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "physical row position within the source file"
    })

  /** A branch-pinned handle (`VERSION AS OF '<branch>'`) is a read view
    * plus the append staging route. The row-level DML / truncate paths
    * below resolve the LIVE table from `props("path")` and never see the
    * branch prop — running them through a branch handle would silently
    * mutate main. Loud rejection instead: branches are append-only
    * (write-audit-publish) by design.
    */
  private def rejectOnBranch(op: String): Unit =
    props.get("branch").foreach { b =>
      throw new UnsupportedOperationException(
        s"$op through branch '$b' is not supported: branches are " +
          "append-only (write-audit-publish) — run it on the live table, " +
          "or fast_forward first")
    }

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` whose condition the
    * metadata fast path can't convert): group-based copy-on-write
    * through [[ColeRowLevelOperation]] — stats classify candidate files,
    * the runtime group filter restricts to files with actual matches,
    * replacement rewrites preserve the partition/bucket/sort layout.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation = {
        rejectOnBranch(s"${info.command()}")
        val p = props("path")
        val conf = ColeIO.driverConf()
        // write-audit-publish row-level DML (r15): with the session's
        // `graft.cole.write.branch` conf set (and the branch existing on
        // this versioned table), UPDATE/MERGE/DELETE read the BRANCH
        // state and commit to the branch — replaced fork files are
        // masked, replacements land staged, main is untouched until
        // publish. Copy-on-write only: a MOR delta's DV sidecar would
        // sit next to MAIN's data files.
        val wap = wapBranch(conf)
        if (wap.isDefined) {
          require(!ColeDv.vectorMode(p, conf),
            s"row-level DML on branch '${wap.get}' requires copy-on-write " +
              "(delete_mode 'copy'): a merge-on-read vector would mutate " +
              "sidecars in MAIN's tree")
          return new ColeRowLevelOperation(info.command(), p, writePartCols, conf, wap)
        }
        // zero-copy clones run row-level DML copy-on-write with
        // mask-don't-retire (ColeClone.mask) — but never merge-on-read:
        // a DV sidecar sits NEXT TO its data file, which for a foreign
        // file is the SOURCE's tree
        if (ColeDv.vectorMode(p, conf))
          ColeClone.requireLocal(p, conf,
            "merge-on-read DML (delete_mode 'vector'); set delete_mode " +
              "'copy' for copy-on-write DML on the clone, or")
        // vector-mode tables run DML merge-on-read (SupportsDelta):
        // changed row ids become deletion-vector ordinals, new images
        // land in new files — no rewrite of co-resident unmatched rows.
        // Copy-on-write group rewrite otherwise.
        if (ColeDv.vectorMode(p, conf))
          new ColeDeltaOperation(info.command(), p, writePartCols, conf)
        else
          new ColeRowLevelOperation(info.command(), p, writePartCols, conf)
      }
    }

  /** The session's write-audit-publish branch, when it applies to THIS
    * table: `graft.cole.write.branch` set, the table versioned, and the
    * branch existing (loud when it doesn't — a WAP-routed statement must
    * never silently fall through to main).
    */
  private def wapBranch(conf: Configuration): Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get(ColeRefs.WapBranchConfKey, null)))
      .filter(_.nonEmpty)
      .filter(_ => ColeVersions.enabled(props("path"), conf))
      .map { b => ColeRefs.branchFork(props("path"), conf, b); b }

  /** SQL `DELETE FROM t WHERE ...` — copy-on-write row-level delete
    * (ColeDelete): stats-classified per file, file-parallel rewrite of
    * only the files that contain matching rows, layout-preserving
    * two-phase swap. Conditions that don't convert to COLE predicate
    * conjunctions are rejected at analysis (canDeleteWhere false).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.nonEmpty && rewritesNatively(filters)

  /** Whether a statement with this WHERE conjunction (empty: every row)
    * can run on the connector's own file rewrite ([[ColeRewrite]]): the
    * DELETE fast path, and the native UPDATE ([[ColeUpdate]]).
    */
  private[cole] def rewritesNatively(filters: Array[Filter]): Boolean =
    filters.forall(f => ColePredicate.fromFilter(f).isDefined) && {
      // a lane-mixed (widened) or renamed-in-some-file predicate column
      // would make the fast path misevaluate against raw executor chunks
      // — route to the group-based row-level DELETE instead (always
      // exact: its scan never claims row filters)
      val cols = filters.flatMap(ColePredicate.fromFilter).map(_.column).toSet
      val infos = ColeMetaCache.infos(props("path"), ColeIO.driverConf())
      // an exists-defaulted predicate column absent from some file also
      // routes to the row-level path: the fast path's "absent column
      // never matches" classification is wrong there (those rows read
      // the default, which the condition may select)
      val defaultedMissing = ColeDefaults.missingFromSomeFile(
        props("path"), ColeIO.driverConf(), infos, cols).nonEmpty
      (ColeUtil.laneMixedCols(infos) & cols).isEmpty &&
        infos.forall(i => (i.renamed.keySet & cols).isEmpty) &&
        !defaultedMissing &&
        // clones route to the row-level path too: its commit knows how
        // to MASK foreign files instead of retiring them
        ColeClone.read(props("path"), ColeIO.driverConf()).isEmpty &&
        // WAP-routed DELETEs take the row-level path: the metadata fast
        // path deletes MAIN's files, a branch delete must mask instead
        wapBranch(ColeIO.driverConf()).isEmpty
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    rejectOnBranch("DELETE")
    ColeClone.requireLocal(props("path"), ColeIO.driverConf(), "DELETE")
    // self-contained re-plan per attempt (fresh listing + classification)
    // and idempotent on a partially-swapped state — the auto-retry heals
    // a concurrent-write abort instead of surfacing the manual re-run
    val conf = ColeIO.driverConf()
    ColeDmlRetry.withRetries(conf) { _ =>
      ColeDelete.deleteWhere(org.apache.spark.sql.SparkSession.active,
        props("path"), filters, conf)
    }
  }

  /** SQL `TRUNCATE TABLE`: swap every data file (and its sidecars) out,
    * keep the layout sidecars — the emptied table re-fills under the
    * same partitioning/bucketing contract.
    */
  override def truncateTable(): Boolean = {
    rejectOnBranch("TRUNCATE")
    val path = props("path")
    val conf = ColeIO.driverConf()
    // TRUNCATE drops MAIN's files — under the WAP conf that would
    // silently bypass the branch the session asked for. Loud instead.
    wapBranch(conf).foreach(b => throw new IllegalStateException(
      s"TRUNCATE under graft.cole.write.branch='$b' is not supported " +
        "(branches cannot truncate main-owned files) — unset the conf " +
        "to truncate main, or DELETE on the branch"))
    // truncate deletes the LISTED (local) files — on a clone the foreign
    // half would survive, a silently wrong "empty" table
    ColeClone.requireLocal(path, conf, "TRUNCATE")
    // persist the current schema first: once the files (the usual source
    // of truth) are gone, the emptied table must still RESOLVE
    ColeCatalog.writeTableSpec(path, conf,
      StructType(schema.filterNot(f => writePartCols.contains(f.name))
        .toArray ++ schema.filter(f => writePartCols.contains(f.name))),
      writePartCols, ColeCatalog.droppedColumns(path, conf),
      ColeCatalog.renames(path, conf))
    val (fs, _) = ColeIO.resolve(path, conf)
    ColeSwap.replace(fs, path, conf, "truncate", ColeSwap.newStamp(), Nil, (_, _) => true)(())
    true
  }

  override def name(): String = s"cole:${props.getOrElse("path", "?")}"
  override def schema(): StructType = schema
  override def partitioning(): Array[Transform] =
    writePartCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray ++
      bucketSpec.map { case (n, cs) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, cs: _*) }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ,
      // `MERGE INTO ... WITH SCHEMA EVOLUTION`: the analyzer diffs the
      // source schema against ours and routes new columns / widenings
      // through the catalog's alterTable — the same ADD COLUMN and
      // type-widening paths DDL uses, so old files keep serving (nulls
      // for missing columns, widened lanes per file)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-resolved relations carry no read options — the path then
    // comes from the table properties the catalog installed
    val path = Option(options.get("path"))
      .orElse(props.get("path"))
      .getOrElse(ColeUtil.path(options))
    // streaming rate limit rides the conf to the micro-batch stream (the
    // same zero-signature route the writer's compression codec takes)
    val conf = {
      val maxFiles = options.get("maxFilesPerTrigger")
      if (maxFiles == null) ColeIO.driverConf()
      else {
        require(maxFiles.toInt > 0, "maxFilesPerTrigger must be positive")
        val c = new Configuration(ColeIO.driverConf())
        c.setInt(ColeMicroBatchStream.MaxFilesKey, maxFiles.toInt)
        c
      }
    }
    // the streaming change feed: its own Scan, commit-version offsets
    if (options.getBoolean(ColeCdfStream.OptionKey, false)) {
      val c = new Configuration(conf)
      Option(options.get(ColeCdfStream.StartingVersionKey))
        .foreach(v => c.set(ColeCdfStreamConf.StartKey, v))
      Option(options.get(ColeCdfStream.MaxCommitsKey))
        .foreach(v => c.set(ColeCdfStreamConf.MaxKey, v))
      Option(options.get(ColeCdfStream.ConsumerIdKey))
        .foreach(v => c.set(ColeCdfStreamConf.ConsumerKey, v))
      val dataSchema = ColeCdfStream.stripCdfFields(schema)
      return new ScanBuilder {
        override def build(): Scan = new ColeCdfScan(dataSchema, path, c)
      }
    }
    // time travel: versionAsOf/timestampAsOf read options, or the pinned
    // version a catalog FOR VERSION AS OF load installed as a property —
    // either way the snapshot's file set replaces the live listing.
    // changesFrom[/changesTo]: the incremental INSERT feed between two
    // versions (files whose rows arrived in the range; see
    // ColeVersions.changedFiles) — the batch twin of the tailing source.
    val changesFrom = Option(options.get("changesFrom")).map(_.toLong)
    // branch read (r14 named refs): main-as-of-fork plus the branch's
    // invisible staged appends — pinned like a time-travel snapshot
    // (footer skipping / pruning / pushdown intact). Bucket-layout
    // CLAIMS are withdrawn (no SPJ, no bucket pruning): the staged files
    // may straddle a spec evolution relative to the fork, and a branch
    // read is audit-sized — conservative beats clever here. Temporal
    // pruning stays (each file is judged only by the key its directory
    // carries, so a wrong prune is structurally impossible).
    val branchOpt = Option(options.get("branch")).filter(_.nonEmpty)
      // path-based reads mirror their options into props — the empty
      // opt-out marker must not resurface as a branch name here
      .orElse(props.get("branch").filter(_.nonEmpty))
      .orElse {
        // WAP session conf (r15): reads follow the branch too — audit
        // queries and the row-level DML's matching-row subquery see the
        // staged + DML'd state through the table's NORMAL name, the
        // Iceberg wap.branch read semantics. Only when nothing explicit
        // pinned the read elsewhere, and soft on tables where the branch
        // doesn't exist (one session conf drives a multi-table job).
        // An EXPLICIT EMPTY branch option opts out entirely — the
        // engine's own maintenance reads (compaction, rebucket, MV state
        // lookups, constraint declaration scans) read MAIN through it;
        // routing those through the branch would compact unaudited
        // staged rows into main.
        if (options.containsKey("branch") ||
            ColeUtil.timeTravelVersion(options, path).nonEmpty ||
            props.contains("versionAsOf") ||
            options.get("changesFrom") != null ||
            options.get(ColeChangeFeed.FeedFilesOption) != null) None
        else org.apache.spark.sql.SparkSession.getActiveSession
          .flatMap(s => Option(s.conf.get(ColeRefs.WapBranchConfKey, null)))
          .filter(_.nonEmpty)
          .filter(b => ColeVersions.enabled(path, conf) &&
            ColeRefs.branchExists(path, conf, b))
      }
    branchOpt.foreach { name =>
      require(ColeUtil.timeTravelVersion(options, path).isEmpty &&
        changesFrom.isEmpty,
        "branch reads do not compose with versionAsOf/timestampAsOf/" +
          "changesFrom: a branch IS a pinned state")
      val (infos, dvs) = ColeRefs.branchInfos(path, conf, name)
      val dirCols: Set[String] =
        if (infos.isEmpty) Set.empty
        else ColeMetaCache.partitionSchema(infos,
          ColePartEvolve.evolvedCols(path, conf)).map(_._1)
          .filterNot(ColeTemporal.isLayoutKey).toSet
      return new ColeScanBuilder(schema, path, conf,
        schema.fieldNames.filter(dirCols).toSet,
        Some(ColeSnapshot(infos, dvs = dvs)))
    }
    val snapshot: Option[ColeSnapshot] = ColeUtil.timeTravelVersion(options, path)
      .orElse(props.get("versionAsOf").map(_.toLong))
      .map { v =>
        // ONE fold serves the whole snapshot build (r13): file set,
        // pinned-dv map, and the bucket/temporal sidecar snapshots —
        // the pre-bundle code re-folded (and re-listed the version
        // directory) four to five times per time-travel planning
        val st = ColeVersions.snapshotState(path, conf, v)
        ColeSnapshot(
          ColeVersions.infosFor(path, conf, st.files, s"version $v"),
          // the bucket-layout sidecar AS OF the pinned version keeps
          // bucket pruning, SPJ reporting, and aggregate pushdown
          st.spec.map(t => ColeBucket.parseSpecContent(t, s"$path@v$v")),
          st.spec.flatMap(t => ColeBucket.parseDeriveContent(t, s"$path@v$v")),
          bucketHistory = st.spec.map(t =>
            ColeBucket.parseHistoryContent(t, s"$path@v$v")).getOrElse(Nil),
          // vector-mode composition (r10): the version's PINNED deletion
          // vectors, applied by the scans in place of the live sidecars
          ColeVersions.resolveSnapshotDvs(path, conf, st),
          // temporal spec HISTORY as of the version (r12 evolution); a
          // pre-r12 record falls back to the live (superset) history
          temporalSpecs = st.tspec.map(
            ColeTemporal.parseSpecContent(_, s"$path@v$v")))
      }
      .orElse(Option(options.get(ColeChangeFeed.FeedFilesOption)).map { enc =>
        // exact-file-set read minted by ColeChangeFeed: one commit's
        // added or retired incarnations (delta-sized), optionally
        // restricted to the row groups an ordinal read will touch
        val pairs = ColeChangeFeed.decodeFiles(enc)
        val relToPhys = pairs.toMap
        val rgKeep = Option(options.get(ColeChangeFeed.FeedRowGroupsOption))
          .map(ColeChangeFeed.decodeRowGroups).getOrElse(Map.empty[String, Seq[Int]])
          .flatMap { case (rel, idxs) =>
            relToPhys.get(rel).map(_ -> idxs.toSet) }
        ColeSnapshot(ColeVersions.infosFor(path, conf, pairs,
          "change feed file set"), rgKeep = rgKeep)
      })
      .orElse(changesFrom.map { from =>
        val to = Option(options.get("changesTo")).map(_.toLong)
          .getOrElse(ColeVersions.currentVersion(path, conf))
        ColeSnapshot(ColeVersions.infosFor(path, conf,
          ColeVersions.changedFiles(path, conf, from, to),
          s"change feed ($from, $to]"))
      })
    // partition columns come from the DIRECTORY structure (key=value
    // nesting), never from "absent from footers": a column the footers
    // don't carry can also be a schema-evolution or ALTER-declared DATA
    // column, which reads as NULL through the evolution machinery — only
    // directory keys have per-file constant values to serve
    val infos = snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf))
    val dirCols: Set[String] =
      if (infos.isEmpty) writePartCols.toSet
      else ColeMetaCache.partitionSchema(infos,
        ColePartEvolve.evolvedCols(path, conf)).map(_._1)
        .filterNot(ColeTemporal.isLayoutKey).toSet
    new ColeScanBuilder(schema, path, conf,
      schema.fieldNames.filter(dirCols).toSet, snapshot)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!props.contains("versionAsOf"),
      "cannot write to a time-travel snapshot; write to the live table")
    // the compression codec rides the Hadoop conf to the task-side file
    // writers (see ColeFileWriter.CompressKey); default stays the
    // reference-compatible stored layout
    val conf = {
      val codec = info.options().getOrDefault("compress", "none")
      val fver = info.options().get("formatVersion")
      if (codec == "none" && fver == null) ColeIO.driverConf()
      else {
        require(codec == "none" || codec == "deflate",
          s"unknown compress codec '$codec' (none|deflate)")
        val c = new Configuration(ColeIO.driverConf())
        if (codec != "none") c.set(ColeFileWriter.CompressKey, codec)
        // explicit format version ("1"|"2"); absent = auto (v2 only when
        // the schema carries DOUBLE/TIMESTAMP) — see ColeFileWriter
        if (fver != null) c.set(ColeFileWriter.VersionKey, fver)
        c
      }
    }
    val path = props.getOrElse("path", info.options().get("path"))
    // hashed-bucket layout: an explicit bucketBy=<n>:<col> option, the
    // catalog-declared spec, or (append into an existing bucketed table)
    // the _bucketspec sidecar already on disk — later writers MUST route
    // with the layout the table was created with
    val declared = Option(info.options().get("bucketBy")).map(ColeBucket.parseOption)
    // bucketKey=<synthCol>: composite-key SPJ workaround made first-class.
    // Spark resolves only SINGLE-reference bucket transforms for
    // storage-partitioned joins, so a (k1,k2)-bucketed layout routes and
    // prunes but can't prove co-partitioning. With bucketKey the writer
    // STORES the combined avalanche hash as a real LONG column and the
    // layout becomes single-column bucketing on it — both scans then
    // report bucket(n, synthCol), the catalog's bucket function resolves
    // it, and a join on (k1, k2, synthCol) runs with zero Exchange.
    val (buckets, derive) = Option(info.options().get("bucketKey")) match {
      case Some(synth) =>
        val (n, srcs) = declared.getOrElse(throw new IllegalArgumentException(
          "bucketKey requires bucketBy=<n>:<col1>,<col2>,... naming the key tuple"))
        require(srcs.length >= 2,
          "bucketKey is for COMPOSITE keys; a single-column bucket layout " +
            "already storage-partition-joins without a synthetic column")
        require(!srcs.contains(synth),
          s"bucketKey column '$synth' cannot be one of the key columns")
        (Some((n, Seq(synth))), Some((synth, srcs)))
      case None =>
        val b = declared.orElse(bucketSpec).orElse(ColeBucket.readSpec(path, conf))
        (b, if (b.isEmpty) None else ColeBucket.readDerivation(path, conf))
    }
    require(buckets.isEmpty || writePartCols.isEmpty,
      "COLE tables are either hive-partitioned or hash-bucketed, not both")
    // temporal layout: the explicit partitionByTemporal=<fn>:<col> option
    // (first write defines it), or the _temporalspec sidecar an earlier
    // write / CREATE TABLE persisted — appends must keep the layout
    val temporal = {
      val declared = Option(info.options().get(ColeTemporal.OptionKey))
        .map(ColeTemporal.parseOption)
      val existing = ColeTemporal.readSpec(path, conf)
      (declared, existing) match {
        case (Some(d), Some(e)) =>
          require(d == e, s"write declares temporal layout ${d.fn}:${d.src} " +
            s"but the table at $path is laid out ${e.fn}:${e.src}")
          Some(d)
        case (d, e) => d.orElse(e)
      }
    }
    // temporal + bucket COMPOSE (r12): `days(ts)` unit directories holding
    // `_bucket=<b>` subdirectories — the standard time-series fact layout
    // (prune by day AND storage-partition-join by key). Identity hive
    // partitioning with buckets stays rejected above.
    // sortBy=<col1>[,col2...]: request in-partition ordering for this
    // write — each emitted file lands SORTED on the key, so DELTA
    // encodings and tight page stats make range predicates prune row
    // groups inside every file (the bucketBy().sortBy() benefit without
    // buckets; bucketed layouts already sort via their own required
    // ordering). Opt-in per write: no layout state, no append coupling.
    val sortBy = Option(info.options().get("sortBy")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    sortBy.foreach(c => require(info.schema().fieldNames.contains(c),
      s"sortBy column '$c' not in write schema"))
    require(sortBy.isEmpty || buckets.isEmpty,
      "bucketed writes already sort by their bucket keys; drop sortBy")
    // branch writes (r14 WAP): the explicit write option wins; a
    // branch-pinned catalog handle (VERSION AS OF '<branch>') stages its
    // appends onto its branch; otherwise the session-level
    // `graft.cole.write.branch` conf routes every VERSIONED append in
    // the session to the branch (the write-audit-publish switch — point
    // the ingest job at a branch without touching its sinks). The conf
    // deliberately skips unversioned targets: branches only exist on
    // versioned tables, and the connector's own scratch writes
    // (compaction, rebucket, CDF materialize) must keep working while
    // the switch is set — only the explicit option/handle is loud there.
    val branch = Option(info.options().get("branch"))
      .orElse(props.get("branch"))
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(s => Option(s.conf.get(ColeRefs.WapBranchConfKey, null)))
        .filter(_.nonEmpty)
        .filter(_ => ColeVersions.enabled(path, conf)))
    branch.foreach(b => ColeRefs.branchFork(path, conf, b)) // exists, or loud
    // identity partition-spec evolution: the ACTIVE era governs every
    // write — path-based appends included (the catalog path already
    // resolved it into writePartCols; this covers direct .save(dir))
    val effPartCols = ColePartEvolve.activeCols(path, conf)
      .map(_.filter(info.schema().fieldNames.contains))
      .getOrElse(writePartCols)
    new ColeWriteBuilder(info.schema(), path,
      info.options().getInt("rowGroupSize", 65536),
      conf, effPartCols, buckets, derive, temporal, sortBy, branch)
  }
}

// ------------------------------------------------------------------ read

/** A pinned (time-travel / change-feed) read: the version's file set
  * plus the bucket-layout sidecar AS OF that version (resolved from the
  * commit record that snapshot it) — what lets a pinned read keep
  * bucket pruning, SPJ reporting and aggregate pushdown instead of
  * degrading to a flat scan because the live sidecars describe the
  * present. Feed reads carry no layout (no pruning claims on arbitrary
  * file sets).
  */
final case class ColeSnapshot(infos: Seq[ColeMetaCache.FileInfo],
    bucketSpec: Option[(Int, Seq[String])] = None,
    bucketDerive: Option[(String, Seq[String])] = None,
    // Bucket era HISTORY as of the pinned version (r13 spec evolution):
    // per-era pruning keys mixed-era snapshot files by their own spec
    bucketHistory: Seq[ColeBucket.Era] = Nil,
    // PINNED deletion vectors as of the version (physical path →
    // file-wide ordinals), identity-verified at snapshot build; empty
    // for feed file-set reads (those read PHYSICAL rows by design — the
    // change feed applies prior-version vectors itself, by ordinal)
    dvs: Map[String, Array[Int]] = Map.empty,
    // Row-group restriction for ordinal-addressed feed reads (physical
    // path → allowed row-group indices): a merge-on-read delete serve
    // knows at planning which groups the commit's ordinals touch, and
    // every other group of the file is dead weight — drop it before a
    // byte decodes. Empty = no restriction (every other snapshot kind).
    rgKeep: Map[String, Set[Int]] = Map.empty,
    // Temporal spec HISTORY as of the pinned version (r12 evolution) —
    // None = resolve the live sidecar (non-time-travel snapshots)
    temporalSpecs: Option[Seq[ColeTemporal.Spec]] = None)

class ColeScanBuilder(fullSchema: StructType, path: String, conf: Configuration,
    partCols: Set[String] = Set.empty,
    snapshot: Option[ColeSnapshot] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggs: Seq[ColeAggSpec] = Seq.empty
  private var aggSchema: StructType = _
  private var limit: Int = -1

  /** LIMIT n plans only enough row groups to cover n rows (when no filter
    * could drop rows first). Partial pushdown: Spark still applies the
    * exact limit above the scan.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** ORDER BY ... LIMIT n whose FIRST key is a numeric column prunes row
    * groups by page stats: rank row groups by their best possible value
    * on that key, find the threshold the top-n must clear, and drop any
    * group whose range cannot reach it. Trailing sort keys only break
    * ties, and the threshold is retained inclusively, so pruning on the
    * leading key alone is sound. Partial pushdown — Spark re-sorts the
    * surviving superset exactly, so this is pure data skipping (the
    * TakeOrdered twin of `Predicate::canSkipPage`). Composes with pushed
    * filters: the threshold counts only rows of groups the stats prove
    * fully survive every predicate, so filtered TopN still skips.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    if (orders.isEmpty) return false
    val o = orders.head
    val colName = o.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames.head
      case _ => return false
    }
    if (!fullSchema.fieldNames.contains(colName)) return false
    if (partCols.contains(colName)) return false // constant per file: no stats
    fullSchema(colName).dataType match {
      case IntegerType | LongType | TimestampType | TimestampNTZType => // i64 page stats exist
      case dt: DecimalType if dt.precision <= 18 => // unscaled i64 stats order = value order
      case _ => return false // wide decimals keep int128 stats; TopN counts in i64 only
    }
    topN = Some((colName,
      o.direction() == org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING, l))
    true
  }

  private var topN: Option[(String, Boolean, Int)] = None

  // both pushed limit and top-n are partial: Spark applies the exact
  // sort/limit above the scan; the scan only prunes what it reads
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Simple numeric comparisons on numeric COLE columns and string
    * equality on string columns are CLAIMED — the source applies them
    * row-exactly (selection vectors over decoded chunks; dictionary-id
    * compares for string equality against DICTIONARY chunks, the lookup
    * the reference's dictionary encoding exists for) on top of page-stat
    * row-group skipping, and Spark plans no residual. `IsNotNull` is
    * claimed trivially (COLE has no NULLs). Claiming completely is what
    * makes filtered aggregates eligible for aggregate pushdown — Spark
    * only pushes aggregation when no post-scan filter remains. Everything
    * else stays residual.
    */
  private lazy val laneMixed: Set[String] = ColeUtil.laneMixedCols(
    snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf)))

  /** Columns some live file stores under a RENAMED-AWAY old name:
    * executor-side name resolution (claimed filters, pushed aggregates)
    * declines on them — executors see raw footers; driver-side planning
    * (stat skipping, packing indices) already resolves current names
    * through the renamed metadata. Compaction rewrites files under
    * current names and the declines lift.
    */
  private lazy val renamedCols: Set[String] =
    snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf))
      .flatMap(_.renamed.keySet).toSet

  /** Exists-defaulted columns ABSENT from at least one planned file:
    * the absent-column fast paths (whole-file predicate drop, all-NULL
    * aggregate credit) assume NULL, but these rows read their DEFAULT —
    * claimed filters and aggregate pushdown decline on them, Spark
    * evaluates above the default-filled vectors exactly. Tables whose
    * files all carry the column (or after compaction materializes it)
    * keep full pushdown.
    */
  private lazy val defaultedMissing: Set[String] = {
    val defs = ColeDefaults.existsDefaults(path, conf).keySet
    if (defs.isEmpty) Set.empty
    else ColeDefaults.missingFromSomeFile(path, conf,
      snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf)), defs)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def colType(c: String): Option[DataType] =
      if (fullSchema.fieldNames.contains(c)) Some(fullSchema(c).dataType) else None
    def claimable(f: Filter): Boolean = f match {
      // claimed and ENFORCED: null rows fail every claimed predicate in
      // the selection loop (v1 chunks have no nulls, so it is free there)
      case IsNotNull(c) => fullSchema.fieldNames.contains(c) &&
        !renamedCols(c) && !defaultedMissing(c)
      case _ => ColePredicate.fromFilter(f).exists { p =>
        if (renamedCols(p.column) || defaultedMissing(p.column)) false
        else colType(p.column) match {
          case Some(IntegerType | LongType | TimestampType | TimestampNTZType) =>
            !p.isString && !p.isDouble && !p.isWideOp
          case Some(dt: DecimalType) if dt.precision <= 18 =>
            !p.isString && !p.isDouble && !p.isWideOp
          // wide decimal: claim only when the literal's scale equals the
          // column's — then the unscaled int128 compare IS the value
          // compare — and only when EVERY file stores the wide lane (a
          // widened table mid-rewrite has i64 chunks the wide evaluator
          // cannot read; those stay residual, skip-only stats still safe)
          case Some(dt: DecimalType) =>
            def scaleOk(q: ColePredicate): Boolean =
              if (q.op == "or") q.orChildren.forall(scaleOk)
              else q.wScale == dt.scale
            p.isWideOp && scaleOk(p) && !laneMixed(p.column)
          case Some(DoubleType) => p.isDouble
          case Some(StringType) => p.isString
          case _ => false
        }
      }
    }
    // DECIMAL predicates rewrite into the UNSCALED long domain before the
    // claim check: for a fixed scale the unscaled order is the value
    // order, so `money < 5000.00` becomes `unscaled < 50000000` and rides
    // the int64 stats/selection machinery untouched. A literal that does
    // not rescale EXACTLY to the column's scale (would need rounding)
    // stays residual — claiming it through a rounded value would be wrong.
    def unscaled(c: String, v: Any): Option[Long] = colType(c) match {
      case Some(dt: DecimalType) if dt.precision <= 18 =>
        val bd = v match {
          case d: java.math.BigDecimal => d
          case d: scala.math.BigDecimal => d.underlying
          case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
          case _ => null
        }
        if (bd == null) None
        else try Some(bd.setScale(dt.scale).unscaledValue().longValueExact())
        catch { case _: ArithmeticException => None }
      case _ => None
    }
    // wide decimal columns rescale the literal EXACTLY to the column's
    // scale (a literal needing rounding stays residual); fromFilter then
    // builds the int128 predicate from the rescaled BigDecimal
    def wideRescaled(c: String, v: Any): Option[java.math.BigDecimal] = colType(c) match {
      case Some(dt: DecimalType) if dt.precision > 18 =>
        val bd = v match {
          case d: java.math.BigDecimal => d
          case d: scala.math.BigDecimal => d.underlying
          case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
          case _ => null
        }
        if (bd == null) None
        else try Some(bd.setScale(dt.scale))
        catch { case _: ArithmeticException => None }
      case _ => None
    }
    def rescale(c: String, v: Any): Option[Any] =
      unscaled(c, v).map(x => x: Any).orElse(wideRescaled(c, v))
    def toUnscaledDomain(f: Filter): Filter = f match {
      case EqualTo(c, v) => rescale(c, v).map(EqualTo(c, _)).getOrElse(f)
      case GreaterThan(c, v) => rescale(c, v).map(GreaterThan(c, _)).getOrElse(f)
      case GreaterThanOrEqual(c, v) =>
        rescale(c, v).map(GreaterThanOrEqual(c, _)).getOrElse(f)
      case LessThan(c, v) => rescale(c, v).map(LessThan(c, _)).getOrElse(f)
      case LessThanOrEqual(c, v) =>
        rescale(c, v).map(LessThanOrEqual(c, _)).getOrElse(f)
      case Not(inner) => Not(toUnscaledDomain(inner))
      case Or(l, r) => Or(toUnscaledDomain(l), toUnscaledDomain(r))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) &&
          colType(c).exists(_.isInstanceOf[DecimalType]) =>
        val us = vs.map(unscaled(c, _))
        if (us.forall(_.isDefined)) In(c, us.map(_.get: Any)) else f
      case _ => f
    }
    // partition on the unscaled-domain form, but hand RESIDUALS back as
    // the ORIGINAL objects — Spark rebuilds its catalyst expressions from
    // the exact Filter instances it passed in
    val pairs = filters.map(f => (f, toUnscaledDomain(f)))
    val (claimedPairs, residualPairs) = pairs.partition(p => claimable(p._2))
    pushed = claimedPairs.map(_._2)
    // residual cross-column ORs are still worth their page stats: keep a
    // skip-only form for row-group pruning (rows re-check the residual)
    skipOnly = residualPairs.map(_._2)
      .flatMap(f => ColePredicate.skipOnlyFromFilter(f).toSeq)
    residualPairs.map(_._1)
  }

  private var skipOnly: Array[ColeOrSkip] = Array.empty

  override def pushedFilters(): Array[Filter] = pushed

  /** Whole-aggregation pushdown (partial): SUM/MIN/MAX/COUNT — global or
    * grouped by plain columns — is answered inside the source and Spark
    * merges the partials. Globally, RLE pages aggregate per run and
    * MIN/MAX come from page stats with no page read at all; grouped,
    * chunks accumulate into a bounded hash (flushed past 64k groups, so
    * pathological keys degrade to the normal shuffle volume instead of
    * OOMing). The scan then moves group-count rows instead of row-count
    * rows: the reference's "aggregation at decode speed" (reference:
    * include/execution.h QueryExecutor::aggregate), expressed as DSv2
    * partial aggregate pushdown.
    *
    * Spark only attempts this when every filter was fully pushed (we keep
    * residuals, so any filtered query takes the vectorized path instead).
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // an empty aggregate list arrives when an outer count() pruned the
    // inner agg away — declining it keeps the normal scan path (returning
    // true with zero aggs would break Spark's column-count contract)
    if (aggregation.aggregateExpressions.isEmpty) return false
    // time travel: ColeAggScan plans from the LIVE listing — declining
    // snapshot-pinned reads push too (r9): every check below consults
    // the SNAPSHOT's file set, and the agg scan plans over it.
    // Merge-on-read DELETE (vector mode) keeps aggregate pushdown ON
    // (r10): the planner ships each file's deletion-vector ordinals in
    // the InputPartition (same plumbing as the row scan), and the agg
    // readers subtract them — COUNT stays metadata-exact (planned rows
    // minus vector counts, no data bytes), COUNT(col)/SUM/MIN/MAX on a
    // DV-bearing file fall off the footer/stat fast paths onto the
    // vector-masked chunk sweep (a stat min/max could name a DELETED
    // row's value). Files without vectors keep every fast path.
    // claimed filters are applied row-exactly inside the agg readers, so
    // filtered aggregation still pushes (Spark guarantees no residuals
    // remain when it offers the aggregation)
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          // defaulted columns missing from some file decline: the agg
          // readers credit absent columns as all-NULL, these rows read
          // their DEFAULT — the vectorized scan (which fills it) serves
          Some(nr.fieldNames.head).filter(fullSchema.fieldNames.contains)
            .filterNot(defaultedMissing)
        case _ => None
      }
    // GROUPING BY a partition column is fine — the key is a per-file
    // constant the reader emits without reading any chunk (a count-only
    // group-by over partition columns answers from footer metadata
    // alone). AGGREGATING a partition column is not: there is no chunk
    // to sweep, so those shapes fall back to the vectorized scan.
    def aggRef(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      ref(e).filter(n => !partCols.contains(n))
    // Decimal SUM partials must fit the ORIGINAL DecimalType(p, s):
    // Spark's partial-pushdown rewrite builds the final aggregate as
    // Sum(CAST(partial AS child.dataType)) — a partial needing more than
    // p digits overflows that cast (ANSI error) where the unpushed plan
    // (p+10 buffer) succeeds. Provable from footers alone: every file's
    // rows × max|unscaled| < 10^p bounds every per-partition partial
    // (partitions never span files). Unprovable (stats missing, or a
    // genuinely ledger-sized sum) → decline, the vectorized scan
    // aggregates with full headroom.
    def decimalSumFits(n: String, dt: DecimalType): Boolean = {
      val limit = java.math.BigInteger.TEN.pow(dt.precision)
      snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf)).forall { i =>
        val ci = i.meta.columns.indexWhere(_.name == n)
        ci < 0 || { // absent column: all NULL, contributes 0
          val m = i.meta
          m.rowGroups.indices.forall { rg =>
            val rows = java.math.BigInteger.valueOf(m.rowGroups(rg).numRows.toLong)
            val maxAbs: Option[java.math.BigInteger] =
              if (isWide(m.columns(ci).colType))
                m.statsMinMaxW(rg, ci).map { case ((aHi, aLo), (bHi, bLo)) =>
                  ColeFormat.wideToBigInteger(aHi, aLo).abs
                    .max(ColeFormat.wideToBigInteger(bHi, bLo).abs)
                }
              else m.statsMinMax(rg, ci).map { case (mn, mx) =>
                java.math.BigInteger.valueOf(mn).abs
                  .max(java.math.BigInteger.valueOf(mx).abs)
              }
            // bound the FILE total, not just this row group: a partition
            // may pack every row group of the file
            maxAbs.exists(_.multiply(java.math.BigInteger.valueOf(
              m.totalRows)).compareTo(limit) < 0)
          }
        }
      }
    }
    def sumOk(n: String): Boolean = fullSchema(n).dataType match {
      case IntegerType | LongType | DoubleType => true
      // ≤18: unscaled-long accumulation; 19–38: the int128 [hi,lo]
      // lane sweep — both emit Decimal partials, both pushed only
      // when footer stats PROVE every partial fits DecimalType(p, s)
      case dt: DecimalType if dt.precision <= 38 => decimalSumFits(n, dt)
      case _ => false
    }
    // string MIN/MAX pushes globally (answered from dictionary entries or
    // a value sweep) and grouped (byte-array accumulator slots per key);
    // timestamps and doubles min/max from their typed page stats/sweeps;
    // wide decimals min/max from (hi,lo) page stats or lane sweeps
    def minMaxOk(n: String): Boolean = fullSchema(n).dataType match {
      case IntegerType | LongType | TimestampType | TimestampNTZType |
        DoubleType | StringType => true
      case dt: DecimalType => dt.precision <= 38
      case _ => false
    }
    // null-bearing v2 tables push too: encoded page values cover present
    // rows only (the sweep IS the null-ignoring aggregate), COUNT(col)
    // answers from footer nullCounts, and the readers carry per-column
    // counts + NULL group keys for exact SQL null semantics
    // group keys must be scalar: the agg readers accumulate int/long/
    // double/string keys; a FLOAT_VECTOR key falls back to the normal scan
    // (decimal group KEYS also fall back: the accumulator hash keys by
    // primitive value, and re-wrapping keys per emission isn't worth the
    // rare decimal-grouped shape)
    val groups = aggregation.groupByExpressions.map(e =>
      ref(e).filter { n =>
        val dt = fullSchema(n).dataType
        !dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[DecimalType]
      })
    if (groups.exists(_.isEmpty)) return false
    val specs = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(ColeAggSpec("count_star", null))
      case c: Count if !c.isDistinct =>
        aggRef(c.column).map(ColeAggSpec("count", _)) // rows − footer nullCount
      case m: Min => aggRef(m.column).filter(minMaxOk).map(ColeAggSpec("min", _))
      case m: Max => aggRef(m.column).filter(minMaxOk).map(ColeAggSpec("max", _))
      case s: Sum if !s.isDistinct =>
        aggRef(s.column).filter(sumOk).map(ColeAggSpec("sum", _))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    // schema evolution: the agg readers address chunks by column index, so
    // a file predating a referenced column (group key, agg input, or a
    // claimed filter column) has no chunk to sweep — fall back to the row
    // scan, whose per-file NULL vectors apply exact semantics
    val referenced = (groups.flatten ++ specs.flatten.flatMap(s => Option(s.column)) ++
      pushed.flatMap(ColePredicate.fromFilter).map(_.column))
      .filterNot(partCols.contains).toSet
    if (referenced.nonEmpty) {
      val infos = snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf))
      if (infos.exists { i =>
        val have = i.meta.columns.map(_.name).toSet
        referenced.exists(!have.contains(_))
      }) return false
      // read-time type widening: a referenced column stored under
      // DIFFERENT physical types across files (INT32/INT64 mix, decimal
      // precision growth) falls back to the row scan — the sweep
      // accumulators and partial emission assume one type per column;
      // compaction homogenizes and pushdown returns
      if ((ColeUtil.typeMixedCols(infos) & referenced).nonEmpty) return false
      // renamed columns: agg readers resolve names against RAW executor
      // footers — decline until compaction rewrites under current names
      if (infos.exists(i => (i.renamed.keySet & referenced).nonEmpty))
        return false
    }
    pushedGroupCols = groups.flatten.toSeq
    pushedAggs = specs.flatten.toSeq
    // positional contract: group-by fields first, then one field per
    // aggregate, typed as the partial buffer Spark's rewritten final
    // aggregation expects
    aggSchema = StructType(
      pushedGroupCols.map(g =>
        StructField(g, fullSchema(g).dataType, fullSchema(g).nullable)) ++
        pushedAggs.zipWithIndex.map { case (sp, i) =>
          val dt = sp.kind match {
            case "min" | "max" => fullSchema(sp.column).dataType
            case "sum" if fullSchema(sp.column).dataType == DoubleType => DoubleType
            case "sum" if fullSchema(sp.column).dataType.isInstanceOf[DecimalType] =>
              // Spark's Sum(decimal) buffer type: 10 extra digits of headroom
              val d = fullSchema(sp.column).dataType.asInstanceOf[DecimalType]
              DecimalType(math.min(38, d.precision + 10), d.scale)
            case _ => LongType // counts and integral sums merge as BIGINT
          }
          // sum/min/max of zero surviving rows is NULL (counts are 0),
          // mirroring Spark's own partial-aggregate buffers
          StructField(s"agg_${i}_${sp.kind}${Option(sp.column).fold("")("_" + _)}",
            dt, nullable = sp.kind != "count" && sp.kind != "count_star")
        })
    true
  }

  private var pushedGroupCols: Seq[String] = Seq.empty

  override def build(): Scan =
    if (pushedAggs.nonEmpty)
      new ColeAggScan(path, conf, pushedGroupCols, pushedAggs, aggSchema,
        pushed.flatMap(ColePredicate.fromFilter), partCols, snapshot)
    else new ColeScan(fullSchema, required, path, conf, pushed, limit, topN, partCols,
      skipOnly, snapshot)
}

/** Numeric min/max predicate usable against page stats
  * (reference: include/execution.h:49-59) and row-exactly against
  * decoded values.
  */
private[cole] final case class ColePredicate(column: String, op: String, value: Long,
    strValue: Array[Byte] = null, values: Array[Long] = null,
    strValues: Array[Array[Byte]] = null,
    orChildren: Array[ColePredicate] = null,
    dblValue: Double = 0d, dblValues: Array[Double] = null,
    wHi: Long = 0L, wLo: Long = 0L, wScale: Int = -1) {

  /** String claims ("eqs" equality, "nes" inequality, "ins" membership,
    * "sw"/"ew"/"ct" starts-/ends-with/contains) are applied by
    * [[ColePredicate.buildSelection]]'s dictionary path: the predicate
    * evaluates once per dictionary ENTRY and rows compare ids (a chunk
    * whose dictionary matches nothing skips the whole row group); PLAIN
    * chunks fall back to byte comparison per row. Byte-wise prefix/suffix/
    * substring match is exact for UTF-8: a codepoint's encoding never
    * spans a boundary the pattern's own encoding doesn't share.
    */
  def isString: Boolean = op match {
    case "eqs" | "nes" | "ins" | "sw" | "ew" | "ct" => true
    case "or" => orChildren.head.isString
    case _ => false
  }

  /** Double comparisons ("d"-suffixed ops) evaluate against v2 TDouble
    * chunks and their double page stats.
    */
  def isDouble: Boolean = op match {
    case "eqd" | "gtd" | "ged" | "ltd" | "led" | "ind" | "ned" => true
    case "or" => orChildren.head.isDouble
    case _ => false
  }

  /** Wide-decimal comparisons ("w"-suffixed ops): evaluate against v2
    * TDecimalWide chunks via signed-128 lane compares; the literal's
    * unscaled value rides in (wHi,wLo) with its decimal scale in wScale —
    * the claim check requires wScale to equal the column's scale, so the
    * unscaled compare is exactly the value compare.
    */
  def isWideOp: Boolean = op match {
    case "eqw" | "gtw" | "gew" | "ltw" | "lew" | "new" => true
    case "or" => orChildren.head.isWideOp
    case _ => false
  }

  /** IsNotNull claim: rows pass unless null (the selection loop's null
    * guard rejects null rows for EVERY claimed predicate, which is
    * exactly SQL comparison semantics, so `nn` itself is a constant-true
    * leaf evaluated only on non-null rows).
    */
  def isNotNullClaim: Boolean = op == "nn"

  /** Row-exact evaluation over decoded string bytes. */
  def evalStr(b: Array[Byte]): Boolean = op match {
    case "nn" => true
    case "eqs" => java.util.Arrays.equals(b, strValue)
    case "nes" => !java.util.Arrays.equals(b, strValue)
    case "ins" => strValues.exists(java.util.Arrays.equals(b, _))
    case "sw" => b.length >= strValue.length &&
      java.util.Arrays.equals(b, 0, strValue.length, strValue, 0, strValue.length)
    case "ew" => b.length >= strValue.length &&
      java.util.Arrays.equals(b, b.length - strValue.length, b.length,
        strValue, 0, strValue.length)
    case "ct" => indexOfBytes(b, strValue) >= 0
    case "or" => orChildren.exists(_.evalStr(b))
    case _ => false
  }

  private def indexOfBytes(hay: Array[Byte], needle: Array[Byte]): Int = {
    if (needle.length == 0) return 0
    var i = 0
    val last = hay.length - needle.length
    while (i <= last) {
      if (java.util.Arrays.equals(hay, i, i + needle.length, needle, 0, needle.length))
        return i
      i += 1
    }
    -1
  }

  override def toString: String = {
    if (op == "or") return orChildren.mkString("(", " OR ", ")")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val v =
      if (strValue != null) new String(strValue, utf8)
      else if (values != null) values.mkString("(", ",", ")")
      else if (strValues != null)
        strValues.map(new String(_, utf8)).mkString("(", ",", ")")
      else value.toString
    s"$column $op $v"
  }

  /** True when NO row in a page with these stats can match. */
  def canSkip(stats: PageStats): Boolean =
    if (op == "or") orChildren.forall(_.canSkip(stats))
    else canSkipLeaf(stats)

  private def canSkipLeaf(stats: PageStats): Boolean =
    if (isWideOp) (stats.minW, stats.maxW) match {
      case (Some((mnHi, mnLo)), Some((mxHi, mxLo))) =>
        def cmpMin = ColeFormat.cmp128(wHi, wLo, mnHi, mnLo)
        def cmpMax = ColeFormat.cmp128(wHi, wLo, mxHi, mxLo)
        op match {
          case "eqw" => cmpMin < 0 || cmpMax > 0
          case "gtw" => cmpMax >= 0
          case "gew" => cmpMax > 0
          case "ltw" => cmpMin <= 0
          case "lew" => cmpMin < 0
          case "new" => cmpMin == 0 && cmpMax == 0
          case _ => false
        }
      case _ => false
    }
    else if (isDouble) (stats.minD, stats.maxD) match {
      case (Some(mn), Some(mx)) => op match {
        case "eqd" => dblValue < mn || dblValue > mx
        case "gtd" => mx <= dblValue
        case "ged" => mx < dblValue
        case "ltd" => mn >= dblValue
        case "led" => mn > dblValue
        case "ind" => dblValues.forall(v => v < mn || v > mx)
        case "ned" => mn == dblValue && mx == dblValue
        case _ => false
      }
      case _ => false
    } else (stats.minInt, stats.maxInt) match {
      case (Some(mn), Some(mx)) => op match {
        case "eq" => value < mn || value > mx
        case "gt" => mx <= value
        case "ge" => mx < value
        case "lt" => mn >= value
        case "le" => mn > value
        case "in" => values.forall(v => v < mn || v > mx)
        case "ne" => mn == value && mx == value
        case _ => false
      }
      case _ => false
    }

  /** True when EVERY row in a page with these stats must match — the dual
    * of [[canSkip]], used to prove a row group survives a filter intact
    * (e.g. for counting guaranteed rows toward a TopN stat threshold).
    */
  def mustKeep(stats: PageStats): Boolean =
    if (op == "or") orChildren.exists(_.mustKeep(stats))
    else mustKeepLeaf(stats)

  // nullCount == 0 guard everywhere: stats describe non-null rows only, so
  // a null-bearing page can never be PROVEN to keep every row (null rows
  // fail SQL comparisons)
  private def mustKeepLeaf(stats: PageStats): Boolean =
    if (op == "nn") stats.nullCount == 0
    else if (stats.nullCount > 0) false
    else if (isWideOp) (stats.minW, stats.maxW) match {
      case (Some((mnHi, mnLo)), Some((mxHi, mxLo))) =>
        def cmpMin = ColeFormat.cmp128(wHi, wLo, mnHi, mnLo)
        def cmpMax = ColeFormat.cmp128(wHi, wLo, mxHi, mxLo)
        op match {
          case "eqw" => cmpMin == 0 && cmpMax == 0
          case "gtw" => cmpMin < 0
          case "gew" => cmpMin <= 0
          case "ltw" => cmpMax > 0
          case "lew" => cmpMax >= 0
          case "new" => cmpMin < 0 || cmpMax > 0
          case _ => false
        }
      case _ => false
    }
    else if (isDouble) (stats.minD, stats.maxD) match {
      case (Some(mn), Some(mx)) => op match {
        case "eqd" => mn == dblValue && mx == dblValue
        case "gtd" => mn > dblValue
        case "ged" => mn >= dblValue
        case "ltd" => mx < dblValue
        case "led" => mx <= dblValue
        case "ind" => mn == mx && dblValues.contains(mn)
        case "ned" => dblValue < mn || dblValue > mx
        case _ => false
      }
      case _ => false
    } else (stats.minInt, stats.maxInt) match {
      case (Some(mn), Some(mx)) => op match {
        case "eq" => mn == value && mx == value
        case "gt" => mn > value
        case "ge" => mn >= value
        case "lt" => mx < value
        case "le" => mx <= value
        case "in" => mn == mx && values.contains(mn)
        case "ne" => value < mn || value > mx
        case _ => false
      }
      case _ => false
    }

  // op resolved to an int once at construction: eval runs per row in the
  // selection loop, a string match there is a megamorphic dispatch on
  // the hot path (and a lazy val would re-add a volatile read per row)
  private val opId: Int = op match {
    case "eq" => 0
    case "gt" => 1
    case "ge" => 2
    case "lt" => 3
    case "le" => 4
    case "in" => 5
    case "ne" => 6
    case "or" => 7
    case "nn" => 8 // constant-true: the selection loop's null guard does the work
    case "eqd" => 10
    case "gtd" => 11
    case "ged" => 12
    case "ltd" => 13
    case "led" => 14
    case "ind" => 15
    case "ned" => 16
    case "eqw" => 20
    case "gtw" => 21
    case "gew" => 22
    case "ltw" => 23
    case "lew" => 24
    case "new" => 25
    case _ => -1
  }

  // IN membership probes per row: sort once, binary-search in the loop
  private val sortedValues: Array[Long] =
    if (values == null) null
    else { val a = values.clone(); java.util.Arrays.sort(a); a }

  private val sortedDblValues: Array[Double] =
    if (dblValues == null) null
    else { val a = dblValues.clone(); java.util.Arrays.sort(a); a }

  /** Row-exact evaluation over a decoded value. */
  @inline def eval(v: Long): Boolean = (opId: @scala.annotation.switch) match {
    case 0 => v == value
    case 1 => v > value
    case 2 => v >= value
    case 3 => v < value
    case 4 => v <= value
    case 5 => java.util.Arrays.binarySearch(sortedValues, v) >= 0
    case 6 => v != value
    case 7 =>
      var i = 0
      while (i < orChildren.length) {
        if (orChildren(i).eval(v)) return true
        i += 1
      }
      false
    case 8 => true
    case _ => false
  }

  /** Row-exact evaluation over a decoded wide-decimal (hi,lo) lane pair. */
  @inline def evalW(hi: Long, lo: Long): Boolean = {
    (opId: @scala.annotation.switch) match {
      case 20 => hi == wHi && lo == wLo
      case 21 => ColeFormat.cmp128(hi, lo, wHi, wLo) > 0
      case 22 => ColeFormat.cmp128(hi, lo, wHi, wLo) >= 0
      case 23 => ColeFormat.cmp128(hi, lo, wHi, wLo) < 0
      case 24 => ColeFormat.cmp128(hi, lo, wHi, wLo) <= 0
      case 25 => hi != wHi || lo != wLo
      case 7 =>
        var i = 0
        while (i < orChildren.length) {
          if (orChildren(i).evalW(hi, lo)) return true
          i += 1
        }
        false
      case 8 => true
      case _ => false
    }
  }

  /** Row-exact evaluation over a decoded v2 double. */
  @inline def evalD(v: Double): Boolean = (opId: @scala.annotation.switch) match {
    case 10 => v == dblValue
    case 11 => v > dblValue
    case 12 => v >= dblValue
    case 13 => v < dblValue
    case 14 => v <= dblValue
    case 15 => java.util.Arrays.binarySearch(sortedDblValues, v) >= 0
    case 16 => v != dblValue
    case 7 =>
      var i = 0
      while (i < orChildren.length) {
        if (orChildren(i).evalD(v)) return true
        i += 1
      }
      false
    case 8 => true
    case _ => false
  }
}

private[cole] object ColePredicate {
  private[cole] def num(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    // timestamp literals compare against TTimestamp chunks as micros —
    // the same representation Spark's InternalRow uses
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case l: java.time.LocalDateTime => // TimestampNTZ literals
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l))
    case _ => None
  }

  private[cole] def dbl(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case _ => None
  }

  /** Decimal literal → (hi, lo, scale) in the wide unscaled domain. The
    * literal's OWN scale is recorded; the pushdown claim check requires
    * it to equal the column's scale (pushFilters rescales exactly first),
    * so a claimed wide compare is never off by a power of ten.
    */
  private[cole] def wide(v: Any): Option[(Long, Long, Int)] = {
    val bd: java.math.BigDecimal = v match {
      case d: java.math.BigDecimal => d
      case d: scala.math.BigDecimal => d.underlying
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case _ => null
    }
    if (bd == null || bd.unscaledValue.bitLength > 127) None
    else {
      val (hi, lo) = ColeFormat.wideFromBigInteger(bd.unscaledValue)
      Some((hi, lo, bd.scale))
    }
  }

  private def wideP(c: String, opW: String, v: Any): Option[ColePredicate] =
    wide(v).map { case (hi, lo, sc) =>
      ColePredicate(c, opW, 0L, wHi = hi, wLo = lo, wScale = sc)
    }

  /** IN lists above this stay residual: preds ship inside every input
    * partition, so an unbounded value list would bloat task serialization.
    */
  private[cole] val MaxInValues = 1024

  def fromFilter(f: Filter): Option[ColePredicate] = f match {
    case EqualTo(c, v: String) =>
      Some(ColePredicate(c, "eqs", 0L,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case EqualTo(c, v: org.apache.spark.unsafe.types.UTF8String) =>
      Some(ColePredicate(c, "eqs", 0L, v.getBytes))
    case EqualTo(c, v) => num(v).map(ColePredicate(c, "eq", _))
      .orElse(dbl(v).map(d => ColePredicate(c, "eqd", 0L, dblValue = d)))
      .orElse(wideP(c, "eqw", v))
    case GreaterThan(c, v) => num(v).map(ColePredicate(c, "gt", _))
      .orElse(dbl(v).map(d => ColePredicate(c, "gtd", 0L, dblValue = d)))
      .orElse(wideP(c, "gtw", v))
    case GreaterThanOrEqual(c, v) => num(v).map(ColePredicate(c, "ge", _))
      .orElse(dbl(v).map(d => ColePredicate(c, "ged", 0L, dblValue = d)))
      .orElse(wideP(c, "gew", v))
    case LessThan(c, v) => num(v).map(ColePredicate(c, "lt", _))
      .orElse(dbl(v).map(d => ColePredicate(c, "ltd", 0L, dblValue = d)))
      .orElse(wideP(c, "ltw", v))
    case LessThanOrEqual(c, v) => num(v).map(ColePredicate(c, "le", _))
      .orElse(dbl(v).map(d => ColePredicate(c, "led", 0L, dblValue = d)))
      .orElse(wideP(c, "lew", v))
    case IsNotNull(c) => Some(ColePredicate(c, "nn", 0L))
    case In(c, vs) if vs.length <= MaxInValues && !vs.contains(null) =>
      val nums = vs.flatMap(num)
      if (nums.length == vs.length)
        Some(ColePredicate(c, "in", 0L, values = nums))
      else {
        val dbls = vs.flatMap(dbl)
        val strs = vs.collect {
          case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case u: org.apache.spark.unsafe.types.UTF8String => u.getBytes
        }
        if (dbls.length == vs.length)
          Some(ColePredicate(c, "ind", 0L, dblValues = dbls))
        else if (strs.length == vs.length)
          Some(ColePredicate(c, "ins", 0L, strValues = strs))
        else None
      }
    case Not(EqualTo(c, v: String)) =>
      Some(ColePredicate(c, "nes", 0L,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case Not(EqualTo(c, v: org.apache.spark.unsafe.types.UTF8String)) =>
      Some(ColePredicate(c, "nes", 0L, v.getBytes))
    case Not(EqualTo(c, v)) => num(v).map(ColePredicate(c, "ne", _))
      .orElse(dbl(v).map(d => ColePredicate(c, "ned", 0L, dblValue = d)))
      .orElse(wideP(c, "new", v))
    case StringStartsWith(c, v) =>
      Some(ColePredicate(c, "sw", 0L,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case StringEndsWith(c, v) =>
      Some(ColePredicate(c, "ew", 0L,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case StringContains(c, v) =>
      Some(ColePredicate(c, "ct", 0L,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // same-column disjunction: skip only when EVERY branch is impossible,
    // evaluate rows as exists(branch). Cross-column ORs stay residual —
    // they cannot be decided against a single column's decoded values.
    case Or(l, r) =>
      for {
        lp <- fromFilter(l)
        rp <- fromFilter(r)
        if lp.column == rp.column && lp.isString == rp.isString &&
          lp.isDouble == rp.isDouble && lp.isWideOp == rp.isWideOp &&
          // wide branches with mismatched literal scales can't share one
          // chunk's unscaled domain — keep the disjunction residual
          (!lp.isWideOp || lp.wScale == rp.wScale)
      } yield {
        def flat(p: ColePredicate): Array[ColePredicate] =
          if (p.op == "or") p.orChildren else Array(p)
        ColePredicate(lp.column, "or", 0L, orChildren = flat(lp) ++ flat(rp))
      }
    case _ => None
  }

  /** A CROSS-column disjunction converts to a skip-only form when every
    * branch converts on its own column: the filter stays residual (rows
    * cannot be decided against one column's decoded values) but a row
    * group whose stats prove EVERY branch impossible is still pruned at
    * planning. At 100 TB, `status = 'X' OR amount > 1e9` style filters
    * then skip most of the table instead of reading it into the residual.
    */
  def skipOnlyFromFilter(f: Filter): Option[ColeOrSkip] = f match {
    case Or(_, _) =>
      def branches(x: Filter): Option[Seq[ColePredicate]] = x match {
        case Or(a, b) => for { u <- branches(a); v <- branches(b) } yield u ++ v
        case other => fromFilter(other)
          .map(p => if (p.op == "or") p.orChildren.toSeq else Seq(p))
      }
      branches(f).map(bs => ColeOrSkip(bs.toArray))
    case _ => None
  }

  /** Evaluate a predicate against a partition column's directory value
    * (a per-file constant): used for file-level pruning.
    */
  def partitionKeeps(p: ColePredicate, raw: String): Boolean =
    if (p.isString) p.evalStr(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else raw.toLongOption.forall(p.eval)

  /** Skip a row group when some predicate eliminates every page of its
    * column's chunk — shared by the data scan and the aggregate scan so
    * both paths always prune the same set.
    */
  def skipRowGroup(rg: RowGroupMeta, nameToIdx: Map[String, Int],
      preds: Array[ColePredicate]): Boolean =
    preds.exists { p =>
      nameToIdx.get(p.column).exists { ci =>
        val pages = rg.chunks(ci).pages
        pages.nonEmpty && pages.forall(ph => p.canSkip(ph.stats))
      }
    }

  /** True when the stats PROVE every row of the row group passes every
    * predicate — the group's row count can then be credited as guaranteed
    * filter survivors (conservative: unproven is just uncredited, never
    * skipped).
    */
  def fullyKeepsRowGroup(rg: RowGroupMeta, nameToIdx: Map[String, Int],
      preds: Array[ColePredicate]): Boolean =
    preds.forall { p =>
      nameToIdx.get(p.column).exists { ci =>
        val pages = rg.chunks(ci).pages
        pages.nonEmpty && pages.forall(ph => p.mustKeep(ph.stats))
      }
    }

  /** Per-column evaluator for the selection loop: one impl per physical
    * shape, so the hot loop does one (at most bimorphic) call per
    * (row, column) instead of re-dispatching on the data shape per row.
    */
  private sealed trait ColEval { def ok(r: Int): Boolean }
  // every evaluator rejects null rows up front: SQL comparisons (and a
  // claimed IsNotNull) are never satisfied by NULL
  private final class NumEval(ps: Array[ColePredicate], cd: ColumnData) extends ColEval {
    def ok(r: Int): Boolean = {
      if (cd.nulls != null && cd.nulls(r)) return false
      val v = if (cd.ints != null) cd.ints(r).toLong else cd.longs(r)
      var pi = 0
      while (pi < ps.length) { if (!ps(pi).eval(v)) return false; pi += 1 }
      true
    }
  }
  private final class DblEval(ps: Array[ColePredicate], cd: ColumnData) extends ColEval {
    def ok(r: Int): Boolean = {
      if (cd.nulls != null && cd.nulls(r)) return false
      val v = cd.doubles(r)
      var pi = 0
      while (pi < ps.length) { if (!ps(pi).evalD(v)) return false; pi += 1 }
      true
    }
  }
  private final class WideEval(ps: Array[ColePredicate], cd: ColumnData) extends ColEval {
    def ok(r: Int): Boolean = {
      if (cd.nulls != null && cd.nulls(r)) return false
      val hi = cd.wides(2 * r); val lo = cd.wides(2 * r + 1)
      var pi = 0
      while (pi < ps.length) { if (!ps(pi).evalW(hi, lo)) return false; pi += 1 }
      true
    }
  }
  /** DICTIONARY chunk + string predicates: every predicate evaluates once
    * per dictionary ENTRY (equality and IN alike), rows then test one
    * boolean per id. A dictionary matching nothing is the page-skip case —
    * handled by the caller, never reaches the row loop.
    */
  private final class DictEval(matches: Array[Boolean], ids: Array[Int]) extends ColEval {
    def ok(r: Int): Boolean = matches(ids(r))
  }
  private final class StrEval(ps: Array[ColePredicate], cd: ColumnData) extends ColEval {
    def ok(r: Int): Boolean = {
      if (cd.nulls != null && cd.nulls(r)) return false
      val b = cd.strings(r)
      var pi = 0
      while (pi < ps.length) {
        if (!ps(pi).evalStr(b)) return false
        pi += 1
      }
      true
    }
  }

  private val EmptySelection = Array.empty[Int]

  /** Selection vector for one row group: indices of rows passing ALL
    * predicates (conjunctive, row-exact over decoded values). String
    * equality against a DICTIONARY-encoded chunk compares dictionary ids
    * (one lookup per chunk); a value absent from the dictionary proves
    * zero matches without touching any other column.
    */
  def buildSelection(reader: ColeFileReader, rgIdx: Int, nRows: Int,
      nameToIdx: Map[String, Int], preds: Array[ColePredicate]): Array[Int] = {
    val byCol = new Array[ColEval](preds.map(_.column).distinct.length)
    var bi = 0
    for (c <- preds.map(_.column).distinct) {
      val ps = preds.filter(_.column == c)
      val colIdx = nameToIdx(c)
      // dispatch by the COLUMN's physical type (not the predicate's): a
      // lone claimed IsNotNull carries no type of its own
      val colType = reader.meta.columns(colIdx).colType
      if (colType == TString) {
        val dict = reader.readStringChunkDict(rgIdx, colIdx)
        if (dict != null) {
          val (entries, ids) = dict
          val matches = new Array[Boolean](entries.length)
          var any = false
          var ei = 0
          while (ei < entries.length) {
            var ok = true
            var pi = 0
            while (ok && pi < ps.length) { ok = ps(pi).evalStr(entries(ei)); pi += 1 }
            matches(ei) = ok
            if (ok) any = true
            ei += 1
          }
          if (!any) return EmptySelection // dictionary matches nothing
          byCol(bi) = new DictEval(matches, ids)
        } else {
          byCol(bi) = new StrEval(ps, reader.readChunk(rgIdx, colIdx))
        }
      } else if (colType == TDouble) {
        byCol(bi) = new DblEval(ps, reader.readChunk(rgIdx, colIdx))
      } else if (isWide(colType)) {
        byCol(bi) = new WideEval(ps, reader.readChunk(rgIdx, colIdx))
      } else {
        byCol(bi) = new NumEval(ps, reader.readChunk(rgIdx, colIdx))
      }
      bi += 1
    }
    val sel = new Array[Int](nRows)
    var m = 0
    var r = 0
    while (r < nRows) {
      var ok = true
      var ci = 0
      while (ok && ci < byCol.length) { ok = byCol(ci).ok(r); ci += 1 }
      if (ok) { sel(m) = r; m += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(sel, m)
  }
}

/** A slice of one file: several consecutive surviving row groups, packed
  * so a partition carries ~maxPartitionBytes of projected chunk data. One
  * task per row group would drown 100 TB reads in task-launch overhead
  * (~1 ms each); one task per file would cap parallelism at the file
  * count. Packing by projected bytes keeps tasks at the same granularity
  * Spark uses for parquet splits.
  */
final case class ColeInputPartition(file: String, rowGroups: Array[Int],
    colIndices: Array[Int], rowCounts: Array[Int],
    preds: Array[ColePredicate] = Array.empty,
    partValues: Array[(String, String)] = Array.empty,
    partKey: InternalRow = null,
    /** Deletion-vector ordinals per packed row group (parallel to
      * `rowGroups`; null = no deletions): LOCAL row positions the readers
      * subtract from every selection. Merge-on-read DELETE (ColeDv).
      */
    deleted: Array[Array[Int]] = null) extends InputPartition with HasPartitionKey {
  /** Typed hive-partition values, set only when the owning scan reports
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * — Spark then groups partitions by this key and co-partitioned joins /
    * partition-key aggregates run with zero Exchange (storage-partitioned
    * join). Null for unpartitioned tables, where the scan reports
    * UnknownPartitioning and Spark never calls this.
    */
  override def partitionKey(): InternalRow = partKey
}

private[cole] object ColePack {
  /** Greedy-pack (rgIdx, rows, bytes) triples into partitions of roughly
    * targetBytes of projected data.
    */
  def pack(file: String, colIndices: Array[Int],
      rgs: Seq[(Int, Int, Long)], targetBytes: Long,
      preds: Array[ColePredicate] = Array.empty,
      partValues: Array[(String, String)] = Array.empty,
      deletedOf: Int => Array[Int] = _ => null): Seq[ColeInputPartition] = {
    val out = scala.collection.mutable.ArrayBuffer[ColeInputPartition]()
    val idxs = scala.collection.mutable.ArrayBuffer[Int]()
    val rows = scala.collection.mutable.ArrayBuffer[Int]()
    var acc = 0L
    def flush(): Unit = if (idxs.nonEmpty) {
      val dels = idxs.map(deletedOf)
      out += ColeInputPartition(file, idxs.toArray, colIndices, rows.toArray, preds,
        partValues,
        deleted = if (dels.forall(_ == null)) null else dels.toArray)
      idxs.clear(); rows.clear(); acc = 0L
    }
    rgs.foreach { case (rgIdx, nRows, bytes) =>
      if (acc > 0 && acc + bytes > targetBytes) flush()
      idxs += rgIdx; rows += nRows; acc += bytes
    }
    flush()
    out.toSeq
  }

  def targetBytes: Long =
    try org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    catch { case _: Throwable => 128L * 1024 * 1024 }
}

class ColeScan(fullSchema: StructType, required: StructType, path: String,
    conf: Configuration, filters: Array[Filter], limit: Int = -1,
    topN: Option[(String, Boolean, Int)] = None,
    partCols: Set[String] = Set.empty,
    skipOnly: Array[ColeOrSkip] = Array.empty,
    /** Time travel: a pinned file set from [[ColeVersions.snapshotInfos]]
      * replaces the live listing everywhere this scan consults file
      * metadata. Stats/limit/topN skipping work unchanged (they are
      * per-footer); bucket pruning, SPJ reporting and sorted-order
      * claims ride the AS-OF bucket spec the commit log recorded (r9) —
      * absent for pre-r9 logs and feed reads, which then plan flat.
      */
    snapshot: Option[ColeSnapshot] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val hconf = new ColeHadoopConf(conf)

  private def tableInfos: Seq[ColeMetaCache.FileInfo] =
    snapshot.map(_.infos).getOrElse(ColeMetaCache.infos(path, conf))

  /** Hive-layout partition keys in directory-nesting order, with their
    * inferred types — the scan's reported clustering. A table partitioned
    * on the same keys as another joins it with NO shuffle on either side
    * (storage-partitioned join), and a `groupBy(partition cols)` needs no
    * exchange: at 100 TB that turns the dominant cost of a co-partitioned
    * fact-fact join from a full-corpus shuffle into zero.
    */
  private lazy val partKeySchema: Seq[(String, String)] =
    ColeMetaCache.partitionSchema(tableInfos,
      ColePartEvolve.evolvedCols(path, conf))

  /** Keys participating in the REPORTED partitioning. Under a composed
    * temporal+bucket layout the temporal ordinal prunes directories but
    * is withdrawn from the SPJ claim (its value domain is
    * engine-internal, see [[outputPartitioning]]), so the clustering is
    * `bucket(n, col)` alone — the partitions of one bucket across unit
    * directories then group into ONE key partition, and a ts-filtered
    * join on the bucket key still plans zero Exchange.
    */
  private lazy val reportedKeySchema: Seq[(String, String)] =
    if (bucketSpec.isDefined && partKeySchema.map(_._1)
        .filterNot(ColeTemporal.isDerivedKey) == Seq(activeBucketKey))
      partKeySchema.filter(_._1 == activeBucketKey)
    else partKeySchema

  private[cole] def partKeyRow(pv: Array[(String, String)]): InternalRow = {
    val m = pv.toMap
    InternalRow.fromSeq(reportedKeySchema.map { case (k, tpe) =>
      val raw = m(k)
      tpe match {
        case "int" => raw.toInt
        case "long" => raw.toLong
        case _ => UTF8String.fromString(raw)
      }
    })
  }

  /** Hashed-bucket layout, read lazily from the `_bucketspec` sidecar:
    * when present, the clustering is `bucket(n, col)` — resolvable only
    * through a [[ColeCatalog]]-provided FunctionCatalog, which is what
    * lets two same-bucketed HIGH-cardinality tables (orders ⋈ lineitem on
    * orderkey) join with zero Exchange; identity-partitioned SPJ only ever
    * suited nation-grade keys. Non-catalog reads still plan fine — Spark
    * just can't resolve the transform and falls back to shuffling.
    */
  private lazy val bucketHistory: Seq[ColeBucket.Era] =
    snapshot.fold(ColeBucket.readHistory(path, conf))(_.bucketHistory)

  /** The ACTIVE era's directory key — what SPJ reporting compares the
    * listed partition keys against: a mixed-era table (old eras not yet
    * rebucketed) lists several bucket keys, fails the comparison, and
    * the co-partitioning claim withdraws automatically (different eras
    * are NOT co-bucketed); once `rebucket` rewrites the old eras the
    * claim returns, also automatically.
    */
  private lazy val activeBucketKey: String =
    bucketHistory.lastOption.map(_.dirKey).getOrElse(ColeBucket.DirKey)

  private lazy val bucketSpec: Option[(Int, Seq[String])] =
    snapshot.fold(ColeBucket.readSpec(path, conf))(_.bucketSpec)

  /** Merge-on-read DELETE: vector mode loads per-file deletion vectors
    * at planning (one existence probe for the marker, sidecar reads
    * cached) and every count-exact fast path (limit truncation, TopN
    * threshold pruning) turns off — footer counts describe physical,
    * not live, rows. Zero cost when the table never opted in.
    */
  private lazy val dvMode: Boolean =
    snapshot.isEmpty && ColeDv.vectorModeFor(path, conf)

  /** Synthetic-key derivation (bucketKey layouts): lets composite point
    * lookups prune buckets from equality on the SOURCE key tuple, with
    * no reference to the stored synth column.
    */
  private lazy val bucketDerive: Option[(String, Seq[String])] =
    snapshot.fold(ColeBucket.readDerivation(path, conf))(_.bucketDerive)

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketSpec match {
      case Some((n, cs)) if reportedKeySchema.map(_._1) == Seq(activeBucketKey) =>
        // bucket-only, or temporal+bucket composed (the temporal ordinal
        // withdrawn — each bucket's partitions across unit directories
        // share one reported key): distinct BUCKET values, not distinct
        // directory tuples
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, cs: _*)),
          tableInfos.flatMap(_.partValues.collectFirst {
            case (k, v) if k == activeBucketKey => v }).distinct.size)
      case _ =>
        // a temporal-derived key is not a schema column: an identity
        // report on it would fail resolution, and a days()/hours()
        // transform report would claim Spark's OWN transform value
        // domain (session-timezone epoch units, Int-typed) for our
        // UTC-Long ordinals — withdraw the SPJ claim instead; dir
        // pruning (the layout's actual point) is unaffected. A bucket
        // key landing here means a MIXED-ERA table (evolution without
        // rebucket yet): withdraw too — eras are not co-bucketed, and
        // an identity report would even crash on files lacking a key
        if (partKeySchema.isEmpty ||
            partKeySchema.exists(k => ColeTemporal.isDerivedKey(k._1) ||
              ColeBucket.isBucketKey(k._1)))
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
        else new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partKeySchema.map(k =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(k._1)).toArray,
          tableInfos.map(_.partValues).distinct.size)
    }

  /** Sorted-bucket layouts REPORT their order, so a sort-merge join (or
    * sort-based aggregation) over co-bucketed tables skips its Sort
    * nodes entirely — on top of the zero-Exchange storage-partitioned
    * join, the scan's output is already the SMJ's required ordering. At
    * 100 TB that turns "shuffle nothing, then sort everything" into
    * "shuffle nothing, sort nothing".
    *
    * Truthfulness bound: each bucket file is written sorted (the write's
    * RequiresDistributionAndOrdering), and an InputPartition never spans
    * files — but Spark's key-grouped execution CONCATENATES the
    * partitions of a bucket, so the claim is only valid when every
    * bucket directory holds exactly ONE file: the POST-COMPACTION steady
    * state (synthetic-key compaction re-sorts by the natural tuple). A
    * multi-task clustered write leaves one file per task per bucket, and
    * appends add more — both silently withdraw the claim and the Sort
    * comes back, the safe fallback; ColeCompact restores it. Sort
    * columns: the natural key tuple for synthetic-key layouts (what the
    * files are physically ordered by), the bucket columns otherwise.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
    if (bucketSpec.isEmpty) return Array.empty
    val sortCols = bucketDerive.map(_._2).getOrElse(bucketSpec.get._2)
    val infos = tableInfos
    val oneFilePerBucket = infos.nonEmpty &&
      partKeySchema.map(_._1) == Seq(activeBucketKey) &&
      infos.groupBy(_.partValues).forall(_._2.size == 1)
    // only claim columns the pruned output actually carries — Spark
    // resolves the references against the scan's output attributes
    if (oneFilePerBucket && sortCols.forall(required.fieldNames.contains))
      sortCols.map(c => E.sort(E.column(c), SortDirection.ASCENDING)).toArray
    else Array.empty
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ColeScan path=$path, pushed=[${filters.mkString(", ")}]" +
      (if (skipOnly.nonEmpty) s", SkipOnly: [${skipOnly.mkString(", ")}]" else "") +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      topN.fold("") { case (c, desc, n) =>
        s", PushedTopN: [${if (desc) s"$c DESC" else s"$c ASC"} LIMIT $n]" }

  /** Runtime (dynamic) filtering: join-produced IN-filters arrive after
    * planning and prune row groups by the same page stats — the DSv2 side
    * of dynamic partition pruning. A join against a filtered dim table
    * then reads only the COLE row groups whose stat ranges intersect the
    * surviving keys; IN-filters on PARTITION columns prune whole files
    * (classic dynamic partition pruning at the directory level).
    */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns in the PRUNED read schema: Spark resolves these against
    // the relation's (column-pruned) output, and a reference to a dropped
    // column throws in PartitionPruning.getFilterableTableScan
    required.fields
      .filter(f => f.dataType == IntegerType || f.dataType == LongType ||
        partCols.contains(f.name))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(newFilters: Array[Filter]): Unit =
    runtimeFilters = newFilters

  /** Surviving row groups, packed into ~maxPartitionBytes partitions.
    * Which files and row groups the claimed predicates (and any runtime
    * IN-filters) can touch is [[ColePlan]]'s decision; the scan adds its
    * own steps: TopN/LIMIT credit, packing and key-grouped partitions.
    */
  override def planInputPartitions(): Array[InputPartition] =
    planPartitions(_ => true, memoize = !dvMode)

  /** Planning entry for the micro-batch stream: exactly one batch's new
    * files, planned afresh with the same pruning and packing as a batch
    * scan.
    */
  private[cole] def planPartitionsOf(fileKeep: String => Boolean): Array[InputPartition] =
    planPartitions(fileKeep, memoize = false)

  /** Plans by (listing, runtime filters): Spark plans every copy of the
    * scan's exec node (adaptive execution re-applies its physical rules
    * to a copy), and a runtime-filtered planning needs the static plan
    * again; each comes from here once. A new listing (a commit, a retried
    * statement) plans afresh. Live deletion vectors change without the
    * listing, so their plans are never kept.
    */
  private val planned = scala.collection.mutable.HashMap.empty[
    (Seq[(String, Long, Long)], Seq[Filter]), Array[ColeInputPartition]]

  /** Runtime-filter contract: when this scan reported
    * KeyGroupedPartitioning, the re-plan after `filter(...)` must not
    * SHRINK the set of partition keys Spark recorded at planning time —
    * BatchScanExec requires HasPartitionKey on every partition and
    * rejects keys it has never seen, and a shrunken set degrades the
    * storage-partitioned join's alignment. So every key of the static
    * plan (runtime filters ignored, byte-identical to what Spark
    * recorded) that the runtime filters pruned re-emits as a
    * ZERO-row-group partition: reads nothing, preserves the key set.
    */
  private def planPartitions(fileKeep: String => Boolean,
      memoize: Boolean): Array[InputPartition] = {
    val infos = tableInfos
    def plannedFor(rt: Array[Filter]): Array[ColeInputPartition] =
      if (!memoize) plannedPartitions(infos, fileKeep, rt)
      else planned.synchronized {
        planned.getOrElseUpdate((infos.map(i => (i.path, i.len, i.mtime)), rt.toSeq),
          plannedPartitions(infos, fileKeep, rt))
      }
    val rt = runtimeFilters
    val parts = plannedFor(rt)
    if (rt.isEmpty || partKeySchema.isEmpty) return parts.toArray[InputPartition]
    val present = parts.iterator.map(_.partValues.toSeq).toSet
    val missing = plannedFor(Array.empty).iterator
      .filter(p => !present.contains(p.partValues.toSeq))
      .map(p => p.partValues.toSeq -> p).toMap
    (parts ++ missing.values.map(p => p.copy(rowGroups = Array.empty,
      rowCounts = Array.empty, preds = Array.empty))).toArray[InputPartition]
  }

  private def plannedPartitions(infos: Seq[ColeMetaCache.FileInfo],
      fileKeep: String => Boolean, runtime: Array[Filter]): Array[ColeInputPartition] = {
    val plan = ColePlan.plan(path, conf, infos, snapshot,
      filters.flatMap(ColePredicate.fromFilter), runtime, skipOnly, fileKeep)
    // `_cole_file` (SupportsMetadataColumns): a per-file constant served
    // through the partition-value mechanism, never a footer column
    val wantFileCol = required.fieldNames.contains(ColeUtil.FileMetaCol)
    // per surviving row group: (file, colIndices, rgIdx, rows, projected
    // bytes, topN column min/max, every row passes)
    val survivors = plan.files.flatMap { f =>
      val meta = f.info.meta
      val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
      val dirKeys = f.info.partValues.iterator.map(_._1).toSet
      // per-field source over the WHOLE required schema: ConstSrc for
      // metadata columns and anything THIS file's directory carries,
      // -1 for absent (pre-evolution NULL/default), footer index else
      val colIndices = required.fieldNames.map { n =>
        if (n == ColeUtil.FileMetaCol || n == ColeUtil.PosMetaCol ||
          dirKeys.contains(n)) ColeUtil.ConstSrc
        else nameToIdx.getOrElse(n, -1)
      }
      val topCol = topN.flatMap { case (c, _, _) => nameToIdx.get(c) }
      f.groups.indices.map { k =>
        val rg = meta.rowGroups(f.groups(k))
        (f, colIndices, f.groups(k), rg.numRows,
          colIndices.filter(_ >= 0).map(ci => rg.chunks(ci).totalSize).sum,
          topCol.flatMap(meta.statsMinMax(f.groups(k), _)), f.full(k))
      }
    }
    // ORDER BY col LIMIT n data skipping: at least n FILTER-SURVIVING rows
    // provably sit at or past a stat threshold — any row group whose whole
    // range falls on the wrong side of it cannot contribute to the top n.
    // With predicates claimed, only row groups the stats prove fully pass
    // every filter are credited toward the n (partially-passing groups are
    // retained but never counted), so the threshold stays conservative.
    // deletion vectors: the planner holds each row group's EXACT deleted
    // count, so live-row lower bounds stay available for the counting
    // prunes below. Stats remain physical: a deleted row may still supply
    // a group's min/max, which only makes thresholds MORE conservative.
    def liveRows(f: ColePlan.File, rgIdx: Int, rows: Int): Long =
      rows - Option(f.deletedOf(rgIdx)).fold(0)(_.length).toLong
    val afterTopN = topN match {
      case Some((_, desc, n)) =>
        val withStats = survivors.filter(r => r._6.isDefined && r._7)
        // Ordering.reverse, NOT negation: -Long.MinValue overflows and
        // would rank a MinValue-min group first, corrupting the threshold
        val ranked = if (desc) withStats.sortBy(r => r._6.get._1)(Ordering[Long].reverse)
          else withStats.sortBy(r => r._6.get._2)
        var cum = 0L
        var threshold: Option[Long] = None
        ranked.foreach { r =>
          if (threshold.isEmpty) {
            // credit only LIVE rows: every live row of a fully-passing
            // group is ≥ its physical min (desc case), so the count is a
            // sound lower bound on filter-surviving rows past the stat
            cum += liveRows(r._1, r._3, r._4)
            if (cum >= n) threshold = Some(if (desc) r._6.get._1 else r._6.get._2)
          }
        }
        threshold match {
          case Some(t) => survivors.filter(r => r._6.isEmpty ||
            (if (desc) r._6.get._2 >= t else r._6.get._1 <= t))
          case None => survivors // fewer than n guaranteed rows: keep all
        }
      case _ => survivors
    }
    val packed = afterTopN.groupBy(_._1.info.path).toSeq.sortBy(_._1).flatMap {
      case (file, rgs) =>
        val f = rgs.head._1
        ColePack.pack(file, rgs.head._2,
          rgs.map(r => (r._3, r._4, r._5)).sortBy(_._1), ColePack.targetBytes, f.preds,
          (if (wantFileCol) f.info.partValues :+ (ColeUtil.FileMetaCol -> file)
          else f.info.partValues).toArray,
          deletedOf = f.deletedOf)
    }
    // typed partition keys make every InputPartition key-groupable —
    // outputPartitioning() reports the clustering these keys realize.
    // All-or-none per planning: the STREAMING source shares one scan
    // across a long-lived query, and a layout evolution mid-stream
    // (evolve_bucket / evolve_temporal) can land files whose directories
    // no longer carry the schema this scan first inferred — those
    // plannings withdraw the key claim for the batch instead of
    // crashing on a missing key (batch scans are constructed fresh per
    // query and never see the mismatch)
    val keyable = partKeySchema.nonEmpty && {
      val keys = reportedKeySchema.map(_._1)
      packed.forall { p =>
        val m = p.partValues.toMap
        keys.forall(m.contains)
      }
    }
    val parts =
      if (!keyable) packed
      else packed.map(p => p.copy(partKey = partKeyRow(p.partValues)))
    // a pushed LIMIT can stop planning once enough rows are covered,
    // truncated at row-group granularity (Spark trims to the exact count
    // above the scan), when every planned row group passes every
    // predicate whole: it then delivers EXACTLY rows − deleted(rg) rows.
    // skipOnly nonempty means a row-dropping residual filter exists above
    // the scan — never stop planning early on a pushed limit then.
    if (limit >= 0 && skipOnly.isEmpty && plan.files.forall(_.full.forall(identity))) {
      val out = scala.collection.mutable.ArrayBuffer[ColeInputPartition]()
      var covered = 0L
      val it = parts.iterator
      while (covered < limit && it.hasNext) {
        val p = it.next()
        var keep = 0
        while (keep < p.rowGroups.length && covered < limit) {
          covered += p.rowCounts(keep) - (if (p.deleted == null ||
            p.deleted(keep) == null) 0 else p.deleted(keep).length)
          keep += 1
        }
        out += (if (keep == p.rowGroups.length) p
          else p.copy(rowGroups = p.rowGroups.take(keep),
            rowCounts = p.rowCounts.take(keep),
            deleted = if (p.deleted == null) null else p.deleted.take(keep)))
      }
      out.toArray
    } else parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // exists-defaults ride the required schema's field metadata into the
    // readers (re-attached here: Spark's pruning may rebuild fields bare)
    new ColeReaderFactory(ColeDefaults.attach(required, path, conf), hconf)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snapshot.isEmpty,
      "versionAsOf/timestampAsOf/branch is a batch read option: a stream " +
        "tails the live table, not a pinned state")
    new ColeMicroBatchStream(this, path, conf, checkpointLocation)
  }

  /** CBO/AQE may ask repeatedly; totals are computed once per scan from
    * the footer cache (listing only, no footer re-reads on hits).
    */
  private lazy val tableTotals: (Long, Long) = {
    val infos = tableInfos
    // deletion vectors: report LIVE row counts to AQE/CBO (exact — the
    // planner's surviving rows minus each group's vector count), so
    // join-strategy decisions see the table's real size
    val rows =
      if (!dvMode && snapshot.forall(_.dvs.isEmpty)) infos.map(_.meta.totalRows).sum
      else ColePlan.plan(path, conf, infos, snapshot, Array.empty).files.iterator
        .flatMap(f => f.groups.iterator.map(g =>
          f.info.meta.rowGroups(g).numRows - Option(f.deletedOf(g)).fold(0)(_.length).toLong))
        .sum
    (infos.map(_.len).sum, rows)
  }

  /** Per-column statistics for Spark's CBO, from footers alone (the same
    * driver-cached metadata planning already holds — no data bytes):
    * exact nullCount, min/max folded over page stats, an NDV estimate,
    * and avg/max value widths. With `spark.sql.cbo.enabled` these become
    * catalyst `ColumnStat`s (DataSourceV2Relation.transformV2Stats), so
    * join SIZE estimation and cost-based join REORDERING work on `.col`
    * tables exactly as on ANALYZE'd warehouse tables — without them the
    * CBO sees only rowCount and falls back to declared join order.
    *
    * NDV is range-based for integer-like columns (min(nonNull, max−min+1)
    * — exact for dense key spaces, a sound upper bound otherwise) and
    * omitted for floating/string/vector columns rather than guessed.
    * Partition columns report their exact directory-value NDV.
    */
  private lazy val colStatsMap: util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val infos = tableInfos
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    def stat(ndv: Option[Long], mn: Option[Any], mx: Option[Any],
        nulls: Option[Long], avg: Option[Long], mxLen: Option[Long]) =
      new ColumnStatistics {
        override def distinctCount(): util.OptionalLong =
          ndv.fold(util.OptionalLong.empty())(util.OptionalLong.of)
        override def min(): java.util.Optional[Object] =
          mn.fold(java.util.Optional.empty[Object]())(v =>
            java.util.Optional.of(v.asInstanceOf[Object]))
        override def max(): java.util.Optional[Object] =
          mx.fold(java.util.Optional.empty[Object]())(v =>
            java.util.Optional.of(v.asInstanceOf[Object]))
        override def nullCount(): util.OptionalLong =
          nulls.fold(util.OptionalLong.empty())(util.OptionalLong.of)
        override def avgLen(): util.OptionalLong =
          avg.fold(util.OptionalLong.empty())(util.OptionalLong.of)
        override def maxLen(): util.OptionalLong =
          mxLen.fold(util.OptionalLong.empty())(util.OptionalLong.of)
      }
    fullSchema.fields.foreach { f =>
      val ref = org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
      if (partCols.contains(f.name)) {
        // directory values: exact NDV, zero nulls, no byte read
        val vals = infos.flatMap(_.partValues.collectFirst {
          case (k, v) if k == f.name => v }).distinct
        if (vals.nonEmpty) out.put(ref, stat(Some(vals.size.toLong),
          None, None, Some(0L), None, None))
      } else {
        var nulls = 0L
        var rows = 0L
        var haveBounds = true
        var mnL = Long.MaxValue; var mxL = Long.MinValue
        var mnD = Double.PositiveInfinity; var mxD = Double.NegativeInfinity
        var mnW: (Long, Long) = null; var mxW: (Long, Long) = null
        var strBytes = 0L
        infos.foreach { i =>
          val ci = i.meta.columns.indexWhere(_.name == f.name)
          rows += i.meta.totalRows
          if (ci < 0) nulls += i.meta.totalRows // schema evolution: all-NULL
          else {
            i.meta.rowGroups.indices.foreach { rgIdx =>
              nulls += i.meta.chunkNullCount(rgIdx, ci)
              f.dataType match {
                case IntegerType | LongType | TimestampType | TimestampNTZType |
                    _: DecimalType if !isWide(i.meta.columns(ci).colType) =>
                  i.meta.statsMinMax(rgIdx, ci) match {
                    case Some((mn, mx)) =>
                      if (mn < mnL) mnL = mn
                      if (mx > mxL) mxL = mx
                    case None => haveBounds = false
                  }
                case DoubleType =>
                  i.meta.statsMinMaxD(rgIdx, ci) match {
                    case Some((mn, mx)) =>
                      if (mn < mnD) mnD = mn
                      if (mx > mxD) mxD = mx
                    case None => haveBounds = false
                  }
                case _: DecimalType => // wide lane
                  i.meta.statsMinMaxW(rgIdx, ci) match {
                    case Some((mn, mx)) =>
                      if (mnW == null || cmp128(mn._1, mn._2, mnW._1, mnW._2) < 0) mnW = mn
                      if (mxW == null || cmp128(mx._1, mx._2, mxW._1, mxW._2) > 0) mxW = mx
                    case None => haveBounds = false
                  }
                case StringType =>
                  strBytes += i.meta.rowGroups(rgIdx).chunks(ci).pages
                    .map(_.uncompressedSize.toLong).sum
                case _ => haveBounds = false
              }
            }
          }
        }
        val nonNull = math.max(0L, rows - nulls)
        def rangeNdv(lo: Long, hi: Long): Option[Long] =
          if (nonNull == 0) Some(0L)
          else {
            val span = hi - lo // may overflow; negative span = huge range
            Some(if (span < 0 || span + 1 > nonNull) nonNull else span + 1)
          }
        val s = f.dataType match {
          case IntegerType if haveBounds && nonNull > 0 =>
            Some(stat(rangeNdv(mnL, mxL), Some(mnL.toInt), Some(mxL.toInt),
              Some(nulls), Some(4L), Some(4L)))
          case LongType if haveBounds && nonNull > 0 =>
            Some(stat(rangeNdv(mnL, mxL), Some(mnL), Some(mxL),
              Some(nulls), Some(8L), Some(8L)))
          case TimestampType | TimestampNTZType if haveBounds && nonNull > 0 =>
            // catalyst timestamps ARE micros-as-long
            Some(stat(rangeNdv(mnL, mxL), Some(mnL), Some(mxL),
              Some(nulls), Some(8L), Some(8L)))
          case dt: DecimalType if dt.precision <= 18 && haveBounds && nonNull > 0 =>
            Some(stat(rangeNdv(mnL, mxL),
              Some(org.apache.spark.sql.types.Decimal
                .createUnsafe(mnL, dt.precision, dt.scale)),
              Some(org.apache.spark.sql.types.Decimal
                .createUnsafe(mxL, dt.precision, dt.scale)),
              Some(nulls), Some(8L), Some(8L)))
          case dt: DecimalType if haveBounds && nonNull > 0 && mnW != null =>
            def dec(w: (Long, Long)) = org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(wideToBigInteger(w._1, w._2), dt.scale),
              dt.precision, dt.scale)
            Some(stat(None, Some(dec(mnW)), Some(dec(mxW)),
              Some(nulls), Some(16L), Some(16L)))
          case DoubleType if haveBounds && nonNull > 0 =>
            Some(stat(None, Some(mnD), Some(mxD), Some(nulls), Some(8L), Some(8L)))
          case StringType if nonNull > 0 =>
            // NDV upper bound from DICTIONARY page headers (r12): every
            // distinct value appears in at least one page's dictionary,
            // so the summed entry counts bound the column's NDV — string
            // join keys (brands, types, flags) then get a join-reorder
            // estimate instead of none. Declined (None) when any page is
            // non-dictionary or compressed: bounds are never guessed.
            val ndv = {
              val perFile = infos.map { i =>
                val ci = i.meta.columns.indexWhere(_.name == f.name)
                if (ci < 0) Some(0L) // pre-evolution file: all-NULL
                else ColeNdv.dictNdvUpperBound(i, ci, conf)
              }
              if (perFile.contains(None)) None
              else Some(math.min(perFile.flatten.sum, nonNull))
            }
            // avg width from stored chunk bytes (offsets overhead included:
            // a slight overestimate, safe for sizing)
            Some(stat(ndv, None, None, Some(nulls),
              Some(math.max(1L, strBytes / nonNull)), None))
          case _ if rows > 0 => Some(stat(None, None, None, Some(nulls), None, None))
          case _ => None
        }
        s.foreach(out.put(ref, _))
      }
    }
    out
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(tableTotals._1)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(tableTotals._2)
    // AQE probes statistics on every re-plan with the CBO off; only pay
    // the per-column fold when an optimizer that can USE ColumnStats is
    // actually on (attributeStats feed estimation only under CBO)
    override def columnStats(): util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled && !dvMode &&
          snapshot.forall(_.dvs.isEmpty)) // pinned vectors: counts physical
        colStatsMap
      else java.util.Collections.emptyMap()
  }
}

/** Row groups actually decoded by readers across this JVM — spec-visible
  * in local mode (executors share the JVM): O(delta) serving paths
  * assert decode counts proportional to TOUCHED groups, not file size.
  */
object ColeReaderMetrics {
  val rowGroupsDecoded = new AtomicLong(0)
}

class ColeReaderFactory(required: StructType, hconf: ColeHadoopConf)
    extends PartitionReaderFactory {

  /** Zero-row-group partitions exist only to preserve a key-grouped
    * scan's partition-key set across runtime filtering — never open the
    * file for one.
    */
  private def emptyReader[T]: PartitionReader[T] = new PartitionReader[T] {
    override def next(): Boolean = false
    override def get(): T = throw new java.util.NoSuchElementException("empty partition")
    override def close(): Unit = ()
  }

  /** Row consumers (the CDF stream, row-level DML's hashing wrapper) read
    * the columnar batches row by row: one decoder serves both shapes. The
    * row is the batch's reused view — a consumer that keeps it past the
    * next `next()` copies it.
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val batches = createColumnarReader(partition)
    new PartitionReader[InternalRow] {
      private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!batches.next()) return false
          rows = batches.get().rowIterator()
        }
        row = rows.next()
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = batches.close()
    }
  }

  /** Vectorized path: decode once per chunk, emit 4096-row ColumnarBatches
    * (the reference engine's batch size, include/execution.h) that
    * whole-stage codegen consumes directly — no per-row materialization.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    if (partition.asInstanceOf[ColeInputPartition].rowGroups.isEmpty) emptyReader
    else new ColeColumnarReader(partition.asInstanceOf[ColeInputPartition], required,
      hconf.value)
}

class ColeColumnarReader(part: ColeInputPartition, required: StructType,
    conf: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  /** Reference vectorized batch size (include/execution.h: kBatchSize). */
  private val BatchSize = 4096

  private val reader = new ColeFileReader(part.file, conf)
  private lazy val nameToIdx = reader.meta.columns.map(_.name).zipWithIndex.toMap
  // per-field source, normalized to one entry per required field: the
  // legacy short shape's implicit trailing constants become explicit
  // ConstSrc entries, so constant-served fields may sit at ANY position
  // (partition-spec evolution moves a column between file and directory
  // placement per file)
  private val fieldSrc: Array[Int] =
    if (part.colIndices.length >= required.length) part.colIndices
    else part.colIndices ++ Array.fill(
      required.length - part.colIndices.length)(ColeUtil.ConstSrc)
  // fields constant across the file, built once: partition values from
  // the directory, and columns absent from this file (schema evolution)
  // as NULL or the exists-default the ALTER declared (ColeDefaults)
  private lazy val constants: Array[ColeLaneVector] = {
    lazy val defaults = ColeDefaults.rowValues(required)
    Array.tabulate(required.length) { pos =>
      val f = required.fields(pos)
      val ci = fieldSrc(pos)
      if (ci >= 0 || f.name == ColeUtil.PosMetaCol) null // per row group
      else if (ci == ColeUtil.ConstSrc) {
        val raw = part.partValues.collectFirst { case (k, pv) if k == f.name => pv }
          .getOrElse(throw new IllegalStateException(
            s"missing partition value for '${f.name}' in ${part.file}"))
        ColeLaneVector.constant(f.dataType, f.dataType match {
          case IntegerType => raw.toInt
          case LongType => raw.toLong
          case _ => UTF8String.fromString(raw)
        })
      } else ColeLaneVector.constant(f.dataType, defaults(pos))
    }
  }
  // row groups decode lazily, one at a time — a packed partition never
  // holds more than one row group's chunks in memory
  private var rgPos = -1
  private var lanes: Array[ColeLaneVector] = _
  private var batch: ColumnarBatch = _
  private var rgRows = 0
  private var offset = 0
  private lazy val rgStarts: Array[Long] = {
    val a = new Array[Long](reader.meta.rowGroups.length)
    var acc = 0L
    var i = 0
    while (i < a.length) { a(i) = acc; acc += reader.meta.rowGroups(i).numRows; i += 1 }
    a
  }

  /** One read-only view per field over this row group's decoded lanes —
    * the raw dictionary (entries + ids) for all-DICTIONARY string chunks.
    * Claimed filters and deletion vectors leave a selection vector that
    * every view reads through, so downstream codegen sees only surviving
    * rows and no lane is copied.
    */
  private def loadRowGroup(i: Int): Unit = {
    ColeReaderMetrics.rowGroupsDecoded.incrementAndGet()
    val rgIdx = part.rowGroups(i)
    val selP: Array[Int] =
      if (part.preds.isEmpty) null
      else ColePredicate.buildSelection(reader, rgIdx, part.rowCounts(i),
        nameToIdx, part.preds)
    // deletion vectors: subtract this row group's deleted ordinals
    val sel: Array[Int] = ColeDv.applyTo(selP,
      if (part.deleted == null) null else part.deleted(i), part.rowCounts(i))
    lanes = Array.tabulate(required.length) { pos =>
      val dt = required.fields(pos).dataType
      val ci = fieldSrc(pos)
      if (constants(pos) != null) constants(pos)
      else if (ci == ColeUtil.ConstSrc) {
        // `_cole_pos`: the file-wide physical position of every row
        val base = rgStarts(rgIdx)
        ColeLaneVector.lane(dt, ColumnData(null,
          Array.tabulate(part.rowCounts(i))(base + _), null), sel)
      } else {
        val dict = reader.readStringChunkDict(rgIdx, ci)
        if (dict != null) ColeLaneVector.dictionary(dt, dict._1, dict._2, sel)
        // read-time type widening: a file narrower than the union schema
        // adapts its decoded lane here (INT32→long, i64 decimal→int128)
        else ColeLaneVector.lane(dt, ColeWiden.adapt(reader.readChunk(rgIdx, ci), dt), sel)
      }
    }
    batch = new ColumnarBatch(lanes.toArray[ColumnVector])
    rgRows = if (sel == null) part.rowCounts(i) else sel.length
    offset = 0
  }

  override def next(): Boolean = {
    while (rgPos < 0 || offset >= rgRows) {
      if (rgPos + 1 >= part.rowGroups.length) return false
      rgPos += 1
      loadRowGroup(rgPos)
    }
    true
  }

  override def get(): ColumnarBatch = {
    val n = math.min(BatchSize, rgRows - offset)
    var i = 0
    while (i < lanes.length) { lanes(i).slice(offset, n); i += 1 }
    offset += n
    batch.setNumRows(n)
    batch
  }

  override def close(): Unit = reader.close()
}

// ------------------------------------------------------------------ write

class ColeWriteBuilder(schema: StructType, path: String, rowGroupSize: Int,
    conf: Configuration, partCols: Seq[String] = Seq.empty,
    bucketSpec: Option[(Int, Seq[String])] = None,
    bucketDerive: Option[(String, Seq[String])] = None,
    temporal: Option[ColeTemporal.Spec] = None,
    sortBy: Seq[String] = Seq.empty,
    branch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {

  private var doTruncate = false
  private var dynamicOverwrite = false
  private var overwriteFilters: Array[Filter] = Array.empty

  override def truncate(): WriteBuilder = {
    // overwrite replaces the LISTED (local) files — on a zero-copy clone
    // the foreign half would survive the "overwrite"
    ColeClone.requireLocal(path, conf, "overwrite/truncate writes")
    doTruncate = true; this
  }

  /** INSERT OVERWRITE with a static partition spec (or an explicit
    * overwrite condition): supported when every predicate targets hive
    * partition columns — the matching partitions' files leave through
    * the commit's swap, everything else is untouched. Row-level
    * conditions are rejected (COLE rewrites partitions, not rows).
    */
  override def overwrite(filters0: Array[Filter]): WriteBuilder = {
    ColeClone.requireLocal(path, conf, "INSERT OVERWRITE")
    if (filters0.isEmpty || filters0.forall(_.isInstanceOf[AlwaysTrue])) return truncate()
    // a static partition spec arrives as null-safe equality; partition
    // values are never null, so it is plain equality here
    val filters = filters0.map {
      case EqualNullSafe(c, v) if v != null => EqualTo(c, v)
      case f => f
    }
    val preds = filters.flatMap(ColePredicate.fromFilter)
    require(preds.length == filters.length &&
      preds.forall(p => partCols.contains(p.column)),
      s"COLE overwrites whole partitions: every overwrite predicate must be " +
        s"a supported comparison on a partition column " +
        s"(${partCols.mkString(", ")}); got ${filters.mkString(", ")}")
    overwriteFilters = filters
    this
  }

  /** `writeTo(...).overwritePartitions()` / partitionOverwriteMode=dynamic:
    * replace exactly the partitions the incoming data lands in.
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    ColeClone.requireLocal(path, conf, "dynamic partition OVERWRITE")
    require(partCols.nonEmpty,
      "dynamic partition overwrite needs a hive-partitioned COLE table")
    require(bucketSpec.isEmpty,
      "dynamic OVERWRITE would wipe co-bucketed rows; bucketed tables append or truncate")
    dynamicOverwrite = true
    this
  }

  override def build(): Write = {
    // An APPEND must never re-declare the layout: if the table already
    // carries a _bucketspec, an explicit bucketBy option has to match it
    // exactly — pre-existing files keep their routing, so a silently
    // rewritten sidecar would corrupt bucket pruning and
    // storage-partitioned joins for every row written before it.
    // A truncating overwrite may re-layout: its files land in a new
    // bucket era (ColeBatchWrite) and the old ones leave at its swap.
    if (!doTruncate && !dynamicOverwrite && overwriteFilters.isEmpty) {
      ColeBucket.readSpec(path, conf).foreach { existing =>
        require(bucketSpec.contains(existing),
          s"append into a bucketed COLE table must keep its layout: table " +
            s"at $path is bucketed ${existing._1}:${existing._2.mkString(",")} " +
            s"but this write declares " +
            bucketSpec.map { case (n, cs) => s"$n:${cs.mkString(",")}" }
              .getOrElse("no bucketing") +
            "; drop the bucketBy option or truncate/overwrite to re-layout")
        // a synthetic-key table must keep its derivation too: re-deriving
        // from different source columns would route new rows inconsistently
        // with every row already on disk
        val existingDerive = ColeBucket.readDerivation(path, conf)
        require(existingDerive == bucketDerive,
          s"append into a synthetic-key bucketed COLE table must keep its " +
            s"derivation: table at $path derives " +
            existingDerive.map { case (s, cs) => s"$s=${cs.mkString(",")}" }
              .getOrElse("nothing") +
            " but this write declares " +
            bucketDerive.map { case (s, cs) => s"$s=${cs.mkString(",")}" }
              .getOrElse("none"))
      }
    }
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
    def asc(cols: Seq[String]) = cols.map(c => E.sort(E.column(c), SortDirection.ASCENDING))
    val (distribution: Distribution, ordering: Seq[String]) = bucketSpec match {
      case Some((_, bucketCols0)) =>
        // synthetic-key layout: the synth column doesn't exist in the
        // incoming data — cluster and sort by the SOURCE key tuple (equal
        // tuples share a synth value, so buckets still arrive contiguous
        // and each bucket file sorts on the natural key)
        val bucketCols = bucketDerive.map(_._2).getOrElse(bucketCols0)
        // bucketed writes request clustering + in-partition ordering by
        // the bucket keys: equal keys land contiguously and each bucket
        // file arrives SORTED — the writer then picks DELTA encodings
        // and emits tight page stats, so range predicates on the key
        // prune row groups inside every bucket (parquet's
        // bucketBy().sortBy() layout, self-describing). One extra
        // exchange at write time buys clustered scans for the table's
        // whole read life.
        // composed temporal+bucket layout: order by the timestamp FIRST
        // (its unit ordinal is monotone in it, so each task's rows arrive
        // unit-directory-grouped and the per-(unit, bucket) sub-writer
        // map stays small), then the bucket keys
        (Distributions.clustered(bucketCols.map(c => E.column(c)
          : org.apache.spark.sql.connector.expressions.Expression).toArray),
          temporal.map(_.src).filterNot(bucketCols.contains).toSeq ++ bucketCols)
      case None =>
        // in-partition ordering request: partition keys first (each
        // task's rows arrive grouped per directory — one open sub-writer
        // at a time), then the sort keys — every emitted file lands
        // sorted without any exchange (SortExec per task). TEMPORAL
        // writes request this UNCONDITIONALLY (r12): the unit ordinal is
        // monotone in the timestamp, so ordered rows open one unit
        // directory's writer at a time — unordered, a month-of-hours
        // append holds up to MaxOpenWriters row-group buffers per task
        // (measured: heap exhaustion at sf1). Identity-only hive writes
        // keep Spark's own pre-write clustering, and a plain write asks
        // for nothing (an unspecified distribution with no ordering
        // leaves the query as it is).
        val ordering = ((if (sortBy.nonEmpty || temporal.isDefined)
          partCols ++ temporal.map(_.src).filterNot(partCols.contains)
        else Seq.empty) ++ sortBy).distinct
        // TEMPORAL writes additionally request a RANGE distribution on
        // (partCols, ts) — Iceberg's write.distribution-mode=range
        // (r17-opt). The unit ordinal is monotone in the timestamp, so
        // range-partitioned tasks own CONTIGUOUS unit directories and
        // each directory receives files from one task (plus at most a
        // boundary neighbor) instead of one file PER TASK per directory:
        // a 16-task month-of-hours append wrote 375 dirs x 16 = 6000
        // ~4 KB files (measured, sf1) — the small-files antipattern that
        // tripled the table's own read cost. One range exchange at write
        // time buys the file layout for the table's whole read life.
        (if (temporal.isDefined) Distributions.ordered(asc(ordering).toArray)
          else Distributions.unspecified(), ordering)
    }
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def requiredDistribution(): Distribution = distribution
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        asc(ordering).toArray
      override def toBatch: BatchWrite =
        new ColeBatchWrite(schema, path, rowGroupSize, doTruncate, conf,
          partCols, bucketSpec, dynamicOverwrite, overwriteFilters,
          bucketDerive, temporal = temporal, branch = branch)
      override def toStreaming: StreamingWrite = {
        if (doTruncate || dynamicOverwrite || overwriteFilters.nonEmpty)
          throw new UnsupportedOperationException(
            "the cole streaming sink supports Append output mode only")
        new ColeStreamingWrite(schema, path, rowGroupSize, conf, partCols,
          bucketSpec, bucketDerive, temporal = temporal, branch = branch)
      }
    }
  }
}

/** One committed file: `written` is where the bytes sit now, `fin` the
  * name readers see (the two differ only when the [[ColeFileNaming]] rule
  * leaves the rename to the driver), and `rows` how many rows it holds.
  */
final case class ColeWrittenFile(written: String, fin: String, rows: Long)

object ColeWrittenFile {
  /** Deletes the 0-row files of a write and returns the rest. Tasks open
    * their file eagerly, so a task that received no rows commits an empty
    * one. With `keepOne`, a write that is empty in every task keeps its
    * first file, so a path table's schema still resolves.
    */
  def dropEmpty(files: Seq[ColeWrittenFile], conf: Configuration,
      keepOne: Boolean): Seq[ColeWrittenFile] = {
    val (full, empty) = files.partition(_.rows > 0L)
    val kept = if (full.isEmpty && keepOne) empty.take(1) else Seq.empty
    empty.drop(kept.size).foreach { f =>
      val (fs, p) = ColeIO.resolve(f.written, conf)
      fs.delete(p, false)
    }
    full ++ kept
  }
}

/** One task's committed files. */
final case class ColeCommitMessage(files: Seq[ColeWrittenFile])
    extends WriterCommitMessage

/** How write tasks name their files. Built once on the driver and shipped
  * inside [[ColeWriterFactory]]; `paths` returns the (in-progress, final)
  * names of the k-th file a task opens in directory `dir` (k < 0: the
  * layout opens one file per directory per task). A task always writes
  * the dotted in-progress name — listings (and polling streaming sources)
  * never observe a torn half-written `.col` file — and the rule says who
  * renames it.
  */
sealed trait ColeFileNaming extends Serializable {
  def paths(dir: String, partitionId: Int, taskId: Long, epochId: Long,
      k: Int): (String, String)
  /** The task renames at its own commit; otherwise the driver does. */
  def taskRenames: Boolean = false
}

object ColeFileNaming {
  private def part(partitionId: Int, taskId: Long, k: Int): String =
    if (k < 0) f"part-$partitionId%05d-$taskId.col"
    else f"part-$partitionId%05d-$taskId-$k%d.col"

  /** Plain batch: `part-<pid>-<tid>[-<k>].col`, renamed by the task. */
  case object Task extends ColeFileNaming {
    def paths(dir: String, partitionId: Int, taskId: Long, epochId: Long,
        k: Int): (String, String) = {
      val n = part(partitionId, taskId, k)
      (s"$dir/.$n.inprogress", s"$dir/$n")
    }
    override def taskRenames: Boolean = true
  }

  /** Deferred: the driver renames to `<prefix>part-…` at job commit, after
    * its transactional bookkeeping — what keeps row-level REPLACE,
    * merge-on-read and overwrite files invisible to concurrent readers
    * (and tailing streams) until the commit is durable. The prefix carries a driver
    * stamp (`replace-<stamp>-`, `delta-<stamp>-`, `overwrite-<stamp>-`):
    * task ids restart per application, so without it a later rewrite
    * could mint the exact name of a file it replaces.
    */
  final case class Deferred(prefix: String) extends ColeFileNaming {
    def paths(dir: String, partitionId: Int, taskId: Long, epochId: Long,
        k: Int): (String, String) = {
      val n = part(partitionId, taskId, k)
      (s"$dir/.$n.inprogress", s"$dir/$prefix$n")
    }
  }

  /** Streaming epoch: `part-e<E>-p<pid>-<k>.col`, written as
    * `.….inprogress-<tid>` and renamed by the driver at epoch commit. The
    * final name is epoch-deterministic, so a replayed epoch overwrites
    * the same files instead of appending duplicates.
    */
  case object Epoch extends ColeFileNaming {
    def paths(dir: String, partitionId: Int, taskId: Long, epochId: Long,
        k: Int): (String, String) = {
      val n = f"part-e$epochId%d-p$partitionId%05d-${math.max(k, 0)}%d.col"
      (s"$dir/.$n.inprogress-$taskId", s"$dir/$n")
    }
  }
}

/** Driver-side write preparation shared by batch appends/overwrites and
  * the streaming sink: schema and column guards, partition/bucket/
  * temporal validation, branch rules, first-declaration layout sidecars,
  * the evolved-table format version and CHECK compilation. An overwrite
  * passes the directory values of the files it `replaced` (the format
  * version is judged on the files its rows will sit beside) and, when it
  * re-lays the table out, the bucket era key its files route under.
  */
private[cole] object ColeWritePrep {
  def factory(schema: StructType, path: String, rowGroupSize: Int,
      conf: Configuration, partCols: Seq[String],
      bucketSpec: Option[(Int, Seq[String])],
      bucketDerive: Option[(String, Seq[String])],
      temporal: Option[ColeTemporal.Spec], branch: Option[String],
      naming: ColeFileNaming,
      replaced: Map[String, String] => Boolean = _ => false,
      newEraKey: Option[String] = None): ColeWriterFactory = {
    ColeUtil.toColeColumns(schema)
    // a DROPPED column name must not come back through a path-based append:
    // old footers still store its former values and resolution would
    // interleave stale and new data under one name
    ColeCatalog.droppedColumns(path, conf).intersect(schema.fieldNames)
      .foreach(c => throw new IllegalArgumentException(
        s"column '$c' was dropped from this table; old files still store " +
          "its values — pick a new name or rewrite the table"))
    // a RENAME source name must not come back either: old footers still
    // store the renamed column under it, and resolution would remap the
    // new data away (or interleave it with the renamed column)
    ColeCatalog.renames(path, conf).values.toSet.intersect(schema.fieldNames.toSet)
      .foreach(c => throw new IllegalArgumentException(
        s"column '$c' is the stored name of a renamed column; old files " +
          "still carry its values — write under the current name"))
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' not in write schema"))
    require(partCols.size < schema.size,
      "cannot partition by every column: no data columns remain")
    require(bucketSpec.isEmpty || partCols.isEmpty,
      "COLE tables are either hive-partitioned or hash-bucketed, not both")
    bucketSpec.foreach { case (n, cs) =>
      // synthetic-key layout: the writer OWNS the synth column (it derives
      // and stores it); the incoming data must carry the source key tuple
      // and must not collide with the synth name
      val hashCols = bucketDerive.map(_._2).getOrElse(cs)
      bucketDerive.foreach { case (synth, _) =>
        require(!schema.fieldNames.contains(synth),
          s"bucketKey column '$synth' already exists in the write schema; " +
            "the writer derives and stores it — pick an unused name")
      }
      hashCols.foreach { c =>
        require(schema.fieldNames.contains(c), s"bucket column '$c' not in write schema")
        schema.fields(schema.fieldIndex(c)).dataType match {
          case IntegerType | LongType | StringType => ()
          case other => throw new IllegalArgumentException(
            s"COLE buckets on INT/LONG/STRING keys; '$c' is $other")
        }
      }
      require(n > 0 && n <= 65536, s"bucket count must be in [1, 65536], got $n")
    }
    temporal.foreach { sp =>
      val f = schema.fields.find(_.name == sp.src).getOrElse(
        throw new IllegalArgumentException(
          s"temporal partition source '${sp.src}' not in write schema"))
      require(f.dataType == TimestampType || f.dataType == TimestampNTZType,
        s"temporal partition source '${sp.src}' must be a timestamp, is ${f.dataType}")
    }
    val (fs, dir) = ColeIO.resolve(path, conf)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    // branch writes (r14 WAP) stage APPENDS into the invisible branch
    // root with the table's exact layout; the layout sidecars live on
    // main, so a branch write may only route by the layout the table
    // already declares
    branch.foreach { b =>
      require(bucketSpec.forall(s => ColeBucket.readSpec(path, conf).contains(s)),
        "a branch write cannot declare a NEW bucket layout (the sidecar " +
          "lives on main): lay the table out first, then branch")
      require(temporal.forall(t => ColeTemporal.readSpec(path, conf).contains(t)),
        "a branch write cannot declare a NEW temporal layout (the sidecar " +
          "lives on main): lay the table out first, then branch")
      ColeRefs.branchFork(path, conf, b) // still exists, or loud
    }
    // the layout self-describes: persist the bucket/temporal spec BEFORE
    // any data lands, so a concurrent reader never sees derived-layout
    // files without the sidecar that explains them. First declaration
    // only: an append into an EVOLVED table resolves the active era, and
    // re-persisting it as a singleton would wipe the era history the
    // old-era files still prune by (r13)
    if (ColeBucket.readHistory(path, conf).isEmpty)
      bucketSpec.foreach { case (n, cs) =>
        ColeBucket.writeSpec(path, conf, n, cs, bucketDerive) }
    if (ColeTemporal.readSpecs(path, conf).isEmpty)
      temporal.foreach(ColeTemporal.writeSpec(path, conf, _))
    // branch writes place files under the staging root (layout subpaths
    // mirror the table's 1:1 — publish is a rename per file); sidecars,
    // checks and the active bucket era still resolve from the TABLE path
    val dataRoot = branch.map(ColeRefs.branchDataRoot(path, _))
    dataRoot.foreach(r => fs.mkdirs(new org.apache.hadoop.fs.Path(r)))
    new ColeWriterFactory(schema, path, rowGroupSize,
      // evolved tables auto-write v2 (new columns carry NULLs for rows
      // landing beside pre-evolution files); others stay v1-compatible
      new ColeHadoopConf(ColeUtil.evolvedWriteConf(conf, path, schema,
        partCols, replaced)),
      partCols, bucketSpec, bucketDerive,
      // CHECK constraints compile once here on the driver; executors
      // evaluate bound predicates per row (identity when none declared)
      ColeChecks.forWrite(path, conf, schema), temporal, dataRoot, naming,
      newEraKey)
  }
}

class ColeBatchWrite(schema: StructType, path: String, rowGroupSize: Int,
    truncate: Boolean, conf: Configuration, partCols: Seq[String],
    bucketSpec: Option[(Int, Seq[String])] = None,
    dynamicOverwrite: Boolean = false,
    overwriteFilters: Array[Filter] = Array.empty,
    bucketDerive: Option[(String, Seq[String])] = None,
    temporal: Option[ColeTemporal.Spec] = None,
    branch: Option[String] = None)
    extends BatchWrite {

  private val overwrite = truncate || dynamicOverwrite || overwriteFilters.nonEmpty
  private val stamp = ColeSwap.newStamp()
  private val overwritePreds = overwriteFilters.flatMap(ColePredicate.fromFilter)
  // a truncating overwrite that declares another bucket layout: its files
  // route under the next era, which its commit appends to the sidecar
  private lazy val newEra: Option[Int] = bucketSpec.filter(_ => truncate).flatMap { case (n, cs) =>
    val history = ColeBucket.readHistory(path, conf)
    val active = history.lastOption.map(e => (e.n, e.cols, e.derive))
    if (active.exists(_ != ((n, cs, bucketDerive)))) Some(history.size) else None
  }

  /** Whether the live files of a directory (by its values) are ones this
    * write replaces, as far as is known before it runs: every file for a
    * truncate, the matching partitions' for a static overwrite (the
    * builder validated every predicate hits a partition column). A
    * dynamic overwrite learns its directories at commit.
    */
  private def replaced(pv: Map[String, String]): Boolean =
    truncate || overwritePreds.nonEmpty && overwritePreds.forall(p =>
      pv.get(p.column).exists(ColePredicate.partitionKeeps(p, _)))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // branch writes are append-only: truncate/overwrite mutate main, and
    // the publish is a pure rename with no conflict surface
    branch.foreach(b =>
      require(!overwrite,
        s"branch '$b' writes are append-only (write-audit-publish): " +
          "truncate/overwrite mutate the live table — run them on main"))
    // an overwrite's files stay invisible until its swap; their names
    // carry the stamp unless no live file could share one
    val naming =
      if (!overwrite) ColeFileNaming.Task
      else ColeFileNaming.Deferred(
        if (ColeIO.listPartitioned(path, conf).isEmpty) "" else s"overwrite-$stamp-")
    ColeWritePrep.factory(schema, path, rowGroupSize, conf, partCols, bucketSpec,
      bucketDerive, temporal, branch, naming, replaced, newEra.map(ColeBucket.dirKeyOf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newFiles = ColeWrittenFile.dropEmpty(messages.toSeq.flatMap {
      case ColeCommitMessage(fs0) => fs0
      case _ => Seq.empty
    }, conf, keepOne = true)
    val (fs, _) = ColeIO.resolve(path, conf)
    def qualifiedDir(f: String): String =
      fs.makeQualified(new org.apache.hadoop.fs.Path(f)).getParent.toString
    branch match {
      case Some(b) =>
        // staged files commit to the BRANCH log (rels relative to the
        // staging root == the table-relative paths they publish to);
        // main's log and live layout are untouched
        ColeRefs.commitBranchAppend(path, conf, b, newFiles
          .map(f => ColeVersions.relOf(fs, ColeRefs.branchDataRoot(path, b), f.fin)))
      case None if !overwrite =>
        ColeVersions.commitIfEnabled(path, conf, "append",
          newFiles.map(f => ColeVersions.relOf(fs, path, f.fin)), Seq.empty)
      case None =>
        // a dynamic overwrite replaces the files of the directories it wrote
        val wrote = if (dynamicOverwrite) newFiles.map(f => qualifiedDir(f.fin)).toSet
          else Set.empty[String]
        ColeSwap.replace(fs, path, conf, "overwrite", stamp,
            newFiles.map(f => (f.written, f.fin)),
            (f, pv) => replaced(pv) || wrote(qualifiedDir(f))) {
          // the new layout's era lands under the claims, before any of its
          // files is visible
          newEra.foreach { era =>
            val (n, cs) = bucketSpec.get
            require(ColeBucket.evolve(path, conf, n, cs, bucketDerive).last.idx == era,
              s"the bucket layout of $path changed while this overwrite ran; retry it")
          }
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case ColeCommitMessage(fs0) =>
      fs0.foreach { f =>
        val (fs, p) = ColeIO.resolve(f.written, conf)
        fs.delete(p, false)
      }
    }
}

/** The one task-side write factory: batch appends/overwrites, the
  * row-level REPLACE and merge-on-read writes, and the streaming sink.
  * Routes rows to the bucketed, partitioned or plain writer by layout and
  * names every file through `naming`.
  */
class ColeWriterFactory(schema: StructType, path: String, rowGroupSize: Int,
    hconf: ColeHadoopConf, partCols: Seq[String] = Seq.empty,
    bucketSpec: Option[(Int, Seq[String])] = None,
    bucketDerive: Option[(String, Seq[String])] = None,
    checks: Array[CompiledCheck] = Array.empty,
    temporal: Option[ColeTemporal.Spec] = None,
    // branch writes (r14): files PLACE under the staging root while every
    // table-level resolution (sidecars, active era, checks) keeps using
    // `path` — layout subpaths mirror the table's, so publish renames 1:1
    dataRoot: Option[String] = None,
    naming: ColeFileNaming,
    // a re-laying overwrite's era, not yet in the sidecar (its commit
    // appends it)
    newEraKey: Option[String] = None)
    extends DataWriterFactory with StreamingDataWriterFactory {
  // resolved on the DRIVER at factory construction (one sidecar read),
  // serialized to tasks: writers route by the ACTIVE era's directory key
  private val bucketDirKey: String =
    if (bucketSpec.isEmpty) ColeBucket.DirKey
    else newEraKey.getOrElse(ColeBucket.activeDirKey(path, hconf.value))
  private val root: String = dataRoot.getOrElse(path)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, -1L)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val conf = hconf.value
    // the k-th file this task opens in layout directory `dir` (relative
    // to the data root; "" is the root itself)
    def open(fileSchema: StructType, dir: String, k: Int): ColeDataWriter = {
      val (tmp, file) = naming.paths(if (dir.isEmpty) root else s"$root/$dir",
        partitionId, taskId, epochId, k)
      new ColeDataWriter(fileSchema, tmp, file, naming.taskRenames,
        rowGroupSize, conf)
    }
    ColeChecks.wrap(bucketSpec match {
      case Some((n, c)) =>
        new ColeBucketedDataWriter(schema, open, conf, n,
          bucketDerive.map(_._2).getOrElse(c), bucketDerive.map(_._1), temporal,
          bucketDirKey)
      case None if partCols.isEmpty && temporal.isEmpty => open(schema, "", -1)
      case None =>
        new ColePartitionedDataWriter(schema, open, conf, partCols, temporal)
    }, checks, schema)
  }
}

/** Hashed-bucket writer: routes each row to `_bucket=<b>/` by the shared
  * [[ColeBucket]] hash of its bucket column. Unlike hive partitioning the
  * hash is lossy, so ALL columns (the bucket key included) are stored in
  * the data files; the directory key is pure layout. Each task holds at
  * most `numBuckets` open sub-writers — bounded by the spec, not the data.
  * At cluster scale the natural write shape is
  * `df.repartition(n, col)`-ish input, but correctness never depends on
  * it: any task can emit to any bucket.
  */
class ColeBucketedDataWriter(schema: StructType,
    /** Opens the k-th file of a layout directory (see [[ColeWriterFactory]]). */
    open: (StructType, String, Int) => ColeDataWriter, conf: Configuration,
    numBuckets: Int, bucketCols: Seq[String],
    /** Synthetic combined-key mode: the name of the LONG column this
      * writer derives (the combined avalanche hash of `bucketCols`) and
      * STORES alongside the data — the layout then buckets on the synth
      * column alone, which is what Spark's single-reference SPJ
      * resolution needs for composite-key zero-Exchange joins.
      */
    deriveKey: Option[String] = None,
    /** Composed temporal+bucket layout (r12): rows route to
      * `_t_<fn>_<col>=<ordinal>/_bucket=<b>/` — prune by unit directory
      * AND storage-partition-join by bucket key. The sub-writer map is
      * keyed by (unit ordinal, bucket) with the partitioned writer's
      * eviction bound; the write's required ordering puts the timestamp
      * first, so units arrive grouped and the map stays near size
      * numBuckets in practice.
      */
    temporal: Option[ColeTemporal.Spec] = None,
    /** Directory key of the ACTIVE bucket era (r13 spec evolution):
      * `_bucket` for a never-evolved layout, `_bucket<era>` after —
      * resolved once on the driver by the factory.
      */
    bucketDirKey: String = ColeBucket.DirKey)
    extends DataWriter[InternalRow] {

  private val kis: Array[Int] = bucketCols.map(schema.fieldIndex).toArray
  private val keyTypes: Array[DataType] = kis.map(schema.fields(_).dataType)
  private val writers = new Array[ColeDataWriter](numBuckets)
  private val closedFiles = scala.collection.mutable.ArrayBuffer.empty[ColeWrittenFile]
  private val temporalIdx: Int = temporal.fold(-1) { t =>
    val i = schema.fieldIndex(t.src)
    schema.fields(i).dataType match {
      case TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"temporal partition source '${t.src}' must be a timestamp, is $other")
    }
    require(!bucketCols.contains(t.src),
      s"'${t.src}' cannot be both a bucket key and a temporal partition source")
    i
  }
  private val temporalWriters =
    scala.collection.mutable.LinkedHashMap.empty[(Long, Int), ColeDataWriter]
  // appends derive a NEW synth column (appended last); the replace path
  // reads rows back FROM the table, so the synth column is already in
  // the schema and is RECOMPUTED in place — an UPDATE that changes a
  // composite key then re-routes the row to its new bucket instead of
  // silently keeping a stale hash
  private val synthInSchema: Int =
    deriveKey.map(s => schema.fieldNames.indexOf(s)).getOrElse(-1)
  private val fileSchema: StructType =
    if (deriveKey.isEmpty || synthInSchema >= 0) schema
    else StructType(schema.fields :+
      StructField(deriveKey.get, LongType, nullable = false))
  private val synthRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
  private val joinedRow = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  private val overrideRow =
    if (synthInSchema >= 0) new LongOverrideRow(synthInSchema) else null

  /** Sub-writer for bucket `b` of the row's (possibly temporal-derived)
    * unit directory. Flat layouts stay on the array fast path (one file
    * per bucket per task); composed layouts key a bounded LinkedHashMap
    * by (ordinal, bucket), evicting the least-recently-created writer
    * (its file commits as-is; several part files per directory are fine,
    * the file ordinal `k` keeps their names unique).
    */
  private def writerFor(record: InternalRow, b: Int): ColeDataWriter =
    if (temporalIdx < 0) {
      var w = writers(b)
      if (w == null) {
        w = open(fileSchema, s"$bucketDirKey=$b", -1)
        writers(b) = w
      }
      w
    } else {
      val t = temporal.get
      if (record.isNullAt(temporalIdx))
        throw new ColeFormatException(
          s"COLE format does not support NULLs (temporal partition source '${t.src}')")
      val ord = t.ordinal(record.getLong(temporalIdx))
      temporalWriters.get((ord, b)) match {
        case Some(w) => w
        case None =>
          if (temporalWriters.size >= ColePartitionedDataWriter.MaxOpenWriters) {
            val (oldKey, oldest) = temporalWriters.head
            closedFiles += oldest.commitFiles()
            temporalWriters.remove(oldKey)
          }
          val fresh = open(fileSchema, s"${t.dirKey}=$ord/$bucketDirKey=$b",
            temporalWriters.size + closedFiles.size)
          temporalWriters.put((ord, b), fresh)
          fresh
      }
    }

  override def write(record: InternalRow): Unit = {
    var h = 0L
    var i = 0
    while (i < kis.length) {
      val ki = kis(i)
      if (record.isNullAt(ki))
        throw new ColeFormatException(
          s"bucket column '${bucketCols(i)}' must be non-null (buckets place rows by key)")
      val kh = keyTypes(i) match {
        case IntegerType => ColeBucket.keyHashLong(record.getInt(ki).toLong)
        case LongType => ColeBucket.keyHashLong(record.getLong(ki))
        case _ => ColeBucket.keyHashBytes(record.getUTF8String(ki).getBytes)
      }
      h = if (i == 0) kh else ColeBucket.combine(h, kh)
      i += 1
    }
    // derived mode: h IS the stored synth value, and the bucket is what
    // the catalog's bucket function computes OVER that value (one more
    // avalanche) — byte-for-byte the single-column layout on synth
    val b = if (deriveKey.isEmpty) ColeBucket.bucketOfHash(h, numBuckets)
      else ColeBucket.bucketOf(h, numBuckets)
    val w = writerFor(record, b)
    if (deriveKey.isEmpty) w.write(record)
    else if (synthInSchema >= 0) w.write(overrideRow.set(record, h))
    else {
      synthRow.update(0, h)
      w.write(joinedRow(record, synthRow))
    }
  }

  override def commit(): WriterCommitMessage = {
    writers.foreach(w => if (w != null) closedFiles += w.commitFiles())
    java.util.Arrays.fill(writers.asInstanceOf[Array[AnyRef]], null)
    temporalWriters.values.foreach(closedFiles += _.commitFiles())
    temporalWriters.clear()
    ColeCommitMessage(closedFiles.toSeq)
  }

  override def abort(): Unit = {
    writers.foreach(w => if (w != null) w.abort())
    temporalWriters.values.foreach(_.abort())
    closedFiles.foreach { f =>
      val (fs, p) = ColeIO.resolve(f.written, conf)
      fs.delete(p, false)
    }
  }

  override def close(): Unit = ()
}

/** Hive-style partitioned writer: routes each row to a per-partition-value
  * sub-writer under `key=value/` directories (values escaped), writing the
  * DATA columns only — partition values live in the directory name, like
  * Spark's own file sources. Spark usually sorts/repartitions by the
  * partition expressions before v2 writes, so the open-writer map stays
  * small; unsorted input degrades to one open writer per distinct value
  * per task, bounded by [[ColePartitionedDataWriter.MaxOpenWriters]].
  */
object ColePartitionedDataWriter { val MaxOpenWriters = 256 }

class ColePartitionedDataWriter(schema: StructType,
    /** Opens the k-th file of a layout directory (see [[ColeWriterFactory]]). */
    open: (StructType, String, Int) => ColeDataWriter, conf: Configuration,
    partCols: Seq[String],
    temporal: Option[ColeTemporal.Spec] = None) extends DataWriter[InternalRow] {

  private val partIdx: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val dataIdx: Array[Int] =
    schema.fields.indices.filterNot(partIdx.contains(_)).toArray
  private val dataSchema = StructType(dataIdx.map(schema.fields(_)))

  // temporal transform: the source timestamp column STAYS a data column
  // (stored in the files); only its derived unit ordinal routes the row
  // to a `_t_<fn>_<col>=<ordinal>/` layout directory
  private val temporalIdx: Int = temporal.fold(-1) { t =>
    val i = schema.fieldIndex(t.src)
    schema.fields(i).dataType match {
      case TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"temporal partition source '${t.src}' must be a timestamp, is $other")
    }
    require(!partCols.contains(t.src),
      s"'${t.src}' cannot be both an identity and a temporal partition column")
    i
  }

  private val writers = scala.collection.mutable.LinkedHashMap.empty[String, ColeDataWriter]
  private val closedFiles = scala.collection.mutable.ArrayBuffer.empty[ColeWrittenFile]

  private def partDir(record: InternalRow): String = {
    val identity = partIdx.zipWithIndex.map { case (fi, i) =>
      if (record.isNullAt(fi))
        throw new ColeFormatException(
          s"COLE format does not support NULLs (partition column '${partCols(i)}')")
      val raw = schema.fields(fi).dataType match {
        case IntegerType => record.getInt(fi).toString
        case LongType => record.getLong(fi).toString
        case StringType => record.getUTF8String(fi).toString
        case other => throw new IllegalArgumentException(
          s"COLE partition columns must be INT/LONG/STRING; '${partCols(i)}' is $other")
      }
      s"${partCols(i)}=${ColeIO.escape(raw)}"
    }
    val derived = temporal.map { t =>
      if (record.isNullAt(temporalIdx))
        throw new ColeFormatException(
          s"COLE format does not support NULLs (temporal partition source '${t.src}')")
      s"${t.dirKey}=${t.ordinal(record.getLong(temporalIdx))}"
    }
    (identity ++ derived).mkString("/")
  }

  override def write(record: InternalRow): Unit = {
    val dir = partDir(record)
    val w = writers.get(dir) match {
      case Some(w) => w
      case None =>
        if (writers.size >= ColePartitionedDataWriter.MaxOpenWriters) {
          // evict the least-recently-created writer; its file commits
          // as-is (multiple part files per partition value are fine)
          val (oldKey, oldest) = writers.head
          closedFiles += oldest.commitFiles()
          writers.remove(oldKey)
        }
        val fresh = open(dataSchema, dir, writers.size + closedFiles.size)
        writers.put(dir, fresh)
        fresh
    }
    // project the data columns into the sub-writer's row shape
    val proj = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(dataIdx.length)
    var i = 0
    while (i < dataIdx.length) {
      val fi = dataIdx(i)
      if (!record.isNullAt(fi)) {
        dataSchema.fields(i).dataType match {
          case IntegerType => proj.update(i, record.getInt(fi))
          case LongType | TimestampType | TimestampNTZType =>
            proj.update(i, record.getLong(fi))
          case dt: DecimalType =>
            proj.update(i, record.getDecimal(fi, dt.precision, dt.scale))
          case DoubleType => proj.update(i, record.getDouble(fi))
          // safe without a copy: the sub-writer extracts the floats before
          // this method returns and the source row is reused only after
          case ArrayType(FloatType, _) => proj.update(i, record.getArray(fi))
          case BinaryType => proj.update(i, record.getBinary(fi))
          case _ => proj.update(i, record.getUTF8String(fi))
        }
      }
      i += 1
    }
    w.write(proj)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(w => closedFiles += w.commitFiles())
    writers.clear()
    ColeCommitMessage(closedFiles.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach(_.abort())
    closedFiles.foreach { f =>
      val (fs, p) = ColeIO.resolve(f.written, conf)
      fs.delete(p, false)
    }
  }

  override def close(): Unit = ()
}

/** Per-task writer: buffers a row group of columns, picks an encoding per
  * chunk from the data (sorted → DELTA, runny → RLE, low-cardinality
  * strings → DICTIONARY), flushes, repeats.
  */
class ColeDataWriter(schema: StructType, writePath: String, file: String,
    renameAtCommit: Boolean, rowGroupSize: Int,
    conf: Configuration) extends DataWriter[InternalRow] {

  private val coleCols = ColeUtil.toColeColumns(schema)
  private val version = ColeFileWriter.resolveVersion(coleCols, conf)
  // bytes go to the dotted in-progress `writePath`; `file` is the final
  // name, renamed to here at commit or by the driver (ColeFileNaming)
  private val writer = new ColeFileWriter(writePath, coleCols, conf)
  // primitive row-group buffers: a boxing ArrayBuffer[Int/Long] would box
  // every cell of every numeric column on the write path. Allocated per
  // column TYPE only (r12): a blanket fill of all four kinds costs
  // ~28 B x rowGroupSize per column (~7 MB for a 4-column schema), and a
  // partitioned/bucketed task can hold dozens of open sub-writers —
  // measured as sf1 heap exhaustion before this narrowed to one
  // rowGroupSize-sized buffer per column.
  private val intBufs = Array.tabulate(schema.length)(i =>
    if (coleCols(i).colType == TInt32) new Array[Int](rowGroupSize) else null)
  private val longBufs = Array.tabulate(schema.length)(i =>
    if (ColeFormat.isLongBacked(coleCols(i).colType))
      new Array[Long](rowGroupSize) else null)
  private val strBufs = Array.tabulate(schema.length)(i =>
    if (coleCols(i).colType == TString || coleCols(i).colType == TBinary)
      new Array[Array[Byte]](rowGroupSize) else null)
  private val dblBufs = Array.tabulate(schema.length)(i =>
    if (coleCols(i).colType == TDouble) new Array[Double](rowGroupSize) else null)
  // vector columns are rare (usually one embedding column); allocate lazily
  private val vecBufs = new Array[Array[Array[Float]]](schema.length)
  // wide decimal lanes: interleaved [hi,lo] pairs, 2 slots per row;
  // allocated lazily like vectors (wide ledger columns are rare)
  private val wideBufs = new Array[Array[Long]](schema.length)
  // per-column null flags, allocated on the first null (v2 only): null-free
  // columns pay nothing and their pages stay dense
  private val nullBufs = new Array[Array[Boolean]](schema.length)
  private var buffered = 0
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    var i = 0
    while (i < schema.length) {
      if (record.isNullAt(i)) {
        if (version < ColeFormat.Version2)
          throw new ColeFormatException(
            s"COLE format v1 does not support NULLs (column '${schema(i).name}'); " +
              "write with option formatVersion=2")
        if (nullBufs(i) == null) nullBufs(i) = new Array[Boolean](rowGroupSize)
        nullBufs(i)(buffered) = true
      } else coleCols(i).colType match {
        case TInt32 => intBufs(i)(buffered) = record.getInt(i)
        case TInt64 => longBufs(i)(buffered) = record.getLong(i)
        case TTimestamp | TTimestampNtz =>
          longBufs(i)(buffered) = record.getLong(i) // micros
        case TDecimal(p, s) => // unscaled int64 (precision <= 18 enforced)
          longBufs(i)(buffered) = record.getDecimal(i, p, s).toUnscaledLong
        case TDecimalWide(p, s) => // unscaled int128 in two i64 lanes
          if (wideBufs(i) == null) wideBufs(i) = new Array[Long](2 * rowGroupSize)
          val (hi, lo) = ColeFormat.wideFromBigInteger(
            record.getDecimal(i, p, s).toJavaBigDecimal.unscaledValue())
          wideBufs(i)(2 * buffered) = hi
          wideBufs(i)(2 * buffered + 1) = lo
        case TDouble => dblBufs(i)(buffered) = record.getDouble(i)
        case TString => strBufs(i)(buffered) = record.getUTF8String(i).getBytes
        case TBinary => strBufs(i)(buffered) = record.getBinary(i)
        case TFloatVec =>
          if (vecBufs(i) == null) vecBufs(i) = new Array[Array[Float]](rowGroupSize)
          val a = record.getArray(i)
          // a null ELEMENT has no float representation — reject loudly
          // rather than silently writing 0.0f in its slot
          if (a.numElements() > 0 && (0 until a.numElements()).exists(a.isNullAt))
            throw new ColeFormatException(
              s"FLOAT_VECTOR column '${schema(i).name}' has a null element; " +
                "COLE vectors are dense (make the whole row NULL instead)")
          vecBufs(i)(buffered) = a.toFloatArray()
      }
      i += 1
    }
    buffered += 1
    rows += 1
    if (buffered >= rowGroupSize) flush()
  }

  private def flush(): Unit = {
    if (buffered == 0) return
    val (cols, encs) = coleCols.zipWithIndex.map { case (c, i) =>
      val nulls = nullBufs(i) // whole buffer; writer trims to `buffered`
      c.colType match {
        case TInt32 =>
          val a = java.util.Arrays.copyOf(intBufs(i), buffered)
          (ColumnData(a, null, null, null, nulls),
            if (nulls == null) chooseIntEnc(a.length, a(_)) else Plain)
        case t if isLongBacked(t) =>
          val a = java.util.Arrays.copyOf(longBufs(i), buffered)
          (ColumnData(null, a, null, null, nulls),
            if (nulls == null) chooseIntEnc(a.length, a(_)) else Plain)
        case TDouble =>
          val a = java.util.Arrays.copyOf(dblBufs(i), buffered)
          (ColumnData(null, null, null, a, nulls), Plain)
        case TString | TBinary =>
          val a = java.util.Arrays.copyOf(strBufs(i), buffered)
          (ColumnData(null, null, a, null, nulls),
            if (nulls == null) chooseStrEnc(a) else Plain)
        case TFloatVec =>
          val a = java.util.Arrays.copyOf(vecBufs(i), buffered)
          (ColumnData(null, null, null, null, nulls, a), Plain)
        case _: TDecimalWide =>
          val buf = if (wideBufs(i) == null) new Array[Long](2 * buffered)
            else java.util.Arrays.copyOf(wideBufs(i), 2 * buffered)
          (ColumnData(null, null, null, null, nulls, null, buf), Plain)
        case other => throw new ColeFormatException(s"unhandled column type $other")
      }
    }.unzip
    writer.writeRowGroup(cols, buffered, encs)
    buffered = 0
    var i = 0
    while (i < nullBufs.length) { nullBufs(i) = null; i += 1 }
  }

  /** Encoding for `n` integral values read through `at` (an int or long
    * buffer, unboxed: `Int => Long` is a specialized function type).
    */
  private def chooseIntEnc(n: Int, at: Int => Long): Enc = {
    if (n < 2) return Plain
    var sorted = true
    var runs = 1
    var prev = at(0)
    var i = 1
    while (i < n && (sorted || runs * 3 < n)) {
      val v = at(i)
      if (v < prev) sorted = false
      if (v != prev) runs += 1
      prev = v
      i += 1
    }
    if (i < n) runs = n // bailed out: not compressible by RLE
    if (sorted) Delta
    else if (runs * 3 < n) Rle
    else Plain
  }

  private def chooseStrEnc(a: Array[Array[Byte]]): Enc = {
    if (a.isEmpty) return Plain
    val probe = math.min(a.length, 4096)
    val distinct = new ColeCodec.BytesIndex
    var i = 0
    while (i < probe) { distinct.idOf(a(i)); i += 1 }
    if (distinct.size * 2 < probe || distinct.size <= 256) Dict else Plain
  }

  /** Flush, close, and return the committed file — for use as a
    * sub-writer of the routing writers. Renames to the final name first
    * when the task owns the rename.
    */
  def commitFiles(): ColeWrittenFile = {
    flush()
    writer.close()
    if (!renameAtCommit) ColeWrittenFile(writePath, file, rows)
    else {
      val (fs, t) = ColeIO.resolve(writePath, conf)
      val (_, f) = ColeIO.resolve(file, conf)
      require(fs.rename(t, f), s"commit rename failed: $writePath -> $file")
      ColeWrittenFile(file, file, rows)
    }
  }

  override def commit(): WriterCommitMessage = ColeCommitMessage(Seq(commitFiles()))

  override def abort(): Unit = {
    writer.close()
    val (fs, p) = ColeIO.resolve(writePath, conf)
    fs.delete(p, false)
  }

  override def close(): Unit = ()
}

// ------------------------------------------------------------- streaming

/** Offset of the COLE micro-batch source: a sequence number into the
  * source's own file log (below). CONSTANT-size however many files the
  * table accumulates — Spark serializes the offset into its offset log
  * every single batch, so an offset that carried the file set (the naive
  * design) would cost O(total files) per epoch and O(files²) over a
  * stream's lifetime at 100 TB file counts.
  */
final case class ColeSourceOffset(seq: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = seq.toString
}

/** `readStream.format("cole")` — the directory-monitoring twin of the
  * streaming sink: each micro-batch is the set of `.col` files that
  * appeared since the last offset (files land atomically via the sink's
  * rename, so a listed file is complete). Batches are planned by the
  * SAME [[ColeScan]] machinery as batch reads — claimed filters, stat
  * skipping, partition pruning, and packed row-group partitions all
  * apply per micro-batch.
  *
  * File tracking is a WRITE-AHEAD metadata log under the query's
  * checkpoint (`<checkpoint>/cole-file-log/<seq>`, one entry listing the
  * files FIRST seen at that sequence — the FileStreamSource design): the
  * entry persists BEFORE the offset is returned, so a crash between log
  * write and Spark's checkpoint replays the same entry rather than
  * losing or duplicating files. Restart rebuilds the seen-set from the
  * log; per-entry cost is proportional to the fresh files only.
  */
object ColeMicroBatchStream {
  /** Conf key for the per-trigger file cap (`option("maxFilesPerTrigger",
    * n)`) — FileStreamSource's rate-limit knob: without one, a source
    * that falls behind (or starts against a large existing table) plans
    * its entire backlog as ONE micro-batch.
    */
  val MaxFilesKey = "graft.cole.maxFilesPerTrigger"

  /** Seen-set snapshot cadence: every N log entries the whole set is
    * written as `<seq>.snap` and (after the batch commits) older entries
    * are dropped — restart cost stays O(seen files), not O(batches).
    */
  val SnapshotInterval = 16

  /** Full directory listings the source has performed — spec-visible: a
    * sink-fed table must stop paying O(files) listings after warm-up.
    */
  val tableListings = new AtomicLong(0)

  /** Compaction outputs the source refused to re-emit (their input files
    * were already processed) — spec-visible.
    */
  val compactionSkips = new AtomicLong(0)

  /** Test seam: runs between the data-dir listing and the compaction-
    * records refresh inside `latestOffset()` — the exact window the r9
    * race lived in. Interleaving specs inject a full offline compaction
    * here to prove the listing ORDER (data first, records second) makes
    * a recordless-output admission structurally impossible. No-op in
    * production.
    */
  val betweenListingsHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](() => ())
}

class ColeMicroBatchStream(scan: ColeScan, path: String, conf: Configuration,
    checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.fs.{Path => HPath}

  private val maxFilesPerTrigger: Int =
    conf.getInt(ColeMicroBatchStream.MaxFilesKey, Int.MaxValue)

  private val logDir = new HPath(checkpointLocation, "cole-file-log")
  private val fs = logDir.getFileSystem(conf)
  private val (tableFs, tablePath) = ColeIO.resolve(path, conf)
  private val manifestDir = new HPath(tablePath, ColeStreamingWrite.ManifestDirName)
  private val compDir = new HPath(ColeSwap.recordsDir(tablePath.toString))

  /** Files already logged, rebuilt from the log once per stream. */
  private val seen = scala.collection.mutable.HashSet[String]()
  private var seq = -1L
  private var snapSeq = -1L // latest snapshot on disk
  private var loaded = false
  // sink-manifest tailing state: entry names already folded into
  // candidates; warm = the one full listing (pre-existing files) happened
  private val manifestSeen = scala.collection.mutable.HashSet[String]()
  private var manifestWarm = false
  // compaction records: output -> inputs, re-read incrementally by name
  private val compSeen = scala.collection.mutable.HashSet[String]()
  private val compInputs = scala.collection.mutable.HashMap[String, Seq[String]]()
  // records whose SWAP is not yet confirmed on disk (outputs not all
  // present). The record is written BEFORE the renames, and a crashed
  // swap can roll BACK (recover() deletes the partial outputs and keeps
  // the inputs) — so the carry-set handover (inputs out, outputs in)
  // must wait until the outputs actually exist: doing it on record READ
  // would drop unserved inputs a manifest-mode stream never re-lists,
  // silently losing their rows for the life of the stream.
  private val pendingSwaps =
    scala.collection.mutable.LinkedHashMap[String, (Seq[String], Seq[String])]()
  // candidates discovered but not yet admitted: manifest-mode entries
  // beyond the per-trigger cap, and compaction outputs that must be
  // SERVED because some input was never admitted (the swap deleted the
  // originals — the output holds the only copy; manifest tailing would
  // otherwise never surface it). In-memory only, restart-safe: warm-up
  // relists the table and records are re-read by a fresh stream.
  private val carry = scala.collection.mutable.TreeSet[String]()

  private def entryPath(s: Long): HPath = new HPath(logDir, s.toString)
  private def snapPath(s: Long): HPath = new HPath(logDir, s"$s.snap")

  private def readLines(p: HPath): Seq[String] = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8).split('\n').filter(_.nonEmpty).toSeq
    finally in.close()
  }

  private def readEntry(s: Long): Seq[String] = readLines(entryPath(s))

  private def load(): Unit = synchronized {
    if (loaded) return
    if (fs.exists(logDir)) {
      val names = fs.listStatus(logDir).map(_.getPath.getName)
      val snaps = names.filter(_.endsWith(".snap"))
        .map(_.stripSuffix(".snap")).filter(_.forall(_.isDigit)).map(_.toLong)
      snapSeq = if (snaps.isEmpty) -1L else snaps.max
      if (snapSeq >= 0) { seen ++= readLines(snapPath(snapSeq)); seq = snapSeq }
      // entries past the snapshot (or all, without one)
      names.filter(_.forall(_.isDigit)).map(_.toLong).filter(_ > snapSeq).sorted
        .foreach { s => seen ++= readEntry(s); seq = math.max(seq, s) }
    } else fs.mkdirs(logDir)
    loaded = true
  }

  /** Fold any NEW compaction records into the output→inputs map (the
    * records dir is listed once per trigger; O(compaction runs), never
    * O(files)).
    */
  private def refreshCompactionRecords(): Unit = {
    if (!tableFs.exists(compDir)) return
    tableFs.listStatus(compDir).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith(".") && !compSeen.contains(name)) {
        compSeen += name
        val lines = {
          val in = tableFs.open(st.getPath)
          try new String(in.readAllBytes(), UTF_8).split('\n').filter(_.nonEmpty).toSeq
          finally in.close()
        }
        val outs = lines.collect { case l if l.startsWith("out:") => l.drop(4) }
        val ins = lines.collect { case l if l.startsWith("in:") => l.drop(3) }
        // the skip map is safe to populate immediately: effectivelySeen
        // only consults it for outputs that EXIST (were listed/admitted),
        // which a rolled-back swap's outputs never do
        outs.foreach(o => compInputs(o) = ins)
        pendingSwaps(name) = (outs, ins)
      }
    }
    resolvePendingSwaps()
  }

  /** Carry-set handover for swaps whose outputs have LANDED: once every
    * output exists, unserved inputs resolve through the outputs (the
    * swap deleted, or is deleting, the originals) — drop the inputs from
    * the carry-over and make the outputs candidates (manifest tailing
    * never lists them; full listings dedup via the set). Until then the
    * inputs stay admissible: the record-before-rename window and a
    * crashed-then-rolled-back swap both leave the inputs as the only
    * live copy. A record whose swap provably rolled back (no swap
    * manifest left where its group lives — recover() deletes it last —
    * yet the outputs never arrived) is dropped for good, so its phantom
    * outputs can never occupy admission slots.
    */
  private def resolvePendingSwaps(): Unit = {
    val resolved = pendingSwaps.iterator.flatMap { case (name, (outs, ins)) =>
      if (outs.isEmpty) Some(name)
      else if (outs.forall(o => tableFs.exists(new HPath(o)))) {
        carry --= ins
        carry ++= outs
        Some(name)
      } else if (!ColeSwap.inFlight(tableFs, tablePath, outs)) {
        // no manifest, outputs missing: the swap rolled back (or its
        // outputs were already consumed by a LATER swap, whose own
        // record serves the rows) — the inputs stay admissible
        Some(name)
      } else None // swap in flight: keep waiting
    }.toSeq
    pendingSwaps --= resolved
  }

  /** A file's rows were already emitted if the file itself was logged, or
    * (transitively) if it is a compaction output over already-processed
    * inputs — skipping it is what keeps an offline compaction from
    * replaying every old row into the stream. The skip requires EVERY
    * input seen: a stream mid-backlog (maxFilesPerTrigger armed, some
    * inputs not yet served) that races an offline compaction must ADMIT
    * the output — it holds the only remaining copy of the unserved rows
    * (the swap deleted the originals). Transient duplicates of the
    * already-served part are the documented compaction posture
    * (ColeCompact 2-phase-swap comment); silent row loss is not.
    */
  private def effectivelySeen(f: String): Boolean =
    seen.contains(f) || {
      compInputs.get(f).exists { ins =>
        val dup = ins.nonEmpty && ins.forall(effectivelySeen)
        if (dup) ColeMicroBatchStream.compactionSkips.incrementAndGet()
        dup
      }
    }

  /** Candidate files this trigger. Sink-fed tables (a `_cole_manifest`
    * exists) tail the manifest: ONE full listing at warm-up for
    * pre-existing files, then only new manifest entries — per-trigger
    * driver cost is O(new files + manifest entries), independent of the
    * table's total file count. Tables without a manifest (batch-written)
    * fall back to the full listing every trigger, like FileStreamSource.
    */
  private def candidates(): Seq[String] = {
    val hasManifest = tableFs.exists(manifestDir)
    if (!hasManifest || !manifestWarm) {
      ColeMicroBatchStream.tableListings.incrementAndGet()
      // mark the manifest entries BEFORE listing the files: an epoch that
      // commits in between is simply admitted by a later tailing trigger
      // (its files just aren't in this listing yet); the opposite order
      // could mark an entry consumed whose files the listing missed
      if (hasManifest) {
        manifestWarm = true
        tableFs.listStatus(manifestDir)
          .filter(st => !st.getPath.getName.startsWith("."))
          .foreach(st => manifestSeen += st.getPath.getName)
      }
      ColeIO.listPartitioned(path, conf).map(_._1.getPath.toString)
    } else {
      val fresh = tableFs.listStatus(manifestDir)
        .filter(st => !st.getPath.getName.startsWith(".") &&
          !manifestSeen.contains(st.getPath.getName))
        .sortBy(_.getPath.getName)
      fresh.flatMap { st =>
        manifestSeen += st.getPath.getName
        val in = tableFs.open(st.getPath)
        try new String(in.readAllBytes(), UTF_8).split('\n').filter(_.nonEmpty).toSeq
        finally in.close()
      }.toSeq
    }
  }

  override def initialOffset(): Offset = ColeSourceOffset(-1L)

  override def latestOffset(): Offset = synchronized {
    // vector-mode tables have NO tailing-stream story: deletion vectors
    // modify files this source already served, and an insert-only stream
    // would silently never observe the DELETEs. Refuse loudly (checked
    // per trigger — the mode can flip on mid-stream), same discipline as
    // the insert feed's refuse-by-record-shape. One marker existence
    // probe per trigger.
    require(!ColeDv.vectorModeFor(path, conf),
      s"cannot tail $path as a stream: delete_mode is 'vector' — " +
        "deletion vectors delete rows from already-served files, which " +
        "an insert-only stream cannot express. Stream the row-level " +
        "change feed instead (readStream option changeFeed=true, or " +
        "batch ColeChangeFeed.read) — it serves vector DELETEs as " +
        "delete rows — or compact + delete_mode('ns.t','copy')")
    // a clone's foreign files live outside this directory: a tailing
    // stream would silently skip the cloned content — refuse until
    // localize makes the table self-contained (checked per trigger)
    ColeClone.requireLocal(path, conf, "tailing this table as a stream")
    load()
    // LIST THE DATA DIR FIRST, records second. ColeCompact writes the
    // compaction record BEFORE renaming outputs into place, so any output
    // this listing can see already has its record on disk when the
    // records refresh runs AFTER it. The reverse order (records first)
    // opens a race: a trigger whose records listing lands just before the
    // record write and whose data listing lands just after the rename
    // admits the output recordless and replays every already-served row,
    // permanently (observed as a real parallel-suite failure, r9).
    val listed = candidates()
    ColeMicroBatchStream.betweenListingsHook.get().run()
    refreshCompactionRecords()
    carry ++= listed
    // effectivelySeen is monotone (seen and compInputs only grow), so
    // retired entries — admitted files and skip-able compaction
    // outputs — drop out for good and the set stays backlog-sized
    carry.filterInPlace(f => !effectivelySeen(f))
    // deterministic admission order + per-trigger cap: a backlog drains
    // over successive bounded batches instead of one unbounded plan.
    // Existence filters BEFORE the cap (a non-existent entry must never
    // occupy an admission slot — phantoms sorting early would otherwise
    // starve real files behind them), and a probe miss REMOVES the
    // entry: a vanished carry entry is either an input a completed swap
    // deleted (its rows resolve through the swap's outputs — the record
    // confirmation path re-adds those) or a file deleted out-of-band;
    // neither can ever be served again under this name, and keeping it
    // would re-probe it every trigger forever.
    val fresh = {
      val admitted = scala.collection.mutable.ArrayBuffer[String]()
      val dead = scala.collection.mutable.ArrayBuffer[String]()
      val it = carry.iterator
      while (admitted.size < maxFilesPerTrigger && it.hasNext) {
        val f = it.next()
        if (tableFs.exists(new HPath(f))) admitted += f else dead += f
      }
      carry --= dead
      admitted.toSeq
    }
    if (fresh.nonEmpty) {
      // write-ahead: the entry must be durable before the offset escapes.
      // Temp + rename so a crash mid-write can never leave a torn entry
      // whose partial contents a restart would fold into the seen-set
      // (losing the unwritten tail of the batch forever).
      val next = seq + 1
      val tmp = new HPath(logDir, s".$next.tmp")
      val out = fs.create(tmp, true)
      try out.write(fresh.mkString("\n").getBytes(UTF_8)) finally out.close()
      require(fs.rename(tmp, entryPath(next)), s"file-log rename failed for $next")
      seen ++= fresh
      seq = next
      // periodic snapshot: the whole seen-set in one file, so restart
      // reads O(files) once instead of O(batches) entries
      if ((next + 1) % ColeMicroBatchStream.SnapshotInterval == 0) {
        val tmp = new HPath(logDir, s".$next.snap.tmp")
        val o = fs.create(tmp, true)
        try o.write(seen.toSeq.sorted.mkString("\n").getBytes(UTF_8)) finally o.close()
        fs.delete(snapPath(next), false)
        if (fs.rename(tmp, snapPath(next))) snapSeq = next
      }
    }
    ColeSourceOffset(seq)
  }

  override def deserializeOffset(json: String): Offset =
    try ColeSourceOffset(json.trim.toLong)
    catch {
      case _: NumberFormatException =>
        // pre-file-log checkpoints stored the processed-file SET here;
        // fail with an actionable message instead of a bare parse error
        throw new IllegalStateException(
          "incompatible cole-source checkpoint: offset is not a file-log " +
            "sequence number (written by a pre-log build?). Start the query " +
            "with a fresh checkpointLocation.")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    load()
    val s0 = start.asInstanceOf[ColeSourceOffset].seq
    val s1 = end.asInstanceOf[ColeSourceOffset].seq
    if (s1 <= s0) return Array.empty
    val fresh = ((s0 + 1) to s1).flatMap(readEntry).toSet
    if (fresh.isEmpty) Array.empty
    else scan.planPartitionsOf(fresh.contains)
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()

  /** Batches ≤ end are durably committed: entries a snapshot subsumes can
    * never be re-planned, so drop them (and superseded snapshots). This
    * is what bounds the log's small-file count over a long-lived stream.
    */
  override def commit(end: Offset): Unit = synchronized {
    val committed = end.asInstanceOf[ColeSourceOffset].seq
    if (snapSeq < 0) return
    val bound = math.min(committed, snapSeq)
    if (bound < 0) return
    fs.listStatus(logDir).foreach { st =>
      val name = st.getPath.getName
      val isEntry = name.forall(_.isDigit) && name.toLong <= bound
      val isOldSnap = name.endsWith(".snap") &&
        name.stripSuffix(".snap").forall(_.isDigit) &&
        name.stripSuffix(".snap").toLong < snapSeq
      if (isEntry || isOldSnap) fs.delete(st.getPath, false)
    }
  }

  override def stop(): Unit = ()
}

/** Streaming (Append) sink over the COLE layout.
  *
  * Exactly-once story: tasks write through [[ColeFileNaming.Epoch]] —
  * dotted `.part-e<epoch>-p<pid>-<k>.col.inprogress-<taskId>` files
  * (invisible to readers — listings match only `*.col`) — and the DRIVER
  * renames them to the epoch-deterministic finals
  * (`part-e<epoch>-p<pid>-<k>.col`) their commit messages carry. A
  * replayed epoch — failure between sink commit and checkpoint write —
  * regenerates the same batch under the same epoch id, and the rename
  * overwrites the same final names instead of appending duplicates. Task
  * retries/speculation leave only uncommitted dotted files, cleaned by
  * abort and ignored by readers.
  */
object ColeStreamingWrite {
  /** Directory (under the table root) of per-epoch commit manifests: one
    * file per committed epoch listing the qualified final data files. The
    * streaming SOURCE tails this instead of re-listing the whole table
    * every trigger — the difference between O(new files) and O(total
    * files) of driver work per trigger on a long-lived 100k-file table.
    * Ignored by readers (no `key=value` name, no `.col` suffix).
    */
  val ManifestDirName = "_cole_manifest"
}

class ColeStreamingWrite(schema: StructType, path: String, rowGroupSize: Int,
    conf: Configuration, partCols: Seq[String],
    bucketSpec: Option[(Int, Seq[String])] = None,
    bucketDerive: Option[(String, Seq[String])] = None,
    temporal: Option[ColeTemporal.Spec] = None,
    /** WAP branch staging (r16): epochs land under the branch's staging
      * root with branch-local `append` records — a streaming ingest can
      * be audited before publish exactly like a batch one. Replay
      * idempotence is preserved on both surfaces: the epoch-
      * deterministic finals overwrite in place, and the branch-record
      * fold is a SET, so a replayed epoch's re-recorded rels converge.
      * Main's tree, log, and manifest dir are untouched until
      * fast_forward.
      */
    branch: Option[String] = None) extends StreamingWrite {

  // the batch write's preparation, once per epoch: CHECK constraints and
  // the evolved-table format version hold for streamed rows too
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ColeWritePrep.factory(schema, path, rowGroupSize, conf, partCols,
      bucketSpec, bucketDerive, temporal, branch, ColeFileNaming.Epoch)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val finals = messages.flatMap {
      case ColeCommitMessage(renames) => renames.map { w =>
        val (fs, t) = ColeIO.resolve(w.written, conf)
        val (_, f) = ColeIO.resolve(w.fin, conf)
        if (fs.exists(f)) fs.delete(f, false) // epoch replay: overwrite
        if (!fs.rename(t, f))
          throw new java.io.IOException(
            s"epoch $epochId: rename ${w.written} -> ${w.fin} failed")
        fs.makeQualified(f).toString
      }
      case _ => Seq.empty
    }
    if (branch.isDefined) {
      // branch staging: ONE branch `append` record per epoch, rels
      // relative to the staging root (== publish destinations). No
      // manifest entry and no main version commit — staged epochs are
      // invisible to main and to tailing sources until fast_forward.
      // A replayed epoch re-records the same rels: the fold is a set.
      val (bfs, _) = ColeIO.resolve(path, conf)
      ColeRefs.commitBranchAppend(path, conf, branch.get, finals.toSeq.map(
        f => ColeVersions.relOf(bfs, ColeRefs.branchDataRoot(path, branch.get), f)))
      return
    }
    // per-epoch manifest entry AFTER the renames: listed files are always
    // readable. Epoch-deterministic name + full overwrite = a replayed
    // epoch converges to the same entry instead of appending a duplicate.
    val (fs, dir) = ColeIO.resolve(path, conf)
    val mdir = new org.apache.hadoop.fs.Path(dir, ColeStreamingWrite.ManifestDirName)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    // temp + rename: the tailing source polls this directory at trigger
    // frequency, and a non-atomic create would let it read a torn/empty
    // entry and mark the epoch consumed with its files silently dropped
    val entry = new org.apache.hadoop.fs.Path(mdir, f"e$epochId%020d")
    val tmp = new org.apache.hadoop.fs.Path(mdir, f".e$epochId%020d.tmp")
    val out = fs.create(tmp, true)
    try out.write(finals.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(entry, false) // epoch replay converges to the same entry
    if (!fs.rename(tmp, entry))
      throw new java.io.IOException(s"epoch $epochId: manifest rename failed")
    // versioned tables: one version per epoch. A REPLAYED epoch re-adds
    // the same relative paths — the snapshot fold is a set, so the
    // replayed record is a harmless no-op delta (content converged to
    // the same epoch-deterministic files)
    ColeVersions.commitIfEnabled(path, conf, s"epoch-$epochId",
      finals.toSeq.map(f => ColeVersions.relOf(fs, path, f)), Seq.empty)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ColeCommitMessage(renames) => renames.foreach { w =>
        val (fs, t) = ColeIO.resolve(w.written, conf)
        fs.delete(t, false)
      }
      case _ => ()
    }
}
