package graft.sources.cole

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.cole.ColeFormat._

/** Group-based SQL UPDATE / MERGE INTO / (non-convertible) DELETE on COLE
  * tables — the full DML rung above `ColeDelete`'s metadata fast path.
  *
  * Spark's row-level machinery (`SupportsRowLevelOperations`) rewrites
  * `UPDATE t SET ... WHERE cond` into ReplaceData: scan the GROUPS that
  * may contain matching rows, recompute every row of those groups
  * (CASE WHEN cond THEN updated ELSE original), and have the connector
  * atomically replace exactly those groups. For COLE a group is a FILE:
  *
  *   - the GROUP SCAN ([[ColeGroupScan]]) plans whole candidate files —
  *     stats classify files on the driver (a file whose every row group
  *     provably excludes the condition stays untouched, byte-identical),
  *     and Spark's runtime group filter (`_cole_file IN (SELECT ...)`,
  *     driven by the [[ColeUtil.FileMetaCol]] metadata column) restricts
  *     the set to files that actually contain matches. Critically this
  *     scan NEVER claims row filters: a claimed predicate would drop the
  *     non-matching rows of a replaced file — data loss, not pushdown.
  *   - the REPLACE WRITE ([[ColeReplaceWrite]]) routes replacement rows
  *     through the normal layout-aware writer factory (hive partitions,
  *     hash buckets, sorted bucket files, synthetic-key derivation — the
  *     synth column is RECOMPUTED from the source keys, so an UPDATE
  *     that changes a composite key re-routes the row to its new
  *     bucket), then at commit verifies no concurrent writer touched the
  *     replaced files ((len, mtime) snapshot from planning — reject
  *     loudly, new files rolled back) and swaps through the
  *     [[ColeSwap]], one manifest at the table root (an UPDATE may move
  *     a row to another partition).
  *
  * The scan and write coordinate through this operation instance (the
  * contract of `RowLevelOperationTable`): the scan records the planned
  * file snapshot, the write replaces exactly that set.
  */
class ColeRowLevelOperation(cmd: RowLevelOperation.Command,
    private[cole] val path: String, private[cole] val partCols: Seq[String],
    private[cole] val conf: Configuration,
    /** Write-audit-publish routing (r15): with the session's
      * `graft.cole.write.branch` conf set, row-level DML reads the
      * BRANCH state (fork snapshot minus masks, plus staged files) and
      * commits to the branch — replaced fork-owned files are MASKED
      * (mask-don't-retire, the clone-DML pattern), replaced staged files
      * retire branch-locally, replacement rows land staged. Main is
      * untouched until publish.
      */
    val branch: Option[String] = None)
    extends RowLevelOperation {

  /** (path, len, mtime) of the files the group scan finally planned —
    * what commit replaces, and the concurrent-write race baseline.
    *
    * Two scan instances may plan through this operation: the runtime
    * group-filter SUBQUERY (statically classified candidates) and the
    * MAIN group scan (restricted by the runtime `_cole_file IN` filter).
    * Their planning order is an engine detail, so the runtime-filtered
    * planning is AUTHORITATIVE: it reflects exactly the files whose rows
    * the rewrite read, and an unfiltered planning never overrides it —
    * replacing a file the main scan did not read would lose its rows.
    */
  @volatile private[cole] var plannedFiles: Seq[(String, Long, Long)] = Seq.empty
  @volatile private var plannedLocked = false

  /** Deletion-vector SIDECAR identity (len, mtime) per planned file at
    * scan time; None = no sidecar then. A merge-on-read commit mutates
    * only the sidecar — the data file's (len, mtime) cannot see it — so
    * the delta commit's drift check compares THIS against the live
    * sidecar: without it, two overlapping MOR committers would both pass
    * the data-file check and silently interleave (lost update /
    * duplicated images).
    */
  @volatile private[cole] var plannedDvs: Map[String, Option[(Long, Long)]] =
    Map.empty

  /** No-op detection state from the authoritative planning: which slice
    * indices each planned file packed into, the accumulator its readers
    * fold scan-side fingerprints into, and the name-sorted hash column
    * list the fingerprints cover (must equal the write side's or the
    * fingerprints are incomparable).
    */
  @volatile private[cole] var fileSlices: Map[String, Seq[Int]] = Map.empty
  @volatile private[cole] var scanAcc
      : org.apache.spark.util.CollectionAccumulator[ColeRowHash.ScanSlice] = null
  @volatile private[cole] var scanHashNames: Seq[String] = Seq.empty

  private[cole] def recordPlanned(files: Seq[(String, Long, Long)],
      slices: Map[String, Seq[Int]],
      acc: org.apache.spark.util.CollectionAccumulator[ColeRowHash.ScanSlice],
      hashNames: Seq[String], authoritative: Boolean,
      dvs: Map[String, Option[(Long, Long)]] = Map.empty): Unit = synchronized {
    if (authoritative || !plannedLocked) {
      plannedFiles = files
      fileSlices = slices
      scanAcc = acc
      scanHashNames = hashNames
      plannedDvs = dvs
      if (authoritative) plannedLocked = true
    }
  }

  /** The row count replacement files cut row groups at. */
  private[cole] lazy val rowGroupSize: Int =
    ColeRowLevelOperation.rowGroupSizeOf(ColeMetaCache.infos(path, conf))

  @volatile private var recovered = false

  /** Resolves interrupted swaps before the group scan first trusts a
    * listing; the runtime group-filter subquery and the main scan both
    * plan through this operation.
    */
  private[cole] def recoverOnce(): Unit = synchronized {
    if (!recovered) {
      val (fs, _) = ColeIO.resolve(path, conf)
      ColeSwap.recoverTable(fs, path, conf,
        ColeIO.listPartitioned(path, conf).map(_._1.getPath.getParent).distinct)
      recovered = true
    }
  }

  override def command(): RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(ColeUtil.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ColeGroupScanBuilder(this, path, conf)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ColeReplaceWrite(this, info.schema(), path, rowGroupSize, conf,
      partCols, branch)

  override def description(): String = s"ColeRowLevel[$cmd] $path"
}

object ColeRowLevelOperation {
  /** The largest row group `infos` hold, so rewritten rows keep the
    * table's pruning grain; the writers' default for an empty table.
    */
  def rowGroupSizeOf(infos: Seq[ColeMetaCache.FileInfo]): Int =
    infos.iterator.flatMap(_.meta.rowGroups.iterator.map(_.numRows)).maxOption.getOrElse(65536)
}

/** Scan builder for the group scan: filters are accepted only as FILE
  * classifiers (returned residual in full — never claimed; Spark keeps
  * the row-level semantics in the rewritten query plan).
  */
class ColeGroupScanBuilder(op: ColeRowLevelOperation, path: String,
    conf: Configuration)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = _
  private var classifiers: Array[ColePredicate] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // best-effort, file-granular: a predicate that doesn't convert just
    // doesn't help classification (the file set stays larger)
    classifiers = filters.flatMap(ColePredicate.fromFilter)
    filters // ALL residual — this scan must return whole groups
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    require(required != null, "group scan built before column pruning")
    new ColeGroupScan(op, required, path, conf, classifiers)
  }
}

/** Whole-file scan over the candidate group set. Reuses the normal
  * partition/reader machinery ([[ColeInputPartition]] +
  * [[ColeReaderFactory]]); the [[ColeUtil.FileMetaCol]] metadata column
  * rides the partition-constant mechanism (injected into partValues).
  */
class ColeGroupScan(op: ColeRowLevelOperation, required: StructType,
    path: String, conf: Configuration, classifiers: Array[ColePredicate])
    extends Scan with Batch with SupportsRuntimeFiltering {

  private val hconf = new ColeHadoopConf(conf)

  /** Scan-side fingerprint channel for no-op rewrite detection: each
    * reader folds the rows it delivers into a per-slice fingerprint and
    * reports it here (successful tasks only — Spark discards failed-task
    * accumulator updates, and the commit dedups by slice index against
    * stage retries). Created eagerly on the driver; null with neither an
    * active nor a default session, which simply disables detection.
    */
  private val sliceAcc
      : org.apache.spark.util.CollectionAccumulator[ColeRowHash.ScanSlice] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map { s =>
      val acc = new org.apache.spark.util.CollectionAccumulator[ColeRowHash.ScanSlice]
      s.sparkContext.register(acc, "cole-replace-scan-fp")
      acc
    }.orNull

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ColeGroupScan path=$path, classifiers=[${classifiers.mkString(", ")}]"

  // the runtime GROUP filter arrives here: _cole_file IN (matching files)
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(ColeUtil.FileMetaCol))

  private var runtimeFiles: Option[Set[String]] = None

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In(c, vs) if c == ColeUtil.FileMetaCol =>
        runtimeFiles = Some(vs.map(String.valueOf(_)).toSet)
      case EqualTo(c, v) if c == ColeUtil.FileMetaCol =>
        runtimeFiles = Some(Set(String.valueOf(v)))
      case _ => () // ignore anything else: the set just stays larger
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // branch DML (WAP): plan the BRANCH's visible file set — fork
    // snapshot minus DML masks, plus live staged files. A fork snapshot
    // carrying deletion vectors is rejected (a group rewrite blind to
    // them would resurrect vectored-away rows): compact main first.
    val (infos, snapshot) = op.branch match {
      case None =>
        op.recoverOnce()
        (ColeMetaCache.infos(path, conf), None)
      case Some(b) =>
        val (is, dvs) = ColeRefs.branchInfos(path, conf, b)
        require(dvs.isEmpty,
          s"row-level DML on branch '$b' is not supported while the fork " +
            "snapshot carries deletion vectors — run " +
            "CALL <catalog>.system.compact on main, re-branch, and retry")
        (is, Some(ColeSnapshot(is, bucketHistory = ColeBucket.readHistory(path, conf))))
    }
    // candidate files: those with a row group the classifiers may touch,
    // restricted by the runtime group filter. Merge-on-read deletion
    // vectors apply here too: a rewrite materializes only LIVE rows (and
    // the replace commit drops the replaced files' vectors with the files)
    val plan = ColePlan.plan(path, conf, infos, snapshot, classifiers)
    val candidates = plan.files.filter(f => runtimeFiles.forall(_.contains(f.info.path)))
    val perFile: Seq[(String, Seq[ColeInputPartition])] = candidates.map { f =>
      val meta = f.info.meta
      val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
      val dirKeys = f.info.partValues.iterator.map(_._1).toSet
      // per-field source (see ColeUtil.ConstSrc): directory-served
      // columns are per-file under spec evolution
      val colIndices = required.fieldNames.map { n =>
        if (n == ColeUtil.FileMetaCol || n == ColeUtil.PosMetaCol ||
          dirKeys.contains(n)) ColeUtil.ConstSrc
        else nameToIdx.getOrElse(n, -1)
      }
      // whole file, every row group, NO selection predicates — rows of a
      // replaced group that don't match the condition must survive
      f.info.path -> ColePack.pack(f.info.path, colIndices,
        meta.rowGroups.zipWithIndex.map { case (rg, rgIdx) =>
          (rgIdx, rg.numRows,
            colIndices.filter(_ >= 0).map(ci => rg.chunks(ci).totalSize).sum)
        }, ColePack.targetBytes, Array.empty,
        (f.info.partValues :+ (ColeUtil.FileMetaCol -> f.info.path)).toArray,
        deletedOf = f.deletedOf)
    }
    // slice indices = positions in the returned array; the per-file map
    // lets commit fold slice fingerprints back into per-file ones
    var next = 0
    val slices = perFile.map { case (f, ps) =>
      val idxs = ps.indices.map(_ + next); next += ps.size; f -> idxs
    }.toMap
    // the replacement contract: commit swaps EXACTLY what was planned
    // the sidecar identities the vectors were read at: a later commit to
    // a sidecar fails the delta commit's drift check
    op.recordPlanned(candidates.map(f => (f.info.path, f.info.len, f.info.mtime)), slices,
      sliceAcc, ColeRowHash.hashableNames(required),
      authoritative = runtimeFiles.isDefined,
      dvs = plan.sidecars.fold(Map.empty[String, Option[(Long, Long)]])(ids =>
        candidates.map(f => f.info.path -> ids.get(f.info.path)).toMap))
    perFile.flatMap(_._2).zipWithIndex.map { case (p, i) =>
      ColeSlicedPartition(i, p): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // exists-defaults ride the required schema into the readers: a DML
    // rewrite of a pre-evolution file must materialize the default, not
    // NULL (the same fill every read surface serves)
    val req = ColeDefaults.attach(required, path, conf)
    new ColeHashingReaderFactory(new ColeReaderFactory(req, hconf),
      req, sliceAcc)
  }
}

/** A group-scan slice: the underlying partition plus its position in the
  * planned array (the fingerprint join key back to write-task ids).
  */
final case class ColeSlicedPartition(idx: Int, inner: ColeInputPartition)
    extends InputPartition

/** Reader factory decorator that folds every delivered row into a
  * per-slice fingerprint and reports it on reader close. Pure
  * passthrough when `acc` is null (no active session at scan build).
  */
class ColeHashingReaderFactory(inner: ColeReaderFactory, required: StructType,
    acc: org.apache.spark.util.CollectionAccumulator[ColeRowHash.ScanSlice])
    extends PartitionReaderFactory {

  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private def unwrap(p: InputPartition): (Int, InputPartition) = p match {
    case ColeSlicedPartition(i, ip) => (i, ip)
    case other => (-1, other)
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val (idx, ip) = unwrap(partition)
    val r = loud(inner.createReader(ip))
    if (acc == null || idx < 0) loudReader(r)
    else new PartitionReader[InternalRow] {
      private val hasher = new ColeRowHash.RowHasher(required)
      private var row: InternalRow = _
      override def next(): Boolean = {
        val has = loud(r.next())
        if (has) { row = r.get(); hasher.add(row) }
        has
      }
      override def get(): InternalRow = row
      override def close(): Unit = {
        acc.add(ColeRowHash.ScanSlice(idx, ColeRowHash.Fp.of(hasher)))
        r.close()
      }
    }
  }

  /** A planned file vanishing mid-rewrite means a CONCURRENT committer
    * replaced it (retire renames it away) — surface the same loud,
    * actionable rejection the commit-time (len,mtime) check gives,
    * never a bare FileNotFoundException from deep in a task. The losing
    * statement aborts with nothing visible (its replacement files are
    * still dotted); file-DISJOINT concurrent DML never trips this —
    * ColeDmlRaceSpec pins both contracts.
    */
  private def loud[T](body: => T): T =
    try body catch {
      case e: java.io.FileNotFoundException => throw new IllegalStateException(
        s"concurrent write detected during row-level rewrite " +
          s"(${e.getMessage}): another committer replaced a planned file; " +
          "aborted with nothing visible — retry after the other writer " +
          "commits", e)
    }

  /** The vanish can also surface mid-READ (the local filesystem's
    * checksum layer re-opens the file inside readFully) — wrap every
    * next() of the delegate, not just its construction.
    */
  private def loudReader[T](r: PartitionReader[T]): PartitionReader[T] =
    new PartitionReader[T] {
      override def next(): Boolean = loud(r.next())
      override def get(): T = r.get()
      override def close(): Unit = r.close()
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(partition)._2)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val (idx, ip) = unwrap(partition)
    val r = loud(inner.createColumnarReader(ip))
    if (acc == null || idx < 0) loudReader(r)
    else new PartitionReader[ColumnarBatch] {
      private val hasher = new ColeRowHash.RowHasher(required)
      private var batch: ColumnarBatch = _
      override def next(): Boolean = {
        val has = loud(r.next())
        if (has) {
          batch = r.get()
          hasher.addBatch(batch)
        }
        has
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = {
        acc.add(ColeRowHash.ScanSlice(idx, ColeRowHash.Fp.of(hasher)))
        r.close()
      }
    }
  }
}

/** The ReplaceData write: layout-preserving rewrite of the planned
  * groups through the normal writer factory, with a two-phase commit.
  */
class ColeReplaceWrite(op: ColeRowLevelOperation, schema: StructType,
    path: String, rowGroupSize: Int, conf: Configuration,
    partCols: Seq[String], branch: Option[String] = None)
    extends WriteBuilder
    with Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
    with BatchWrite {

  private val bucketSpec = ColeBucket.readSpec(path, conf)
  private val bucketDerive = ColeBucket.readDerivation(path, conf)

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String = s"ColeReplaceWrite $path"

  // same clustering contract as bucketed appends: buckets arrive
  // contiguous and each replacement file lands sorted on the key
  private def clusterCols: Seq[String] =
    bucketDerive.map(_._2).orElse(bucketSpec.map(_._2)).getOrElse(Seq.empty)

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    if (clusterCols.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      clusterCols.map(c => E.column(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    clusterCols.map(c => E.sort(E.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    ColeUtil.toColeColumns(schema)
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' not in replace-write schema"))
    bucketSpec.foreach { case (n, cs) =>
      val hashCols = bucketDerive.map(_._2).getOrElse(cs)
      hashCols.foreach(c => require(schema.fieldNames.contains(c),
        s"bucket column '$c' not in replace-write schema"))
      // the synth column comes back FROM the table here (unlike appends) —
      // the writer overrides it in place with the recomputed hash
      bucketDerive.foreach { case (synth, _) =>
        require(schema.fieldNames.contains(synth),
          s"synthetic bucket column '$synth' missing from replace-write schema") }
      require(n > 0 && n <= 65536, s"bucket count must be in [1, 65536], got $n")
    }
    // evolved columns (in the write schema, absent from some live file)
    // make NULLs unavoidable in the rewrite — auto-select v2 for it
    val wconf = ColeUtil.evolvedWriteConf(conf, path, schema, partCols)
    // branch DML (WAP): replacement rows land STAGED under the branch's
    // data root (layout subpaths mirror the table's 1:1, same as branch
    // appends) — main's tree is never written
    val dataRoot = branch.map(ColeRefs.branchDataRoot(path, _))
    dataRoot.foreach { r =>
      val (bfs, bp) = ColeIO.resolve(r, conf)
      bfs.mkdirs(bp)
    }
    new ColeHashingWriterFactory(
      new ColeWriterFactory(schema, path, rowGroupSize, new ColeHadoopConf(wconf),
        partCols, bucketSpec, bucketDerive,
        // CHECK constraints hold through UPDATE/MERGE rewrites: every
        // written row (updated or copied) re-validates before commit
        ColeChecks.forWrite(path, conf, schema),
        // temporal layouts re-derive: a rewritten row routes back to its
        // unit directory (or its NEW one when the UPDATE moved the
        // timestamp) — layout invariants survive DML
        ColeTemporal.readSpec(path, conf),
        dataRoot = dataRoot,
        // defer the renames: replacement files stay DOTTED (invisible to
        // listings, readers, and tailing streams) until this driver's
        // commit has race-checked the replaced set and made the
        // compaction record durable — without this, a stream triggering
        // between task commit and job commit would replay every replaced
        // row. The stamp keeps final names unique across sessions.
        naming = ColeFileNaming.Deferred(s"replace-$stamp-")), schema)
  }

  private val stamp = ColeSwap.newStamp()

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // per task: its files — the written names stay dotted until the
    // swap below renames them
    val tasks: Seq[(Int, ColeRowHash.Fp, Seq[ColeWrittenFile])] = messages.toSeq.flatMap {
      case ColeHashedCommitMessage(fs0, pid, fp) => Seq((pid, fp, fs0))
      case ColeCommitMessage(fs0) => Seq((-1, ColeRowHash.Fp.zero, fs0))
      case _ => Seq.empty
    }
    val (fs, root) = ColeIO.resolve(path, conf)
    // a task that received no rows (zero-match condition, or every row of
    // its slice deleted) commits an empty file: drop those
    val taskFiles: Map[Int, Seq[ColeWrittenFile]] = tasks.map { case (pid, _, fs0) =>
      pid -> ColeWrittenFile.dropEmpty(fs0, conf, keepOne = false)
    }.toMap
    val planned = op.plannedFiles
    if (branch.isDefined) {
      commitToBranch(branch.get, fs, tasks, taskFiles, planned, messages)
      return
    }
    val opName = op.command().toString.toLowerCase
    // zero-copy clone DML (mask-don't-retire): planned files outside the
    // table root are the SOURCE's — they claim/mask under their src-rel
    // and are HIDDEN by the pointer at commit instead of retired. They
    // never enter the swap manifest: a roll-forward would delete the
    // source's bytes
    val foreignRel: Map[String, String] = ColeClone.read(path, conf)
      .fold(Map.empty[String, String])(ColeClone.foreignRelOf(_, conf))
    val plannedForeign = planned.filter(p => foreignRel.contains(p._1))
    // one swap manifest at the table root: an UPDATE may move a row to
    // another partition, and per-directory manifests could roll one
    // directory forward and another back. Commits that will mask foreign
    // files also claim the pointer (its read-modify-write serializes with
    // other maskers and with localize).
    val claimed = ColeSwap.claim(fs, conf, path, opName,
      planned.map(_._1).filterNot(foreignRel.contains), Seq(root),
      plannedForeign.map(p => foreignRel(p._1)) ++
        (if (plannedForeign.nonEmpty) Seq(ColeClone.MaskClaimRel) else Nil))
    try {
    // a foreign file's BYTES never change when a concurrent clone-DML
    // wins (masking doesn't touch the source) — the (len, mtime) check
    // below is blind to it, so the mask itself is re-read under the
    // claims: a planned rel already masked means our scan read rows that
    // are no longer live. Loud conflict; the DML auto-retry re-plans
    // from the fresh pointer and re-executes cleanly.
    if (plannedForeign.nonEmpty) {
      val freshCs = ColeClone.read(path, conf)
      if (freshCs.isEmpty) {
        // a concurrent localize GRADUATED the table: our plan's foreign
        // files now have live local twins — committing would duplicate
        // their rows. Conflict; the retry re-plans over the local copies.
        abort(messages)
        throw new IllegalStateException(
          s"concurrent write detected during ${op.command()}: the clone " +
            "was localized while this statement ran; aborted with the " +
            "replacement rolled back — retry re-plans the local table")
      }
      val maskedNow = freshCs.map(_.masked).getOrElse(Set.empty)
      plannedForeign.map(p => foreignRel(p._1)).find(maskedNow) match {
        case Some(rel) =>
          abort(messages)
          throw new IllegalStateException(
            s"concurrent write detected on cloned file $rel during " +
              s"${op.command()}; aborted with the replacement rolled " +
              "back — retry after the other writer commits")
        case None => ()
      }
    }
    // concurrent-write race check while the replacement is still fully
    // INVISIBLE (dotted): every replaced file must still be exactly the
    // bytes the group scan read — on rejection the table is untouched
    ColeSwap.drifted(fs, planned).foreach { p =>
      abort(messages) // roll the invisible replacement back
      throw new IllegalStateException(
        s"concurrent write detected on $p during ${op.command()}; " +
          "aborted with the replacement rolled back — retry after the " +
          "other writer commits")
    }
    // ---- no-op rewrite detection: a planned file whose replacement rows
    // fingerprint-match the rows the scan read from it did not change —
    // keep the ORIGINAL byte-identical and discard its (still invisible)
    // replacement. A conditional re-run MERGE/UPDATE whose matched rows
    // change nothing then rewrites ZERO files instead of fragmenting the
    // table on every run. Per-file matching rides the slice-index ↔
    // write-partition-id alignment of the shuffle-free rewrite plan; when
    // an exchange breaks alignment, fingerprints mismatch (never falsely
    // match content that differs) and a whole-operation total comparison
    // still catches the all-files-unchanged case.
    val (noopFiles: Set[String], discardTasks: Set[Int]) =
      noopDetection(tasks, taskFiles, planned)
    discardTasks.foreach(pid => taskFiles.getOrElse(pid, Seq.empty)
      .foreach(f => fs.delete(new HPath(f.written), false)))
    val newDotted: Seq[ColeWrittenFile] = taskFiles.toSeq.sortBy(_._1).collect {
      case (pid, fs0) if !discardTasks.contains(pid) => fs0
    }.flatten
    val (replacedForeign, replacedLocal) = planned.map(_._1)
      .filterNot(noopFiles).partition(foreignRel.contains)
    ColeSwap.commit(fs, path, conf, opName, stamp, claimed,
      Seq(ColeSwap.Group(root, replacedLocal, newDotted.map(f => (f.written, f.fin))))) {
      // mask-don't-retire: the SOURCE owns these bytes. On an UNVERSIONED
      // clone they hide behind append-only `_clonemask/` entries; on a
      // VERSIONED clone (r15) the replacement is an ordinary remove whose
      // bytes COPY-retire under this table's own log — masking then
      // derives from the fold (ColeClone.read), so time travel, rollback
      // and the change feed cover clone DML with zero extra machinery.
      if (!claimed.versioned) {
        ColeClone.mask(path, conf, replacedForeign.map(foreignRel).toSet)
        Seq.empty
      } else replacedForeign.map(p =>
        ColeVersions.copyRetire(fs, path, p, foreignRel(p), stamp))
    }
    } finally claimed.release()
  }

  /** No-op rewrite detection (shared by the main and branch commit
    * lanes): which planned files' replacement rows fingerprint-match the
    * rows the scan read from them (keep the original byte-identical,
    * discard the invisible replacement), and which write tasks' files to
    * discard with them.
    */
  private def noopDetection(tasks: Seq[(Int, ColeRowHash.Fp, Seq[ColeWrittenFile])],
      taskFiles: Map[Int, Seq[ColeWrittenFile]],
      planned: Seq[(String, Long, Long)]): (Set[String], Set[Int]) = {
    val slices = Option(op.scanAcc).map(_.value)
      .map(_.asScala.groupBy(_.idx).view.mapValues(_.head.fp).toMap)
      .getOrElse(Map.empty[Int, ColeRowHash.Fp])
    val taskFp: Map[Int, ColeRowHash.Fp] =
      tasks.map { case (pid, fp, _) => pid -> fp }.toMap
    if (slices.isEmpty || taskFp.contains(-1) ||
        op.scanHashNames != ColeRowHash.hashableNames(schema))
      (Set.empty[String], Set.empty[Int])
    else {
      def fpSum(m: Map[Int, ColeRowHash.Fp], idxs: Seq[Int]): ColeRowHash.Fp =
        idxs.foldLeft(ColeRowHash.Fp.zero)((a, i) =>
          a + m.getOrElse(i, ColeRowHash.Fp.zero))
      val totalScan = slices.values.foldLeft(ColeRowHash.Fp.zero)(_ + _)
      val totalWrite = taskFp.values.foldLeft(ColeRowHash.Fp.zero)(_ + _)
      if (totalScan.count > 0 && totalScan == totalWrite)
        // whole operation changed nothing (alignment-independent):
        // every original stays, every replacement file is discarded
        (planned.map(_._1).toSet, taskFiles.keySet)
      else {
        // per-file: a file is unchanged when the write tasks aligned
        // with its slices produced exactly its rows — discard only
        // those tasks' files; everything else (changed files, insert
        // rows) commits normally
        val perFile = planned.map(_._1).filter { f =>
          op.fileSlices.get(f).exists { idxs =>
            idxs.forall(slices.contains) && {
              val s = fpSum(slices, idxs)
              s.count > 0 && s == fpSum(taskFp, idxs)
            }
          }
        }.toSet
        (perFile, perFile.flatMap(f => op.fileSlices.getOrElse(f, Seq.empty)))
      }
    }
  }

  /** The branch commit lane (WAP row-level DML): serialize entirely on
    * the branch claim (branch DML is audit-sized — whole-branch
    * serialization beats per-file claim bookkeeping here), re-check the
    * planned set against the FRESH branch state, swap inside the staging
    * root, then land ONE branch record carrying adds + staged removes +
    * fork masks. Main's tree and the main version log are untouched.
    */
  private def commitToBranch(b: String,
      fs: org.apache.hadoop.fs.FileSystem,
      tasks: Seq[(Int, ColeRowHash.Fp, Seq[ColeWrittenFile])],
      taskFiles: Map[Int, Seq[ColeWrittenFile]],
      planned: Seq[(String, Long, Long)],
      messages: Array[WriterCommitMessage]): Unit = {
    val claims = ColeClaims.acquire(fs, conf, path,
      Seq(ColeRefs.branchClaimRelOf(b)),
      s"branch-${op.command().toString.toLowerCase}")
    try {
      // the branch may have been published or dropped while this
      // statement ran — loud (the staged/mask targets are gone)
      ColeRefs.branchFork(path, conf, b)
      // FRESH branch state under the claim: a concurrent DML that
      // committed between planning and here masked/removed files this
      // plan read — conflict, retryably (auto-retry re-plans)
      val (freshSt, freshStaged) = ColeRefs.branchFiles(path, conf, b)
      val visibleNow: Set[String] =
        (freshSt.files.map(_._2) ++ freshStaged.map(_._2))
          .map(p => fs.makeQualified(new HPath(p)).toString).toSet
      val forkRelOf: Map[String, String] = freshSt.files.map {
        case (rel, phys) => fs.makeQualified(new HPath(phys)).toString -> rel
      }.toMap
      val stagedRelOf: Map[String, String] = freshStaged.map {
        case (rel, phys) => fs.makeQualified(new HPath(phys)).toString -> rel
      }.toMap
      planned.foreach { case (p, len, mtime) =>
        val q = fs.makeQualified(new HPath(p)).toString
        val ok = visibleNow(q) && {
          try {
            val st = fs.getFileStatus(new HPath(p))
            st.getLen == len && st.getModificationTime == mtime
          } catch { case _: java.io.FileNotFoundException => false }
        }
        if (!ok) {
          abort(messages)
          throw new IllegalStateException(
            s"concurrent write detected on $p during ${op.command()} on " +
              s"branch '$b'; aborted with the replacement rolled back — " +
              "retry after the other writer commits")
        }
      }
      val (noopFiles, discardTasks) = noopDetection(tasks, taskFiles, planned)
      discardTasks.foreach(pid => taskFiles.getOrElse(pid, Seq.empty)
        .foreach(f => fs.delete(new HPath(f.written), false)))
      val newDotted: Seq[ColeWrittenFile] = taskFiles.toSeq.sortBy(_._1).collect {
        case (pid, fs0) if !discardTasks.contains(pid) => fs0
      }.flatten
      // replacements become visible inside the staging root — invisible
      // to every read surface until the branch record lands below
      newDotted.foreach { f =>
        require(fs.rename(new HPath(f.written), new HPath(f.fin)),
          s"branch replace-commit rename failed: ${f.written}")
      }
      val stagingPrefix = fs.makeQualified(
        new HPath(ColeRefs.branchDataRoot(path, b))).toString
        .stripSuffix("/") + "/"
      val adds = newDotted.map { f =>
        val q = fs.makeQualified(new HPath(f.fin)).toString
        require(q.startsWith(stagingPrefix),
          s"branch replacement landed outside the staging root: $q")
        q.drop(stagingPrefix.length)
      }
      val replaced = planned.map(_._1)
        .filterNot(noopFiles)
        .map(p => fs.makeQualified(new HPath(p)).toString)
      val (replacedStaged, replacedFork) = replaced.partition(stagedRelOf.contains)
      // record FIRST (readers fold records — an unrecorded state change
      // is invisible), physical staged deletes after
      ColeRefs.commitBranchDml(path, conf, b, adds,
        replacedStaged.map(stagedRelOf),
        replacedFork.map(q => forkRelOf.getOrElse(q,
          throw new IllegalStateException(
            s"planned file $q is neither staged nor in the fork snapshot " +
              s"of branch '$b' — audit the branch log"))))
      replacedStaged.foreach(q => fs.delete(new HPath(q), false))
    } finally claims.release()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: WriterCommitMessage =>
        val files = m match {
          case ColeHashedCommitMessage(fs0, _, _) => fs0
          case ColeCommitMessage(fs0) => fs0
          case _ => Seq.empty
        }
        files.foreach { f =>
          val (fs, p) = ColeIO.resolve(f.written, conf)
          fs.delete(p, false)
        }
      case _ => ()
    }
}

/** Replace-path commit message: the task's files plus the fingerprint of
  * every row it wrote (the write side of no-op rewrite detection).
  */
final case class ColeHashedCommitMessage(files: Seq[ColeWrittenFile], partitionId: Int,
    fp: ColeRowHash.Fp) extends WriterCommitMessage

/** Writer-factory decorator for the replace path: folds each written row
  * into the task fingerprint and stamps it (with the partition id) onto
  * the commit message. Rows are hashed BEFORE the bucketed writer's
  * in-place synthetic-key override — the stored synth value the scan
  * hashed only differs from the recomputed one when a source key column
  * changed, which already changes the fingerprint through that column.
  */
class ColeHashingWriterFactory(inner: ColeWriterFactory, schema: StructType)
    extends DataWriterFactory {
  import org.apache.spark.sql.connector.write.DataWriter

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      private val hasher = new ColeRowHash.RowHasher(schema)
      override def write(record: InternalRow): Unit = {
        hasher.add(record)
        w.write(record)
      }
      override def commit(): WriterCommitMessage = w.commit() match {
        case ColeCommitMessage(files) =>
          ColeHashedCommitMessage(files, partitionId, ColeRowHash.Fp.of(hasher))
        case other => other
      }
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Delegating [[InternalRow]] that overrides ONE long field in place —
  * how the bucketed writer RECOMPUTES a stored synthetic bucket key on
  * the replace path without copying every row.
  */
private[cole] final class LongOverrideRow(idx: Int) extends InternalRow {
  private var row: InternalRow = _
  private var v: Long = 0L

  def set(r: InternalRow, value: Long): LongOverrideRow = {
    row = r; v = value; this
  }

  override def numFields: Int = row.numFields
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only row")
  override def copy(): InternalRow = {
    val c = row.copy()
    c.update(idx, v)
    c
  }
  override def isNullAt(i: Int): Boolean = if (i == idx) false else row.isNullAt(i)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i)
  override def getByte(i: Int): Byte = row.getByte(i)
  override def getShort(i: Int): Short = row.getShort(i)
  override def getInt(i: Int): Int = row.getInt(i)
  override def getLong(i: Int): Long = if (i == idx) v else row.getLong(i)
  override def getFloat(i: Int): Float = row.getFloat(i)
  override def getDouble(i: Int): Double = row.getDouble(i)
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = row.getDecimal(i, precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    row.getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i)
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(i)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(i, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(i)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(i)
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(i)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(i)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(i)
  override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    if (i == idx) java.lang.Long.valueOf(v) else row.get(i, dataType)
}
