package graft.sources.cole

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** Merge-on-read UPDATE / MERGE / DELETE (`SupportsDelta`) — the delta
  * rung above copy-on-write: on a vector-mode table, Spark hands this
  * operation the exact CHANGED rows (with their `(_cole_file,
  * _cole_pos)` row ids) instead of every row of every affected file.
  * Deleted/updated-away row ids become deletion-vector ordinals; updated
  * /inserted rows land in NEW files through the normal layout-aware
  * writer. A MERGE touching 0.1% of a 100 TB table then writes KB-scale
  * sidecars plus files proportional to the CHANGED rows — no rewrite of
  * the 99.9% that merely shared a file with a match.
  *
  * Scan side: the same stats-classified, runtime-group-filtered
  * candidate scan as the copy path (reused via [[ColeRowLevelOperation]])
  * — it additionally serves `_cole_pos`, and its planned (len, mtime)
  * snapshot is the commit's race baseline.
  *
  * Insert-only CONSUMERS (tailing streams, the `changesFrom` feed) have
  * no exact story for merge-on-read tables: a delta commit's new files
  * look like appends and the vectored-away old images are invisible to
  * them — the tailing stream REFUSES vector-mode tables loudly, the
  * insert feed refuses dv-bearing commits by record shape. Versioned
  * vector tables (r10) get row-level change semantics through
  * [[ColeChangeFeed]]: this commit pins sidecar copies + new files in
  * one record, and the feed serves the DELETE side from the pinned
  * ordinals delta-exactly.
  *
  * Commit ordering: new files rename in FIRST, vectors extend second —
  * a crash between the two leaves transient DUPLICATES of updated rows
  * (old image not yet vectored away), the recoverable direction (re-run
  * the idempotent pipeline / audit finds it), never silent row loss.
  * Same documented non-atomic window class as truncate/overwrite swaps.
  */
class ColeDeltaOperation(cmd: RowLevelOperation.Command, path0: String,
    partCols0: Seq[String], conf0: Configuration)
    extends ColeRowLevelOperation(cmd, path0, partCols0, conf0)
    with SupportsDelta {

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(ColeUtil.FileMetaCol),
      Expressions.column(ColeUtil.PosMetaCol))

  // the row id columns carry everything the commit needs; re-declaring
  // _cole_file as a metadata attribute too would duplicate it in the plan
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  // update() is handled natively by the writer (delete + insert)
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new ColeDeltaWriteBuilder(this, info.schema(), path, rowGroupSize, conf,
      partCols)

  override def description(): String = s"ColeDelta[$cmd] $path"
}

class ColeDeltaWriteBuilder(op: ColeRowLevelOperation, schema: StructType,
    path: String, rowGroupSize: Int, conf: Configuration,
    partCols: Seq[String]) extends DeltaWriteBuilder {
  override def build(): DeltaWrite =
    new ColeDeltaWriteImpl(op, schema, path, rowGroupSize, conf, partCols)
}

/** Per-task message: files this task wrote (still dotted) plus the row
  * ordinals it deleted, grouped by source file.
  */
final case class ColeDeltaCommitMessage(files: Seq[ColeWrittenFile],
    deletes: Map[String, Array[Int]]) extends WriterCommitMessage

class ColeDeltaWriteImpl(op: ColeRowLevelOperation, schema: StructType,
    path: String, rowGroupSize: Int, conf: Configuration,
    partCols: Seq[String]) extends DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this
  override def description(): String = s"ColeDeltaWrite $path"

  private val bucketSpec = ColeBucket.readSpec(path, conf)
  private val bucketDerive = ColeBucket.readDerivation(path, conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // a pure-DELETE delta carries NO row schema (only row ids flow):
    // the insert-side writer is then never needed and must not validate
    val hasRows = schema.nonEmpty
    if (hasRows) {
      ColeUtil.toColeColumns(schema)
      partCols.foreach(c => require(schema.fieldNames.contains(c),
        s"partition column '$c' not in delta-write schema"))
    }
    // evolved columns (in the write schema, absent from some live file)
    // make NULLs unavoidable in new-image files — auto-select v2 for them
    val wconf = ColeUtil.evolvedWriteConf(conf, path, schema, partCols)
    val inner: Option[ColeWriterFactory] =
      if (!hasRows) None
      else Some(new ColeWriterFactory(schema, path, rowGroupSize,
        new ColeHadoopConf(wconf), partCols, bucketSpec,
        // the delta row schema carries the table's stored columns —
        // synthetic bucket keys recompute in place like the replace path
        bucketDerive,
        // CHECK constraints hold for merge-on-read DML too: inserted and
        // post-image rows validate before any delta file lands
        ColeChecks.forWrite(path, conf, schema),
        // temporal layouts re-derive for new-image files
        ColeTemporal.readSpec(path, conf),
        // inserted/updated rows stay invisible (dotted) until commit has
        // race-checked and ordered the swap — same discipline as the
        // replace write
        naming = ColeFileNaming.Deferred(
          s"delta-${java.lang.Long.toHexString(System.nanoTime())}-")))
    new ColeDeltaWriterFactory(inner)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: ColeDeltaCommitMessage => m }
    val (fs, _) = ColeIO.resolve(path, conf)
    val newDotted = ColeWrittenFile.dropEmpty(msgs.flatMap(_.files), conf,
      keepOne = false)
    // merge per-file delete ordinals across tasks (a file's matched rows
    // can arrive in several tasks after the MERGE join's shuffle)
    val delByFile: Map[String, Array[Int]] = msgs.flatMap(_.deletes.toSeq)
      .groupBy(_._1).view.mapValues { vs =>
        vs.map(_._2).reduce(ColeDv.merge)
      }.toMap
    // race check against the group scan's planning snapshot, while every
    // mutation is still invisible; check-then-mutate holds per-file
    // storage claims (ColeClaims — cross-process) on the files whose
    // vectors this commit extends, so overlapping committers serialize
    // and file-disjoint ones run fully concurrent
    val planned = op.plannedFiles.map(f => f._1 -> (f._2, f._3)).toMap
    val claims = ColeClaims.acquire(fs, conf, path,
      delByFile.keys.toSeq.map(ColeVersions.relOf(fs, path, _)),
      s"${op.command().toString.toLowerCase}-delta")
    try {
    delByFile.keys.foreach { f =>
      val ok = planned.get(f).exists { case (len, mtime) =>
        try {
          val st = fs.getFileStatus(new HPath(f))
          st.getLen == len && st.getModificationTime == mtime
        } catch { case _: java.io.FileNotFoundException => false }
      } && {
        // a concurrent MERGE-ON-READ commit mutates only the SIDECAR —
        // invisible to the data file's (len, mtime) — so the vector
        // state must also still be what the scan planned from, or this
        // commit's delete ordinals and post-images were computed from
        // rows the other committer already replaced (r13; overlap spec
        // pins the serializable outcome)
        val nowDv =
          try {
            val st = fs.getFileStatus(new HPath(ColeDv.sidecarPath(f)))
            Some((st.getLen, st.getModificationTime))
          } catch { case _: java.io.FileNotFoundException => None }
        op.plannedDvs.getOrElse(f, None) == nowDv
      }
      if (!ok) {
        abort(messages)
        throw new IllegalStateException(
          s"concurrent write detected on $f during ${op.command()} " +
            "(merge-on-read); aborted with nothing visible — retry after " +
            "the other writer commits")
      }
    }
    // 1. new rows become visible
    val finals = newDotted.map { f =>
      require(fs.rename(new HPath(f.written), new HPath(f.fin)),
        s"delta-commit rename failed: ${f.written}")
      f.fin
    }
    // 2. old images vector away (extending any existing vector); keep
    // the merged sets — they are the commit's exact vector state
    val mergedByFile = delByFile.map { case (f, ords) =>
      val (len, mtime) = planned(f)
      val existing = ColeDv.read(fs, f, len, mtime).getOrElse(Array.empty[Int])
      val merged = ColeDv.merge(existing, ords)
      ColeDv.write(fs, f, len, mtime, merged)
      f -> merged
    }
    // 3. versioned table: one commit record — new image files as adds,
    // pins of the extended vectors as dv entries (time travel and the
    // change feed resolve this DML from them). Pins are written from
    // the merged sets computed ABOVE, never by re-reading the live
    // sidecar: a concurrent vector DML from another process could have
    // extended it in between, and a copy would fold ITS ordinals into
    // this commit's pin (misattributed deletes in the change feed).
    if ((finals.nonEmpty || delByFile.nonEmpty) &&
        ColeVersions.enabled(path, conf)) {
      val pinStamp = java.lang.Long.toHexString(System.nanoTime())
      val dvs = mergedByFile.toSeq.sortBy(_._1).map { case (f, merged) =>
        val rel = ColeVersions.relOf(fs, path, f)
        val dvRel = ColeVersions.dvRelOf(pinStamp, rel)
        val pin = ColeVersions.dvPath(path, dvRel)
        fs.mkdirs(pin.getParent)
        val (len, mtime) = planned(f)
        ColeDv.writeAt(fs, pin, len, mtime, merged)
        rel -> dvRel
      }
      ColeVersions.commitIfEnabled(path, conf,
        s"${op.command().toString.toLowerCase}-delta",
        finals.map(ColeVersions.relOf(fs, path, _)), Seq.empty, dvs)
    }
    } finally claims.release()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ColeDeltaCommitMessage(files, _) => files.foreach { f =>
        val (fs, p) = ColeIO.resolve(f.written, conf)
        fs.delete(p, false)
      }
      case _ => ()
    }
}

class ColeDeltaWriterFactory(inner: Option[ColeWriterFactory])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // insert-side writer, created on first inserted/updated row (a
      // pure-DELETE delta never opens one — and never emits a file)
      private var w: org.apache.spark.sql.connector.write.DataWriter[InternalRow] = _
      private def writer() = {
        if (w == null) w = inner.getOrElse(throw new IllegalStateException(
          "delta write received a row but carries no row schema"))
          .createWriter(partitionId, taskId)
        w
      }
      // file -> deleted ordinals (unsorted while accumulating)
      private val dels = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]

      private def recordDelete(id: InternalRow): Unit = {
        // rowId projection order = rowId(): (_cole_file string, _cole_pos long)
        val file = id.getUTF8String(0).toString
        val pos = id.getLong(1)
        dels.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += pos.toInt
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        recordDelete(id)

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        recordDelete(id)
        writer().write(row)
      }

      override def insert(row: InternalRow): Unit = writer().write(row)

      override def commit(): WriterCommitMessage = {
        val files = if (w == null) Seq.empty else w.commit() match {
          case ColeCommitMessage(fs0) => fs0
          case _ => Seq.empty
        }
        ColeDeltaCommitMessage(files,
          dels.view.mapValues(_.toArray.sorted.distinct).toMap)
      }

      override def abort(): Unit = if (w != null) w.abort()
      override def close(): Unit = if (w != null) w.close()
    }
}
