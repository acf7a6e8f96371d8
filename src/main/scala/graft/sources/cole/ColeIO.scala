package graft.sources.cole

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

import graft.sources.cole.ColeFormat.FileMeta

/** Hadoop-FileSystem resolution for COLE paths. All COLE I/O goes through
  * the Hadoop `FileSystem` API — never raw `java.io` — so a `.col` table
  * addressed as `hdfs://…` or `s3a://…` (or an explicit `file://…`) works
  * exactly like a bare local path: the path's scheme picks the filesystem,
  * and Spark's Hadoop configuration supplies credentials and tuning. That
  * is the difference between a single-node demo (the reference engine's
  * fopen-based reader, reference: src/format.cpp) and a connector that can
  * scan a 100 TB table living on distributed storage.
  */
object ColeIO {
  /** Files opened (read or write) by COLE readers/writers — spec-visible
    * so tests can assert how much I/O a code path performs.
    */
  val opens = new AtomicLong(0)

  /** Driver-side Hadoop conf: the active session's (carries `fs.*`
    * settings for HDFS/S3), or a bare default outside Spark (CLI, tools).
    */
  def driverConf(): Configuration =
    try org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    catch { case _: Exception => new Configuration() }

  def resolve(path: String, conf: Configuration): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(conf), p)
  }

  /** Publish `bytes` at `dst`, REPLACING any existing file: written under
    * a unique dotted `.tmp` name beside it, then renamed over it —
    * atomically where the filesystem can (local, and FileContext's
    * OVERWRITE rename on HDFS-class stores), falling back to
    * delete-then-rename elsewhere. The atomic path means a concurrent
    * reader never observes a torn file, nor the no-file window the plain
    * fallback has (a bucketed table whose spec momentarily "vanished"
    * would plan as unbucketed). A local filesystem goes through java.nio,
    * as [[ColeClaims]] does: Hadoop's local create forks `chmod` for the
    * file and its checksum, on every sidecar and swap manifest.
    */
  def writeReplacing(fs: FileSystem, dst: HPath, bytes: Array[Byte],
      what: String): Unit = {
    val tmp = new HPath(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    if (fs.getUri.getScheme == "file") {
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      val t = d.resolveSibling(tmp.getName)
      java.nio.file.Files.createDirectories(d.getParent)
      java.nio.file.Files.write(t, bytes)
      // the checksum Hadoop wrote beside an earlier version would fail
      // the read of this one
      java.nio.file.Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
      java.nio.file.Files.move(t, d, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      val atomically =
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(fs.getUri, fs.getConf)
            .rename(fs.makeQualified(tmp), fs.makeQualified(dst),
              org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
        } catch { case _: Exception => false }
      if (!atomically && !fs.rename(tmp, dst)) {
        fs.delete(dst, false)
        require(fs.rename(tmp, dst), s"$what: publish rename failed")
      }
    }
  }

  /** A table is a single `.col` file or a directory of part files. Sorted
    * for deterministic planning order across filesystems.
    */
  def listStatus(path: String, conf: Configuration): Seq[FileStatus] = {
    val (fs, p) = resolve(path, conf)
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".col"))
          .sortBy(_.getPath.toString).toSeq
      else Seq(st)
    }
  }

  /** Hive-style partition-aware listing: `.col` files directly in the
    * table directory carry no partition values; files under nested
    * `key=value` directories carry one (key, value) pair per level.
    * Directories that don't match `key=value` are ignored. Sorted for
    * deterministic planning order.
    */
  def listPartitioned(path: String, conf: Configuration)
      : Seq[(FileStatus, Seq[(String, String)])] = {
    val (fs, p) = resolve(path, conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    if (st.isFile) return Seq((st, Seq.empty))
    val out = scala.collection.mutable.ArrayBuffer.empty[(FileStatus, Seq[(String, String)])]
    def walk(dir: HPath, parts: Vector[(String, String)]): Unit =
      fs.listStatus(dir).foreach { s =>
        if (s.isFile && s.getPath.getName.endsWith(".col")) out += ((s, parts))
        else if (s.isDirectory) s.getPath.getName.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => walk(s.getPath, parts :+ (k -> unescape(v)))
          case _ => ()
        }
      }
    walk(p, Vector.empty)
    out.sortBy(_._1.getPath.toString).toSeq
  }

  /** Minimal hive-style escaping for partition values in directory names. */
  def escape(v: String): String = {
    val sb = new StringBuilder
    v.foreach {
      case c @ ('/' | '=' | '%' | '\\' | ':') =>
        sb.append(f"%%${c.toInt}%02X")
      case c => sb.append(c)
    }
    sb.toString
  }

  def unescape(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      if (v(i) == '%' && i + 3 <= v.length) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(v(i)); i += 1 }
    }
    sb.toString
  }
}

/** Serializable Hadoop `Configuration` carrier for the reader/writer
  * factories shipped to executors (Spark's own SerializableConfiguration
  * is `private[spark]`). The wire form is the full property map as plain
  * key/value pairs, so executor-side filesystem resolution sees the same
  * credentials/tuning the driver planned with.
  *
  * Not `Configuration.write`: that form adds a GZIP'd provenance array
  * per property, which nearly doubles the bytes and costs several ms per
  * copy each way — and codegen closures capture the reader factory, so
  * one query ships this object a dozen times. Reading back `set`s each
  * pair, as `readFields` does, minus the provenance.
  */
final class ColeHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val props = value.asScala.toArray
    out.writeInt(props.length)
    props.foreach { e =>
      // Text's vint-prefixed UTF-8: no 64 KiB cap, unlike writeUTF
      org.apache.hadoop.io.Text.writeString(out, e.getKey)
      org.apache.hadoop.io.Text.writeString(out, e.getValue)
    }
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    var n = in.readInt()
    while (n > 0) {
      value.set(org.apache.hadoop.io.Text.readString(in),
        org.apache.hadoop.io.Text.readString(in))
      n -= 1
    }
  }
}

/** Size-bounded LRU map (access-ordered, synchronized). Both driver-side
  * metadata caches use it: overflow evicts only the least-recently-used
  * entry, so a table one file past the bound doesn't flush thousands of
  * good entries (the old all-or-nothing `clear()` made every plan over a
  * >MaxEntries-file table re-read every footer).
  */
private[cole] final class LruCache[K, V](maxEntries: Int) {
  private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > maxEntries
  }
  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
  def put(k: K, v: V): Unit = m.synchronized(m.put(k, v))
  def remove(k: K): Unit = m.synchronized(m.remove(k))
  def getOrElseUpdate(k: K)(compute: => V): V = {
    // compute OUTSIDE the lock: sidecar/footer loads do filesystem I/O
    get(k) match {
      case Some(v) => v
      case None => val v = compute; put(k, v); v
    }
  }
}

/** Driver-side footer-metadata cache, keyed by (path, mtime, length).
  *
  * One COLE scan consults file metadata from several places —
  * `inferSchema`, `planInputPartitions` (possibly twice, when runtime
  * filters arrive), `estimateStatistics` (re-invoked per plan by
  * CBO/AQE) — and at a 100k-part-file table each serial footer read is
  * driver wall-clock. Misses load in parallel across files; hits cost no
  * filesystem call beyond the listing itself.
  */
object ColeMetaCache {
  /** `renamed`: current-name → stored-footer-name for columns this FILE
    * carries under an old name (ALTER TABLE RENAME COLUMN is
    * metadata-only; the meta here is presented POST-RENAME so every
    * driver-side consumer — schema union, stats, packing indices —
    * resolves current names; executors read by INDEX, so only name-based
    * executor paths (claimed filters, pushed aggregates) must decline on
    * files where this is non-empty).
    */
  final case class FileInfo(path: String, len: Long, mtime: Long,
      meta: FileMeta, partValues: Seq[(String, String)] = Seq.empty,
      renamed: Map[String, String] = Map.empty)

  // Footer metadata is KB-scale, so the bound is generous: it exists to
  // keep a long-lived driver that has planned over MANY tables from
  // accumulating without limit, not to squeeze one table. A table larger
  // than the bound degrades to at most one footer read per file per plan
  // (LRU evicts one entry at a time — never the old all-or-nothing flush).
  private val MaxEntries = 16384
  private val cache = new LruCache[String, (Long, Long, FileMeta)](MaxEntries)

  /** Footer reads that actually hit the filesystem (cache misses) —
    * spec-visible: planning a repeated query must not grow this.
    */
  val footerReads = new AtomicLong(0)

  def infos(table: String, conf: Configuration): Seq[FileInfo] = {
    val statuses = ColeIO.listPartitioned(table, conf)
    import scala.collection.parallel.CollectionConverters._
    val raw = statuses.par.map { case (st, parts) =>
      infoOf(st.getPath.toString, st.getModificationTime, st.getLen, parts, conf)
    }.seq.toSeq
    val local = applyRenames(raw, ColeCatalog.renames(table, conf))
    // zero-copy clones (ColeClone): the live file set is local files ++
    // the source's files as of the pinned version — resolved here, the
    // one choke point every planning surface (scans, stats, metadata
    // tables, DML classification) already funnels through. Locally
    // present rels shadow their foreign twins (localize in progress).
    ColeClone.read(table, conf) match {
      case None => local
      case Some(cs) =>
        val (fs, _) = ColeIO.resolve(table, conf)
        val localRels = statuses
          .map { case (st, _) =>
            ColeVersions.relOf(fs, table, st.getPath.toString) }.toSet
        local ++ ColeClone.foreignInfos(table, cs, localRels, conf)
    }
  }

  /** Present footers under the table's CURRENT column names: a column
    * the rename map tracks remaps old→new per file (indices untouched);
    * files already carrying the new name pass through. Applied by
    * [[infos]] and the time-travel/feed resolution, so renames behave
    * like Delta column mapping: the name travels, the bytes do not.
    */
  def applyRenames(fis: Seq[FileInfo],
      renames: Map[String, String]): Seq[FileInfo] =
    if (renames.isEmpty) fis
    else {
      val oldToNew = renames.map(_.swap)
      fis.map { fi =>
        val names = fi.meta.columns.map(_.name).toSet
        val applicable = oldToNew.filter { case (old, nw) =>
          names.contains(old) && !names.contains(nw) }
        if (applicable.isEmpty) fi
        else fi.copy(
          meta = fi.meta.copy(columns = fi.meta.columns.map(c =>
            applicable.get(c.name).fold(c)(nw => c.copy(name = nw)))),
          renamed = applicable.map(_.swap))
      }
    }

  /** Footer-backed infos for an EXPLICIT file list with caller-supplied
    * partition values — how a time-travel scan plans a pinned snapshot
    * whose files may live at retired physical paths (the hive meaning of
    * each file comes from its original relative path, not its current
    * location). Same cache, same parallel miss loading.
    */
  def infosAt(files: Seq[(String, Seq[(String, String)])],
      conf: Configuration): Seq[FileInfo] = {
    import scala.collection.parallel.CollectionConverters._
    files.par.map { case (path, parts) =>
      val (fs, p) = ColeIO.resolve(path, conf)
      val st = fs.getFileStatus(p) // FileNotFoundException → caller's loud error
      infoOf(path, st.getModificationTime, st.getLen, parts, conf)
    }.seq.toSeq
  }

  private def infoOf(key: String, mtime: Long, len: Long,
      parts: Seq[(String, String)], conf: Configuration): FileInfo = {
    val meta = cache.get(key) match {
      case Some((m1, l1, m)) if m1 == mtime && l1 == len => m
      case _ =>
        footerReads.incrementAndGet()
        val r = new ColeFileReader(key, conf)
        val m = try r.meta finally r.close()
        cache.put(key, (mtime, len, m))
        m
    }
    FileInfo(key, len, mtime, meta, parts)
  }

  /** Partition schema inferred from the listing: the first file's key
    * sequence, typed INT if every value across files parses as an Int,
    * else LONG if every value parses as a Long, else STRING. Empty for
    * flat (unpartitioned) tables.
    *
    * LAYOUT keys (`_t_*` temporal ordinals, `_bucket*` hash eras) may
    * differ across files — a spec EVOLUTION (r12 temporal, r13 bucket)
    * leaves `_t_days_ts` / `_bucket` era files beside `_t_hours_ts` /
    * `_bucket1` ones. Only keys present in EVERY file participate here
    * (partition-constant serving needs a value per file; pruning on
    * era-specific layout keys runs per file against partValues directly,
    * not through this schema). Identity hive keys must still be
    * consistent — mixed hive layouts are corruption, not evolution.
    */
  def partitionSchema(infos: Seq[FileInfo]): Seq[(String, String)] =
    partitionSchema(infos, Set.empty)

  /** `evolved`: identity columns a DECLARED partition-spec evolution
    * (ColePartEvolve history) moved between directory and data placement
    * — exempt from the consistency check, and participating here only
    * when every file still carries them (mixed placement prunes/serves
    * per file instead, through the scan's duality lanes).
    */
  def partitionSchema(infos: Seq[FileInfo],
      evolved: Set[String]): Seq[(String, String)] = {
    if (infos.isEmpty) return Seq.empty
    val keys = infos.iterator.flatMap(_.partValues.iterator.map(_._1))
      .distinct.toSeq
    if (keys.isEmpty) return Seq.empty
    val identity = keys.filterNot(k =>
      ColeTemporal.isLayoutKey(k) || evolved.contains(k))
    require(infos.forall(i => identity.forall(k =>
        i.partValues.exists(_._1 == k))),
      s"inconsistent partition directory structure under a COLE table: " +
        s"expected keys $identity")
    val ordered = infos.iterator.map(_.partValues.map(_._1))
      .maxBy(_.length) // nesting order from the deepest layout
    val shared = ordered.filter(k =>
      infos.forall(_.partValues.exists(_._1 == k)))
    shared.map { k =>
      val vals = infos.map(_.partValues.collectFirst {
        case (`k`, v) => v }.get)
      val tpe =
        if (vals.forall(v => v.toIntOption.isDefined)) "int"
        else if (vals.forall(v => v.toLongOption.isDefined)) "long"
        else "string"
      (k, tpe)
    }
  }
}
