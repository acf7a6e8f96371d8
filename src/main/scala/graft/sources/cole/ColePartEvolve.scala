package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** Identity-partition SPEC EVOLUTION — `CALL cole.system.evolve_partition
  * ('ns.t', 'region,cat')` re-declares the hive identity partition
  * columns of a grown table with ZERO rewrites (the third application of
  * the era-history pattern, after temporal r12 and bucket r13).
  *
  * The defining difference from those two: an identity partition column
  * changes WHERE THE VALUES LIVE. Files written before an evolve-ADD
  * carry the column as ordinary DATA (it varies within each file); files
  * written after serve it from their `key=value` directory and do not
  * store it. An evolve-DROP is the mirror image. So a mixed-era table
  * cannot be described by one global partition-column set — each file
  * SELF-DESCRIBES: a column is directory-served for a file iff the
  * file's path carries `col=`, data-served iff its footer schema does.
  * The scan resolves every required field and every pushed predicate
  * per file on exactly that rule (ColeScan duality lanes), which also
  * makes time travel free: a pinned snapshot's files self-describe the
  * same way, no as-of spec resolution needed.
  *
  * The history sidecar (`_partspec`) records the era sequence. Its jobs:
  *   - the ACTIVE era declares what NEW writes (appends, DML
  *     replacements — which thereby migrate rewritten rows to the
  *     active layout) partition by, overriding directory inference;
  *   - the union of era columns is the set exempted from the
  *     mixed-hive-layout corruption check (a mixed layout is only legal
  *     when DECLARED);
  *   - `$partitions`/audit surfaces can report per-era file counts.
  *
  * Serialization and versioning follow ColeBucket.evolve exactly: the
  * sidecar append runs under a claims acquisition and versioned tables
  * record an `evolve-partition` commit.
  */
object ColePartEvolve {

  val SpecFile = "_partspec"

  /** One era: `idx`-th declaration, its identity partition columns
    * (possibly empty — an evolve can drop partitioning entirely).
    */
  final case class Era(idx: Int, cols: Seq[String])

  private def specPath(table: String) = s"$table/$SpecFile"

  // consulted on planning paths — cache on (mtime, len); absence cached
  private val cache = new LruCache[String, (Long, Long, Seq[Era])](4096)

  /** `1\nbase:<cols>\nevolve:<cols>...` — era 0 is the layout at
    * declaration time (possibly empty = unpartitioned), each evolve line
    * appends one era; the LAST era is active.
    */
  def parseHistoryContent(txt: String, where: String): Seq[Era] = {
    val lines = txt.split('\n').map(_.trim).filter(_.nonEmpty)
    require(lines.length >= 2 && lines(0) == "1" &&
      lines(1).startsWith("base:"), s"unreadable $SpecFile at $where")
    def cols(s: String): Seq[String] =
      s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    var eras = Vector(Era(0, cols(lines(1).stripPrefix("base:"))))
    lines.drop(2).foreach {
      case l if l.startsWith("evolve:") =>
        eras = eras :+ Era(eras.size, cols(l.stripPrefix("evolve:")))
      case other => throw new IllegalArgumentException(
        s"unreadable $SpecFile line '$other' at $where")
    }
    eras
  }

  /** The era history, oldest first; empty Seq = never evolved (the
    * directory layout is the single source of truth, strict consistency
    * applies).
    */
  def readHistory(table: String, conf: Configuration): Seq[Era] = {
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    val key = fs.makeQualified(p).toString
    val st = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => Seq.empty
      case Some(status) =>
        cache.get(key) match {
          case Some((m, l, eras)) if m == status.getModificationTime &&
              l == status.getLen => eras
          case _ =>
            val in = fs.open(p)
            val txt = try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8) finally in.close()
            val eras = parseHistoryContent(txt, table)
            cache.put(key, (status.getModificationTime, status.getLen, eras))
            eras
        }
    }
  }

  /** ACTIVE identity partition columns, when declared by an evolution —
    * overrides directory inference for writers and the table's declared
    * partitioning. None = never evolved.
    */
  def activeCols(table: String, conf: Configuration): Option[Seq[String]] =
    readHistory(table, conf).lastOption.map(_.cols)

  /** Every column that participated in ANY era — the set exempt from the
    * mixed-hive-layout corruption check (mixed placement of these is
    * declared evolution, not corruption).
    */
  def evolvedCols(table: String, conf: Configuration): Set[String] =
    readHistory(table, conf).iterator.flatMap(_.cols).toSet

  /** Columns that are DIRECTORY-served in some of `infos` but not all —
    * the live duality set. Pushdown surfaces that assume one global
    * placement (aggregate pushdown, metadata DELETE) decline on these;
    * the row scan's per-file lanes handle them exactly.
    */
  def dualCols(infos: Seq[ColeMetaCache.FileInfo]): Set[String] = {
    if (infos.isEmpty) return Set.empty
    val sets = infos.map(_.partValues.iterator.map(_._1)
      .filterNot(ColeTemporal.isLayoutKey).toSet)
    val union = sets.reduce(_ | _)
    val inter = sets.reduce(_ & _)
    union -- inter
  }

  /** Re-declare the identity partition columns. Zero rewrites: existing
    * files keep their layout and self-describe; appends and DML
    * replacements route by the new spec. Returns the new history.
    */
  def evolve(table: String, conf: Configuration,
      cols: Seq[String]): Seq[Era] = {
    require(cols.distinct == cols,
      s"duplicate partition column in ${cols.mkString(",")}")
    cols.foreach { c =>
      require(!ColeTemporal.isLayoutKey(c),
        s"'$c' is a reserved layout key — evolve_partition declares " +
          "plain identity columns (use evolve_temporal/evolve_bucket " +
          "for derived layouts)")
    }
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    val claims = ColeClaims.acquire(fs, conf, table, Seq(SpecFile),
      "evolve-partition")
    val appended = try {
      val existing: Option[String] =
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          Some(try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close())
        }
      val (baseTxt, history) = existing match {
        case Some(txt) => (txt, parseHistoryContent(txt, table))
        case None =>
          // bootstrap era 0 from the CURRENT layout: the inferred
          // directory keys (strict — an undeclared mixed layout is still
          // corruption here), or the declared spec of an empty table
          val infos = ColeMetaCache.infos(table, conf)
          val current: Seq[String] =
            if (infos.nonEmpty)
              ColeMetaCache.partitionSchema(infos).map(_._1)
                .filterNot(ColeTemporal.isLayoutKey)
            else ColeCatalog.readTableSpec(table, conf)
              .map(_._2).getOrElse(Seq.empty)
          (s"1\nbase:${current.mkString(",")}\n", Vector(Era(0, current)))
      }
      require(history.last.cols != cols,
        s"table at $table already partitions by " +
          s"[${cols.mkString(",")}]")
      val body = (if (baseTxt.endsWith("\n")) baseTxt else baseTxt + "\n") +
        s"evolve:${cols.mkString(",")}\n"
      ColeIO.writeReplacing(fs, p,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8), s"partition spec write at $table")
      if (ColeVersions.enabled(table, conf))
        ColeVersions.commitIfEnabled(table, conf, "evolve-partition",
          Seq.empty, Seq.empty)
      body
    } finally claims.release()
    cache.remove(fs.makeQualified(p).toString)
    parseHistoryContent(appended, table)
  }
}
