package graft.sources.cole

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Hash-bucketed table layout for the COLE format.
  *
  * A bucketed table routes every row to one of `numBuckets` hashed buckets
  * of its bucket column — directories `_bucket=<b>/` under the table root,
  * described by a `_bucketspec` sidecar. Two tables bucketed the same way
  * on their join key are CO-PARTITIONED BY CONSTRUCTION: read through
  * [[ColeCatalog]], their scans report a bucket-transform
  * KeyGroupedPartitioning and Spark plans the join with ZERO Exchange on
  * either side (storage-partitioned join). This is the fact-fact answer —
  * hive-style identity partitioning (cole_spj) only suits low-cardinality
  * keys like nationkey; `orders ⋈ lineitem ON orderkey` at 100 TB needs
  * hashed buckets, exactly like parquet `bucketBy` but in the native
  * format (and without Hive metastore state: the layout self-describes).
  *
  * The reference engine has no joins at all (README "Limitations") — this
  * is engine-own scale machinery.
  */
object ColeBucket {
  /** Reserved directory key for bucket ids; never a table column. */
  val DirKey = "_bucket"
  val SpecFile = "_bucketspec"

  /** One era of the bucket layout (r13 — bucket spec evolution): the
    * `idx`-th declaration in the `_bucketspec` history. Files written
    * under era i carry directory key [[dirKeyOf]]`(i)` (`_bucket` for the
    * original era, `_bucket<i>` after), so mixed-era tables prune each
    * era by ITS OWN spec — the same per-era key discipline as temporal
    * partition-spec evolution, and a wrong prune is structurally
    * impossible (a file is only ever judged by the key its directory
    * actually carries).
    */
  final case class Era(idx: Int, n: Int, cols: Seq[String],
      derive: Option[(String, Seq[String])]) {
    def dirKey: String = dirKeyOf(idx)
  }

  def dirKeyOf(era: Int): String = if (era == 0) DirKey else s"$DirKey$era"

  /** `_bucket`, `_bucket1`, `_bucket2`, ... — every era's layout key. */
  def isBucketKey(name: String): Boolean =
    name.startsWith(DirKey) && name.drop(DirKey.length).forall(_.isDigit)

  /** 64-bit avalanche mix (the murmur3 fmix64 constants — public domain).
    * Writer routing and the catalog's `bucket` V2 function MUST agree on
    * this: partition-value correctness of every bucketed join rests on
    * both tables placing equal keys in equal buckets.
    */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Per-key avalanche hash: the unit both single- and multi-column
    * bucketing compose from.
    */
  def keyHashLong(v: Long): Long = mix64(v)

  /** FNV-1a 64 over UTF-8 bytes, then the same avalanche. */
  def keyHashBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Combine the next key's hash into a composite bucket hash. The fold
    * starts AT the first key's hash (so single-column buckets reduce to
    * `floorMod(keyHash, n)` exactly — no layout change for existing
    * tables), and every later key re-avalanches the mixture.
    */
  def combine(acc: Long, next: Long): Long = mix64(acc * 31 + next)

  def bucketOfHash(h: Long, n: Int): Int = Math.floorMod(h, n.toLong).toInt

  def bucketOf(key: Long, n: Int): Int = bucketOfHash(keyHashLong(key), n)

  def bucketOfBytes(b: Array[Byte], n: Int): Int =
    bucketOfHash(keyHashBytes(b), n)

  /** Parse a `bucketBy` write option: `"<n>:<col>[,<col2>...]"` —
    * composite keys bucket on the combined hash (orders ⋈ lineitem on a
    * compound key needs both sides hashed the same way).
    */
  def parseOption(v: String): (Int, Seq[String]) = {
    val i = v.indexOf(':')
    require(i > 0 && i < v.length - 1,
      s"bucketBy must be '<numBuckets>:<col>[,<col2>...]', got '$v'")
    val n = v.substring(0, i).trim.toInt
    require(n > 0, s"bucketBy needs a positive bucket count, got $n")
    val cols = v.substring(i + 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(cols.nonEmpty, s"bucketBy needs at least one column, got '$v'")
    (n, cols)
  }

  def specPath(table: String): String = s"$table/$SpecFile"

  /** Exact composite-key join condition over two synthetic-key bucketed
    * tables (`bucketKey` layouts) that storage-partition-joins with ZERO
    * Exchange.
    *
    * Spark's SPJ machinery requires the equi-join keys to be EXACTLY the
    * partition keys — extra equi-keys defeat the co-partition proof (and
    * multi-reference bucket transforms never resolve). So the pattern is:
    * equi-join on the synthetic column alone (that's the partition key,
    * proof succeeds), and verify the natural key tuple through RANGE-PAIR
    * residuals (`l <= r && l >= r`), which Catalyst does NOT extract as
    * equi-join keys but which are exactly equality row-wise — the one-in-
    * 2^64 combined-hash collision can never produce a false match. The
    * residual evaluates only on rows whose synth values already collide,
    * i.e. essentially only on true matches: its cost is immeasurable.
    */
  def synthKeyJoinCond(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame, synth: String,
      keys: Seq[String]): org.apache.spark.sql.Column =
    keys.foldLeft(left(synth) === right(synth)) { (c, k) =>
      c && left(k) <= right(k) && left(k) >= right(k)
    }

  /** Bucket ids that claimed predicates on the bucket column(s) can
    * possibly match: Some(ids) when equality/IN pins EVERY bucket column
    * (a point lookup on a 100 TB bucketed table then scans 1/n of the
    * directories, no bytes read elsewhere), None when any column is
    * unconstrained. Only equality shapes prune — ranges span buckets by
    * design of the avalanche hash. Per column, multiple predicates
    * intersect; across columns the candidate key hashes combine (bounded
    * cartesian — a blown-up IN×IN product just declines to prune).
    */
  def prunedBuckets(predsPerCol: Seq[Seq[ColePredicate]], n: Int): Option[Set[Int]] =
    candidateKeyHashes(predsPerCol).map(_.map(bucketOfHash(_, n)))

  /** Candidate COMBINED key hashes when equality/IN pins every bucket
    * column; None when any column is unconstrained (or the candidate
    * product blows up). For a derived (synthetic combined-key) layout
    * this is exactly the set of possible synthetic-column VALUES, so the
    * caller buckets them with one more [[keyHashLong]] avalanche — the
    * same route a stored synthetic key takes through [[bucketOf]].
    */
  def candidateKeyHashes(predsPerCol: Seq[Seq[ColePredicate]]): Option[Set[Long]] = {
    val perCol: Seq[Set[Long]] = predsPerCol.map { preds =>
      val sets = preds.flatMap { p =>
        p.op match {
          case "eq" => Some(Set(keyHashLong(p.value)))
          case "in" => Some(p.values.map(keyHashLong).toSet)
          case "eqs" => Some(Set(keyHashBytes(p.strValue)))
          case "ins" => Some(p.strValues.map(keyHashBytes).toSet)
          case _ => None
        }
      }
      if (sets.isEmpty) return None // this bucket column is unpinned
      sets.reduce(_ intersect _)
    }
    if (perCol.map(_.size.toLong).product > 1024L) return None
    Some(perCol.tail.foldLeft(perCol.head) { (acc, ks) =>
      for (a <- acc; k <- ks) yield combine(a, k)
    })
  }

  /** Decode a V2 partition transform: identity(c) ↦ Left(c) (hive
    * directory partitioning), bucket(n, c) ↦ Right((n, c)) (hashed
    * layout). Anything else is rejected loudly.
    */
  def decodeTransform(t: Transform): Either[String, (Int, Seq[String])] = t.name() match {
    case "identity" if t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
      Left(t.references.head.fieldNames.head)
    case "bucket" =>
      val n = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.dataType == IntegerType => l.value.asInstanceOf[Int]
      }.getOrElse(throw new IllegalArgumentException(s"bucket transform without a count: $t"))
      require(t.references.nonEmpty && t.references.forall(_.fieldNames.length == 1),
        s"COLE buckets on plain columns, got $t")
      Right((n, t.references.map(_.fieldNames.head).toSeq))
    case other => throw new IllegalArgumentException(
      s"COLE supports identity, bucket, and years/months/days/hours " +
        s"partition transforms, not $other")
  }

  /** Persist the bucket spec sidecar (idempotent overwrite); columns
    * comma-joined — single-column files from earlier layouts parse
    * unchanged.
    */
  def writeSpec(table: String, conf: Configuration, n: Int,
      columns: Seq[String],
      derive: Option[(String, Seq[String])] = None): Unit = {
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    val out = fs.create(p, true)
    val deriveLine = derive.fold("") { case (synth, srcs) =>
      s"derive:$synth=${srcs.mkString(",")}\n" }
    try out.write(s"1\n$n\n${columns.mkString(",")}\n$deriveLine"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parse `_bucketspec` CONTENT (also recorded per-version in the
    * commit log for time-travel layout resolution) — the ACTIVE era's
    * (n, columns): the last declaration in the history.
    */
  def parseSpecContent(txt: String, where: String): (Int, Seq[String]) = {
    val e = parseHistoryContent(txt, where).last
    (e.n, e.cols)
  }

  /** The ACTIVE era's synthetic-key derivation from spec content. */
  def parseDeriveContent(txt: String, where: String): Option[(String, Seq[String])] =
    parseHistoryContent(txt, where).last.derive

  private def parseDeriveLine(line: String, where: String): (String, Seq[String]) = {
    val body = line.stripPrefix("derive:")
    val i = body.indexOf('=')
    require(i > 0, s"unreadable derive line in $SpecFile at $where")
    (body.substring(0, i),
      body.substring(i + 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** The full era HISTORY from `_bucketspec` content, oldest first. The
    * base block (`1\nn\ncols[\nderive:...]`) is era 0 — byte-compatible
    * with every pre-r13 sidecar; each `evolve:<n>:<cols>` line (its own
    * optional `derive:` line following) appends one era. The last era is
    * ACTIVE: writers route by it, appends pick it up.
    */
  def parseHistoryContent(txt: String, where: String): Seq[Era] = {
    val lines = txt.split('\n').map(_.trim).filter(_.nonEmpty)
    require(lines.length >= 3 && lines(0) == "1",
      s"unreadable $SpecFile at $where")
    val base = Era(0, lines(1).toInt,
      lines(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq, None)
    var eras = Vector(base)
    lines.drop(3).foreach {
      case l if l.startsWith("evolve:") =>
        val body = l.stripPrefix("evolve:")
        val i = body.indexOf(':')
        require(i > 0 && i < body.length - 1,
          s"unreadable evolve line in $SpecFile at $where")
        eras = eras :+ Era(eras.size, body.substring(0, i).trim.toInt,
          body.substring(i + 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          None)
      case l if l.startsWith("derive:") =>
        val last = eras.last
        eras = eras.init :+ last.copy(derive = Some(parseDeriveLine(l, where)))
      case other => throw new IllegalArgumentException(
        s"unreadable $SpecFile line '$other' at $where")
    }
    eras
  }

  /** The era history of the table's live sidecar; empty = unbucketed. */
  def readHistory(table: String, conf: Configuration): Seq[Era] = {
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      parseHistoryContent(txt, table)
    }
  }

  /** Directory key the ACTIVE era routes by (new writes). */
  def activeDirKey(table: String, conf: Configuration): String =
    readHistory(table, conf).lastOption.map(_.dirKey).getOrElse(DirKey)

  /** EVOLVE the bucket layout: re-declare (n, columns[, synthetic key])
    * on a grown table without rewriting a byte — old files stay under
    * their era's directories and prune by their era's spec; appends
    * route by the new one. Mixed-era tables withdraw SPJ reporting
    * (different eras are not co-bucketed) until `rebucket` rewrites the
    * old eras into the active layout. Versioned tables record the change
    * as a commit (the spec snapshot rides every record already).
    * Re-declaring the active era is rejected.
    */
  def evolve(table: String, conf: Configuration, n: Int, cols: Seq[String],
      derive: Option[(String, Seq[String])] = None): Seq[Era] = {
    val history = readHistory(table, conf)
    require(history.nonEmpty,
      s"$table has no bucket layout to evolve — create it bucketed " +
        "(bucketBy / PARTITIONED BY bucket) first")
    require(n > 0 && n <= 65536, s"bucket count must be in [1, 65536], got $n")
    require(cols.nonEmpty, "evolve_bucket needs at least one column")
    derive.foreach { case (synth, srcs) =>
      require(srcs.length >= 2,
        "a synthetic bucket key is for COMPOSITE keys (2+ source columns)")
      require(!srcs.contains(synth),
        s"synthetic key column '$synth' cannot be one of the source columns")
      require(cols == Seq(synth),
        "a synthetic-key era buckets on the synth column alone")
    }
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    // the append is a read-modify-write of the sidecar: serialize
    // concurrent evolvers through the claims protocol (cross-process,
    // same seam as DML) — two unserialized evolves would each append to
    // the SAME base text and the loser's era would silently vanish
    val claims = ColeClaims.acquire(fs, conf, table, Seq(SpecFile),
      "evolve-bucket")
    val appended = try {
      // ONE read under the claim serves both the duplicate-layout check
      // and the append base
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val last = parseHistoryContent(txt, table).last
      require((last.n, last.cols, last.derive) != ((n, cols, derive)),
        s"table at $table already routes by this exact layout")
      val body = (if (txt.endsWith("\n")) txt else txt + "\n") +
        s"evolve:$n:${cols.mkString(",")}\n" +
        derive.fold("") { case (synth, srcs) =>
          s"derive:$synth=${srcs.mkString(",")}\n" }
      ColeIO.writeReplacing(fs, p,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8), s"bucket spec write at $table")
      // the version record snapshots the LIVE sidecar: commit while the
      // claim still holds, or a concurrent evolver's newer spec could be
      // pinned to THIS evolve's version (wrong as-of layout resolution)
      if (ColeVersions.enabled(table, conf))
        ColeVersions.commitIfEnabled(table, conf, "evolve-bucket",
          Seq.empty, Seq.empty)
      body
    } finally claims.release()
    parseHistoryContent(appended, table)
  }

  /** Per-era keep sets from claimed predicates: era dirKey → the bucket
    * ids any matching row could live in (entries only for eras whose
    * columns the predicates fully pin). Conservative per era — a file is
    * pruned only when its directory CARRIES an era's key with a value
    * outside that era's keep set; files lacking the key are kept.
    */
  def keepsByEra(history: Seq[Era],
      preds: Seq[ColePredicate]): Map[String, Set[String]] =
    history.flatMap { era =>
      val direct = prunedBuckets(
        era.cols.map(c => preds.filter(_.column == c)), era.n)
      val derived = era.derive.flatMap { case (_, srcs) =>
        candidateKeyHashes(srcs.map(c => preds.filter(_.column == c)))
          .map(_.map(bucketOf(_, era.n)))
      }
      ((direct, derived) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }).map(ks => era.dirKey -> ks.map(_.toString))
    }.toMap

  /** True = the file's bucket directory key proves no row can match. */
  def pruneFile(pv: Map[String, String],
      keeps: Map[String, Set[String]]): Boolean =
    keeps.exists { case (k, ks) => pv.get(k).exists(v => !ks.contains(v)) }

  def readSpec(table: String, conf: Configuration): Option[(Int, Seq[String])] = {
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(parseSpecContent(txt, table))
    }
  }

  /** Synthetic-combined-key derivation recorded in the sidecar:
    * Some((synthCol, sourceCols)) when the table's single bucket column
    * is writer-derived as the combined avalanche hash of a composite key
    * tuple (the `bucketKey` write option). Appends re-derive from the
    * source columns; composite point lookups prune through it.
    */
  def readDerivation(table: String, conf: Configuration)
      : Option[(String, Seq[String])] = {
    val (fs, p) = ColeIO.resolve(specPath(table), conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      parseDeriveContent(txt, table)
    }
  }
}

/** The catalog-registered `bucket` function — what lets Spark PROVE two
  * bucketed scans are co-partitioned. V2ScanPartitioningAndOrdering
  * resolves a scan's reported bucket transform only through the
  * relation's FunctionCatalog; compatibility between the two join sides
  * compares the bound functions' `canonicalName` and bucket counts
  * (KeyGroupedShuffleSpec), and Spark may also EVALUATE the function
  * (`produceResult`) to re-bucket a non-bucketed side when
  * `v2.bucketing.shuffle.enabled` is armed — so the implementation here is
  * the writer's routing hash, not a lookalike.
  */
object ColeBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): COLE hashed-bucket id of col (int/long/string)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket takes (numBuckets, column...); bound with ${inputType.fields.length} args")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket count must be INT, got ${inputType.fields(0).dataType}")
    val keyTypes: Array[DataType] = inputType.fields.drop(1).map(_.dataType)
    keyTypes.foreach {
      case IntegerType | LongType | StringType => ()
      case other => throw new UnsupportedOperationException(
        s"COLE buckets on INT/LONG/STRING keys, not $other")
    }
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = IntegerType +: keyTypes
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.cole.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        var h = 0L
        var i = 0
        while (i < keyTypes.length) {
          val kh = keyTypes(i) match {
            case IntegerType => ColeBucket.keyHashLong(input.getInt(i + 1).toLong)
            case LongType => ColeBucket.keyHashLong(input.getLong(i + 1))
            case _ => ColeBucket.keyHashBytes(input.getUTF8String(i + 1).getBytes)
          }
          h = if (i == 0) kh else ColeBucket.combine(h, kh)
          i += 1
        }
        ColeBucket.bucketOfHash(h, n)
      }
    }
  }
}

/** Minimal V2 catalog over a warehouse directory of COLE tables:
  * `cole.<name>` ↦ `<warehouse>/<name>` (nested namespaces map to nested
  * directories). Tables self-describe — schema from the file footers'
  * union, hive partition columns from `key=value` directories, bucket
  * layout from the `_bucketspec` sidecar — so the catalog holds NO state
  * beyond the directory tree, exactly the property that lets a 1000-node
  * cluster share it with no metastore service.
  *
  * Registering it (spark.sql.catalog.cole=graft.sources.cole.ColeCatalog)
  * is what unlocks storage-partitioned joins on bucketed tables: only a
  * catalog-resolved relation carries the FunctionCatalog that Spark needs
  * to resolve the reported bucket transform.
  */
object ColeCatalog {
  /** Declared-schema sidecar for EMPTY tables (CREATE → first INSERT):
    * line 1 = format version, line 2 = Spark schema JSON, line 3 =
    * comma-joined hive partition columns (possibly empty). Once data
    * files exist the footers are the source of truth and this file is
    * ignored.
    */
  val TableSpecFile = "_tablespec"

  def writeTableSpec(table: String, conf: Configuration,
      schema: StructType, partCols: Seq[String],
      dropped: Seq[String] = Seq.empty,
      renames: Map[String, String] = Map.empty): Unit = {
    val (fs, p) = ColeIO.resolve(s"$table/$TableSpecFile", conf)
    val out = fs.create(p, true)
    val renameLine = renames.map { case (nw, old) => s"$nw=$old" }.mkString(",")
    try out.write(
      s"1\n${schema.json}\n${partCols.mkString(",")}\n${dropped.mkString(",")}\n$renameLine\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    renameCache.remove(fs.makeQualified(p).toString)
  }

  def readTableSpec(table: String,
      conf: Configuration): Option[(StructType, Seq[String])] =
    readTableSpecFull(table, conf).map { case (s, p, _) => (s, p) }

  /** (declared schema, partition columns, DROPPED column names). Dropped
    * columns may still sit in old file footers — resolution excludes
    * them, and re-adding a dropped name is rejected (the stale stored
    * values would silently resurrect).
    */
  def readTableSpecFull(table: String, conf: Configuration)
      : Option[(StructType, Seq[String], Seq[String])] = {
    val (fs, p) = ColeIO.resolve(s"$table/$TableSpecFile", conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val lines = txt.split('\n')
      require(lines.length >= 2 && lines(0) == "1", s"unreadable $TableSpecFile at $table")
      val schema = DataType.fromJson(lines(1)).asInstanceOf[StructType]
      def csv(i: Int): Seq[String] =
        if (lines.length <= i || lines(i).isEmpty) Seq.empty
        else lines(i).split(',').toSeq
      Some((schema, csv(2), csv(3)))
    }
  }

  /** Dropped column names of a table (empty without a sidecar). */
  def droppedColumns(table: String, conf: Configuration): Seq[String] =
    readTableSpecFull(table, conf).map(_._3).getOrElse(Seq.empty)

  // rename map is consulted on EVERY metadata listing (ColeMetaCache
  // applies it to footers), so it caches with (mtime, len) validation
  private val renameCache = new LruCache[String, (Long, Long, Map[String, String])](4096)

  /** `ALTER TABLE RENAME COLUMN` map: current name → stored (footer)
    * name. Metadata-only — old files keep the bytes under the old name,
    * resolution remaps them; chains compose at rename time (b→a then
    * b→c stores c→a). Empty without a sidecar.
    */
  def renames(table: String, conf: Configuration): Map[String, String] = {
    val (fs, p) = ColeIO.resolve(s"$table/$TableSpecFile", conf)
    val key = fs.makeQualified(p).toString
    val st = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => Map.empty
      case Some(status) =>
        renameCache.get(key) match {
          case Some((m1, l1, m)) if m1 == status.getModificationTime &&
              l1 == status.getLen => m
          case _ =>
            val in = fs.open(p)
            val txt = try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8) finally in.close()
            val lines = txt.split('\n')
            val m: Map[String, String] =
              if (lines.length <= 4 || lines(4).isEmpty) Map.empty
              else lines(4).split(',').toSeq.map { e =>
                val i = e.indexOf('=')
                (e.substring(0, i), e.substring(i + 1))
              }.toMap
            renameCache.put(key,
              (status.getModificationTime, status.getLen, m))
            m
        }
    }
  }
}

class ColeCatalog extends TableCatalog with FunctionCatalog
    with SupportsNamespaces with ProcedureCatalog with StagingTableCatalog {
  private var catalogName: String = _

  /** Column DEFAULT values (ANSI `DEFAULT`): declaring the capability is
    * what makes Spark's analyzer resolve `INSERT INTO t (a, b)` subsets
    * and the `DEFAULT` keyword against the CURRENT_DEFAULT metadata the
    * schema carries — the connector never sees a missing column on the
    * write path (see [[ColeDefaults]] for the read-side exists default).
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"set spark.sql.catalog.$name.warehouse to the COLE warehouse directory")
  }

  override def name(): String = catalogName

  private def conf: Configuration = ColeIO.driverConf()

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val (fs, p) = ColeIO.resolve(dir, conf)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).filter(_.isDirectory)
      // dotted dirs are connector scratch (CTAS staging, swap tombstones),
      // never tables
      .filterNot(_.getPath.getName.startsWith("."))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `SELECT * FROM cole.ns.`t$history``
    // (version log), `t$files` (live file inventory), and `t$partitions`
    // (per-directory rollup) — warehouse introspection as plain SQL
    if (ident.name().endsWith("$history") || ident.name().endsWith("$files") ||
        ident.name().endsWith("$partitions") || ident.name().endsWith("$refs")) {
      val dollar = ident.name().lastIndexOf('$')
      val base = Identifier.of(ident.namespace(), ident.name().substring(0, dollar))
      val kind = ident.name().substring(dollar + 1)
      loadTable(base) // resolves, or NoSuchTableException
      return new ColeMetaTable(tablePath(base), kind, conf)
    }
    val path = tablePath(ident)
    val infos = ColeMetaCache.infos(path, conf)
    val bucketSpec = ColeBucket.readSpec(path, conf)
    if (infos.isEmpty) {
      // a created-but-not-yet-written table self-describes through the
      // _tablespec sidecar (CREATE TABLE → INSERT must resolve between
      // the two); once files exist they are the source of truth
      ColeCatalog.readTableSpec(path, conf) match {
        case Some((schema, partCols)) =>
          return new ColeTable(schema, partCols,
            Map("path" -> path) ++ checkProps(path), bucketSpec)
        case None => throw new NoSuchTableException(ident)
      }
    }
    // hive partition columns append after data columns; the reserved
    // _bucket directory key is layout, not schema
    val partFields = ColeMetaCache.partitionSchema(infos,
        ColePartEvolve.evolvedCols(path, conf))
      .filterNot(f => ColeTemporal.isLayoutKey(f._1))
      .map { case (k, t) =>
        StructField(k, t match {
          case "int" => IntegerType
          case "long" => LongType
          case _ => StringType
        }, nullable = false)
      }
    // ALTER TABLE DROP COLUMN is metadata-only: old footers still carry
    // the column, resolution excludes it
    val dropped = ColeCatalog.droppedColumns(path, conf).toSet
    val fileFields = ColeUtil.toSparkSchemaOf(infos).fields.toSeq
      .filterNot(f => dropped.contains(f.name))
    // ALTER TABLE ADD COLUMN before any data carries it: the _tablespec
    // holds declared-but-not-yet-written columns — surface them (nullable;
    // reads NULL-backfill through the schema-evolution machinery) between
    // the file columns and the partition columns, the position INSERTs
    // will write them at. Footers govern any name both declare.
    val specFields = ColeCatalog.readTableSpec(path, conf).toSeq
      .flatMap(_._1.fields)
    val declaredExtras = specFields
      .filterNot(f => fileFields.exists(_.name == f.name) ||
        partFields.exists(_.name == f.name) || dropped.contains(f.name))
      .map(_.copy(nullable = true))
    // widening ALTER COLUMN TYPE is metadata-only: when the spec declares
    // a LEGAL widening of a file-declared column (INT→BIGINT, same-scale
    // decimal precision growth), the spec's wide type governs — the scan
    // reads the narrow lanes through the same per-file union that mixed
    // files already use. Anything else: footers govern, as before.
    val declaredTypes = specFields.map(f => f.name -> f.dataType).toMap
    val fileFieldsWidened = fileFields.map { f =>
      declaredTypes.get(f.name).filter(_ != f.dataType).fold(f) { dt =>
        val legal = try {
          val oldT = ColeUtil.toColeColumns(StructType(Seq(f))).head.colType
          val newT = ColeUtil.toColeColumns(StructType(Seq(
            f.copy(dataType = dt)))).head.colType
          ColeUtil.widen(oldT, newT).contains(newT)
        } catch { case _: Exception => false }
        if (legal) f.copy(dataType = dt) else f
      }
    }
    // column DEFAULT metadata lives only in the _tablespec (footers never
    // carry it): re-attach by name, so CURRENT_DEFAULT drives INSERT
    // resolution and EXISTS_DEFAULT drives the read-side fill for files
    // that predate the column (ColeDefaults)
    val defaulted = specFields.filter(ColeDefaults.hasDefaultKeys)
      .map(f => f.name -> f.metadata).toMap
    val schema = StructType((fileFieldsWidened ++ declaredExtras ++ partFields)
      .map(f => defaulted.get(f.name).fold(f)(m => f.copy(metadata = m))))
    // identity partition-spec evolution: the ACTIVE era declares what
    // NEW writes partition by, overriding directory inference — existing
    // files keep their layout and self-describe to the scan
    val declaredParts = ColePartEvolve.activeCols(path, conf)
      .map(_.filter(schema.fieldNames.contains))
    new ColeTable(schema, declaredParts.getOrElse(partFields.map(_.name)),
      Map("path" -> path) ++ checkProps(path), bucketSpec)
  }

  /** CHECK constraints as `check.<name>` table properties — DESCRIBE
    * EXTENDED surfaces what every write enforces.
    */
  private def checkProps(path: String): Map[String, String] =
    ColeChecks.read(path, conf).map { case (n, sql) =>
      (ColeChecks.PropPrefix + n, sql)
    }.toMap

  /** SQL time travel — `SELECT ... FROM t VERSION AS OF <n>`: the
    * returned table carries the pinned version as a property, its schema
    * is the SNAPSHOT's (a column added later does not exist in the
    * past), and every scan plans the snapshot's file set. Writes to it
    * are rejected.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    version.toLongOption match {
      case Some(v) =>
        loadSnapshot(ident, ColeVersions.resolveAsOf(tablePath(ident), conf,
          Some(v), None))
      case None =>
        // named refs (r14): `VERSION AS OF 'release-1'` resolves a TAG to
        // its pinned version; a BRANCH name plans the branch's state
        // (main-as-of-fork + staged appends)
        val path = tablePath(ident)
        requireVersioned(ident, path)
        ColeRefs.resolve(path, conf, version) match {
          case Right(tagVersion) => loadSnapshot(ident, tagVersion)
          case Left(branch) => loadBranch(ident, branch)
        }
    }
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadSnapshot(ident, ColeVersions.resolveAsOf(tablePath(ident), conf,
      None, Some(timestampMicros / 1000L)))

  // NOT NoSuchTableException: the table exists, versioning doesn't —
  // reporting "table not found" misleads, and callers/rules may fall
  // through to other resolution paths on NoSuchTableException
  private def requireVersioned(ident: Identifier, path: String): Unit =
    if (!ColeVersions.enabled(path, conf))
      throw new IllegalArgumentException(
        s"time travel needs versioning, which is not enabled on " +
          s"${ident.namespace().mkString(".")}.${ident.name()} — enable it " +
          "with CALL <catalog>.system.versioning('<ns.table>') or " +
          "TBLPROPERTIES ('versioned'='true') at CREATE TABLE")

  /** `VERSION AS OF '<branch>'`: a read-only handle over the branch's
    * state — writes go through the `branch` WRITE option on the base
    * table (the handle pins a read, exactly like a snapshot load).
    */
  private def loadBranch(ident: Identifier, name: String): Table = {
    val path = tablePath(ident)
    val (infos, _) = ColeRefs.branchInfos(path, conf, name)
    val partFields = ColeMetaCache.partitionSchema(infos,
        ColePartEvolve.evolvedCols(path, conf))
      .filterNot(f => ColeTemporal.isLayoutKey(f._1))
      .map { case (k, t) =>
        StructField(k, t match {
          case "int" => IntegerType
          case "long" => LongType
          case _ => StringType
        }, nullable = false)
      }
    val schema = StructType(ColeUtil.toSparkSchemaOf(infos).fields.toSeq ++ partFields)
    new ColeTable(schema, partFields.map(_.name),
      Map("path" -> path, "branch" -> name), bucketSpec = None)
  }

  private def loadSnapshot(ident: Identifier, version: Long): Table = {
    val path = tablePath(ident)
    requireVersioned(ident, path)
    val infos = ColeVersions.snapshotInfos(path, conf, version)
    val partFields = ColeMetaCache.partitionSchema(infos,
        ColePartEvolve.evolvedCols(path, conf))
      .filterNot(f => ColeTemporal.isLayoutKey(f._1))
      .map { case (k, t) =>
        StructField(k, t match {
          case "int" => IntegerType
          case "long" => LongType
          case _ => StringType
        }, nullable = false)
      }
    val schema = StructType(ColeUtil.toSparkSchemaOf(infos).fields.toSeq ++ partFields)
    new ColeTable(schema, partFields.map(_.name),
      Map("path" -> path, "versionAsOf" -> version.toString), bucketSpec = None)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (physicalTableExists(ident)) throw new TableAlreadyExistsException(ident)
    materializeTable(tablePath(ident), schema, partitions, properties)
  }

  /** The body of CREATE TABLE at an explicit directory — shared by the
    * direct path and the atomic-CTAS staging path ([[stageCreate]]),
    * which materializes into a dotted sibling and renames in at commit.
    */
  private def materializeTable(path: String, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): ColeTable = {
    val (fs, p) = ColeIO.resolve(path, conf)
    if (!fs.exists(p)) fs.mkdirs(p)
    // decode transforms: identity → hive partition columns, bucket →
    // spec, years/months/days/hours → temporal derivation
    var partCols = Vector.empty[String]
    var bucketSpec: Option[(Int, Seq[String])] = None
    var temporal: Option[ColeTemporal.Spec] = None
    partitions.foreach { t =>
      if (ColeTemporal.Fns.contains(t.name())) {
        require(temporal.isEmpty, "at most one temporal transform")
        require(t.references.length == 1 &&
          t.references.head.fieldNames.length == 1,
          s"temporal transforms take one plain column, got $t")
        temporal = Some(ColeTemporal.Spec(t.name(),
          t.references.head.fieldNames.head))
      } else ColeBucket.decodeTransform(t) match {
        case Left(c) => partCols = partCols :+ c
        case Right(spec) =>
          require(bucketSpec.isEmpty, "at most one bucket transform")
          bucketSpec = Some(spec)
      }
    }
    // hive partitioning and hash bucketing are mutually exclusive layouts
    // (the writer enforces it too, but a CREATE that only fails at first
    // INSERT is a trap) — reject the combination at declaration time
    require(partCols.isEmpty || bucketSpec.isEmpty,
      "COLE tables are either hive-partitioned or hash-bucketed, not both")
    // temporal + bucket compose (r12): `PARTITIONED BY (days(ts),
    // bucket(n, k))` — unit directories holding bucket subdirectories,
    // the Iceberg-standard time-series fact layout
    temporal.foreach { sp =>
      // the source stays a DATA column; validate its declaration eagerly
      val f = schema.fields.find(_.name == sp.src).getOrElse(
        throw new IllegalArgumentException(
          s"temporal partition source '${sp.src}' not in the table schema"))
      require(f.dataType == TimestampType || f.dataType == TimestampNTZType,
        s"temporal partition source '${sp.src}' must be a timestamp, is ${f.dataType}")
      require(!partCols.contains(sp.src),
        s"'${sp.src}' cannot be both an identity and a temporal partition column")
      ColeTemporal.writeSpec(path, conf, sp)
    }
    bucketSpec.foreach { case (n, cs) => ColeBucket.writeSpec(path, conf, n, cs) }
    // column DEFAULT values (`c INT DEFAULT 5`): arrive as CURRENT_DEFAULT
    // / EXISTS_DEFAULT field metadata. Validate at declaration — supported
    // type, constant, castable, and never on a layout column (partition
    // directories, bucket routing and temporal derivation read the REAL
    // value; a default there is a routing trap)
    schema.fields.filter(ColeDefaults.hasDefaultKeys).foreach { f =>
      require(!partCols.contains(f.name) &&
          !bucketSpec.exists(_._2.contains(f.name)) &&
          !temporal.exists(_.src == f.name),
        s"DEFAULT is not supported on partition/bucket/temporal column " +
          s"'${f.name}'")
      require(ColeDefaults.supported(f.dataType),
        s"DEFAULT is supported on INT/BIGINT/STRING/DOUBLE/TIMESTAMP/" +
          s"DECIMAL columns; '${f.name}' is ${f.dataType.simpleString}")
      if (f.metadata.contains(ColeDefaults.CurrentKey))
        ColeDefaults.eval(f.metadata.getString(ColeDefaults.CurrentKey),
          f.dataType) // loud now, not at first INSERT
    }
    // normalize partition columns to the END of the declared schema: once
    // data lands, loadTable resolves partition columns after data columns
    // (directory keys are not in the footers) — persisting the declared
    // order would silently change the table's positional layout between
    // its empty and populated states (positional INSERTs would re-bind)
    val normalized =
      if (partCols.isEmpty) schema
      else StructType(schema.fields.filterNot(f => partCols.contains(f.name)) ++
        partCols.flatMap(c => schema.fields.find(_.name == c)))
    // declared schema sidecar: what lets the table resolve while EMPTY
    // (between CREATE and the first INSERT); file footers take over as
    // the source of truth once data lands
    ColeCatalog.writeTableSpec(path, conf, normalized, partCols)
    // TBLPROPERTIES ('versioned'='true'): snapshot versioning from birth —
    // every commit appends to the table's version log, and versionAsOf /
    // timestampAsOf reads time-travel it (see ColeVersions)
    if (properties.asScala.get("versioned").exists(_.equalsIgnoreCase("true")))
      ColeVersions.enable(path, conf)
    // TBLPROPERTIES ('check.<name>' = '<boolean expr>'): CHECK
    // constraints from birth — compile-validated against the declared
    // schema here (a CREATE that only fails at first INSERT is a trap),
    // persisted in the _checks sidecar, enforced on every write path
    val declaredChecks = properties.asScala.toSeq.collect {
      case (k, v) if k.startsWith(ColeChecks.PropPrefix) =>
        (k.stripPrefix(ColeChecks.PropPrefix), v)
    }.sortBy(_._1)
    if (declaredChecks.nonEmpty) {
      ColeChecks.compile(normalized, declaredChecks)
      ColeChecks.write(path, conf, declaredChecks)
    }
    new ColeTable(normalized, partCols, properties.asScala.toMap + ("path" -> path),
      bucketSpec)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog): the table materializes
  // in a DOTTED sibling directory (invisible to listTables and table
  // resolution), the CTAS write lands there, and commitStagedChanges
  // renames it into place — a failed or killed CTAS never leaves a
  // half-written visible table, and REPLACE TABLE AS SELECT never
  // exposes an intermediate empty table. Spark's default-method chain
  // (TableInfo → Column[] → StructType) funnels every variant here with
  // column DEFAULT metadata intact.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (physicalTableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, ColeStagedTable.Create)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!physicalTableExists(ident))
      throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, ColeStagedTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, ColeStagedTable.CreateOrReplace)

  /** A table EXISTS at this identifier when its directory holds data
    * files, a declared schema, or a clone pointer (a just-cloned table
    * may hold ONLY `_clonesrc` — clobbering it with CREATE would merge
    * foreign pinned rows into the new table's state). Shared by direct
    * CREATE and the staged-CTAS paths.
    */
  private def physicalTableExists(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    val (fs, p) = ColeIO.resolve(path, conf)
    fs.exists(p) && (ColeIO.listPartitioned(path, conf).nonEmpty ||
      ColeCatalog.readTableSpec(path, conf).isDefined ||
      ColeClone.read(path, conf).isDefined)
  }

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      mode: ColeStagedTable.Mode): StagedTable = {
    val target = tablePath(ident)
    val slash = target.lastIndexOf('/')
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val scratch = target.substring(0, slash + 1) +
      s".${target.substring(slash + 1)}.staging-$nonce"
    val inner = materializeTable(scratch, schema, partitions, properties)
    new ColeStagedTable(inner, ident, target, scratch, mode, conf)
  }

  /** `ALTER TABLE ADD COLUMN(S)`: appended nullable columns only — the
    * declaration lands in the `_tablespec` sidecar, the table resolves
    * with the new columns immediately (NULL-backfilled by the read-time
    * evolution machinery), and subsequent INSERTs write them. Everything
    * else (drops, renames, type changes) stays loud: the footers are the
    * source of truth and a rewrite is the honest operation.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    val current = loadTable(ident).asInstanceOf[ColeTable]
    val partCols = ColeMetaCache.partitionSchema(
        ColeMetaCache.infos(path, conf),
        ColePartEvolve.evolvedCols(path, conf))
      .map(_._1).filterNot(ColeTemporal.isLayoutKey) match {
      case s if s.nonEmpty => s
      case _ => ColeCatalog.readTableSpec(path, conf).map(_._2).getOrElse(Seq.empty)
    }
    val alreadyDropped = ColeCatalog.droppedColumns(path, conf)
    // `ALTER TABLE t SET/UNSET TBLPROPERTIES ('check.<name>' = ...)`:
    // add or drop CHECK constraints after creation. Adding one to a
    // POPULATED table first validates every existing row (one scan) and
    // rejects if any violates — a declared constraint is a trusted
    // invariant from the moment it exists, Delta's ADD CONSTRAINT
    // discipline.
    val checkSets = changes.collect {
      case sp: TableChange.SetProperty
          if sp.property.startsWith(ColeChecks.PropPrefix) =>
        (sp.property.stripPrefix(ColeChecks.PropPrefix), sp.value)
    }
    val checkRemoves = changes.collect {
      case rp: TableChange.RemoveProperty
          if rp.property.startsWith(ColeChecks.PropPrefix) =>
        rp.property.stripPrefix(ColeChecks.PropPrefix)
    }
    if (checkSets.nonEmpty || checkRemoves.nonEmpty) {
      checkRemoves.foreach { n =>
        require(ColeChecks.read(path, conf).exists(_._1 == n),
          s"no CHECK constraint named '$n' on ${ident.name()}")
      }
      checkSets.foreach { case (n, sql) =>
        ColeChecks.compile(current.schema(), Seq((n, sql)))
        if (ColeMetaCache.infos(path, conf).nonEmpty) {
          // branch="" opts out of the WAP read route: the constraint is
          // declared on MAIN's rows (publish re-validates staged data)
          val bad = org.apache.spark.sql.SparkSession.active.read
            .format("cole").option("branch", "")
            .load(path).where(s"($sql) <=> false").count()
          require(bad == 0, s"cannot add CHECK constraint '$n' ($sql) to " +
            s"${ident.name()}: $bad existing rows violate it — clean the " +
            "data first, a declared constraint must already hold")
        }
      }
      val merged = ColeChecks.read(path, conf)
        .filterNot { case (n, _) =>
          checkRemoves.contains(n) || checkSets.exists(_._1 == n) } ++
        checkSets
      ColeChecks.write(path, conf, merged)
      // property-only ALTER: done — don't touch the column machinery
      if (changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
          c.isInstanceOf[TableChange.RemoveProperty]))
        return loadTable(ident)
    }
    val added = changes.collect {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "COLE supports only top-level ADD COLUMN (no nested fields)")
        require(a.isNullable,
          s"added column '${a.fieldNames.head}' must be nullable: existing " +
            "rows NULL-backfill it")
        require(!current.schema().fieldNames.contains(a.fieldNames.head),
          s"column '${a.fieldNames.head}' already exists")
        // old footers still carry a dropped column's values: re-adding
        // the name would silently resurrect them as live data
        require(!alreadyDropped.contains(a.fieldNames.head),
          s"column '${a.fieldNames.head}' was previously dropped; old " +
            "files still store its values — pick a new name, or rewrite " +
            "the table to purge the stored column first")
        val f0 = StructField(a.fieldNames.head, a.dataType, nullable = true)
        ColeUtil.toColeColumns(StructType(Seq(f0))) // type supported, or loud
        // ADD COLUMN ... DEFAULT d: CURRENT_DEFAULT = the declared SQL
        // (future INSERTs), EXISTS_DEFAULT = d folded to a literal NOW —
        // what every pre-existing row reads, immutable from here on
        // (SET DEFAULT later changes only the INSERT side)
        Option(a.defaultValue()).fold(f0)(ColeDefaults.withDefault(f0, _))
    }
    // ALTER TABLE DROP COLUMN: metadata-only — the name leaves the
    // resolved schema (old footers keep the bytes, invisible), new writes
    // no longer carry it, stats/bloom entries for it simply stop being
    // consulted. No rewrite: at 100 TB "drop a column" must not cost a
    // table-sized IO pass. Layout-load-bearing columns are protected.
    val droppedNow = changes.collect {
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "COLE supports only top-level DROP COLUMN")
        val name = dc.fieldNames.head
        require(current.schema().fieldNames.contains(name),
          s"column '$name' does not exist")
        require(!partCols.contains(name),
          s"cannot drop partition column '$name'")
        ColeBucket.readSpec(path, conf).foreach { case (_, cs) =>
          require(!cs.contains(name),
            s"cannot drop bucket column '$name': the layout routes by it") }
        ColeBucket.readDerivation(path, conf).foreach { case (synth, srcs) =>
          require(name != synth && !srcs.contains(name),
            s"cannot drop '$name': the synthetic-key layout derives from it") }
        name
    }
    // ALTER TABLE RENAME COLUMN: metadata-only — a rename map entry
    // (new → stored footer name) in the _tablespec, applied at every
    // metadata resolution (ColeMetaCache), NO data rewrite. Chains
    // compose (b→a then b→c stores c→a); layout-load-bearing columns are
    // protected (the sidecars and derivations name them physically).
    val priorRenames = ColeCatalog.renames(path, conf)
    var renameMap = priorRenames
    val renamedNow = changes.collect {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "COLE supports only top-level RENAME COLUMN")
        val old = rc.fieldNames.head
        val nw = rc.newName()
        require(current.schema().fieldNames.contains(old),
          s"column '$old' does not exist")
        require(!current.schema().fieldNames.contains(nw),
          s"cannot rename '$old' to '$nw': column '$nw' already exists")
        require(!alreadyDropped.contains(nw),
          s"cannot rename to '$nw': the name was previously dropped and " +
            "old files still store its values")
        require(!partCols.contains(old),
          s"cannot rename partition column '$old': directory names carry it")
        ColeBucket.readSpec(path, conf).foreach { case (_, cs) =>
          require(!cs.contains(old),
            s"cannot rename bucket column '$old': the layout routes by it") }
        ColeBucket.readDerivation(path, conf).foreach { case (synth, srcs) =>
          require(old != synth && !srcs.contains(old),
            s"cannot rename '$old': the synthetic-key layout derives from it") }
        // compose chains so each entry points at the PHYSICAL name
        val physical = renameMap.getOrElse(old, old)
        renameMap = (renameMap - old) + (nw -> physical)
        (old, nw)
    }
    // ALTER TABLE ALTER COLUMN TYPE — metadata-only for the widenings
    // the read path already unions per file (INT32→INT64, same-scale
    // DECIMAL precision growth): the spec persists the wide type, old
    // files keep serving through the lane-widening decode, new writes
    // carry the wide lanes. Also what MERGE WITH SCHEMA EVOLUTION emits
    // when the source is wider. Anything non-widening stays a rewrite.
    val widenedNow: Map[String, DataType] = changes.collect {
      case uc: TableChange.UpdateColumnType =>
        require(uc.fieldNames.length == 1,
          "COLE supports only top-level ALTER COLUMN TYPE")
        val name = uc.fieldNames.head
        val f = current.schema().fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"column '$name' does not exist"))
        require(!partCols.contains(name),
          s"cannot widen partition column '$name': directory values are " +
            "typed by it")
        ColeBucket.readSpec(path, conf).foreach { case (_, cs) =>
          require(!cs.contains(name),
            s"cannot widen bucket column '$name': the layout routes by it") }
        ColeBucket.readDerivation(path, conf).foreach { case (synth, srcs) =>
          require(name != synth && !srcs.contains(name),
            s"cannot widen '$name': the synthetic-key layout derives from it") }
        val oldT = ColeUtil.toColeColumns(StructType(Seq(f))).head.colType
        val newT = ColeUtil.toColeColumns(StructType(Seq(
          StructField(name, uc.newDataType, f.nullable)))).head.colType
        require(ColeUtil.widen(oldT, newT).contains(newT),
          s"cannot change column '$name' from ${f.dataType.simpleString} " +
            s"to ${uc.newDataType.simpleString}: only INT→BIGINT and " +
            "same-scale DECIMAL precision growth widen in place — rewrite " +
            "the table for other changes")
        (name, uc.newDataType)
    }.toMap
    // ALTER COLUMN SET/DROP DEFAULT — metadata-only: updates the CURRENT
    // default (future INSERTs); the EXISTS default pre-existing rows read
    // was folded at ADD time and never moves (standard initial-default
    // semantics — a SET DEFAULT must not rewrite history)
    val defaultUpdates: Map[String, Option[String]] = changes.collect {
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          "COLE supports only top-level ALTER COLUMN SET/DROP DEFAULT")
        val name = u.fieldNames.head
        require(current.schema().fieldNames.contains(name),
          s"column '$name' does not exist")
        require(!partCols.contains(name),
          s"DEFAULT is not supported on partition column '$name'")
        name -> Option(u.newDefaultValue()).filter(_.trim.nonEmpty)
    }.toMap
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.UpdateColumnDefaultValue] ||
        (c match { // CHECK-constraint properties, handled above
          case sp: TableChange.SetProperty =>
            sp.property.startsWith(ColeChecks.PropPrefix)
          case rp: TableChange.RemoveProperty =>
            rp.property.startsWith(ColeChecks.PropPrefix)
          case _ => false
        }))
    require(unsupported.isEmpty,
      s"COLE tables support ALTER TABLE ADD/DROP/RENAME COLUMN, widening " +
        s"ALTER COLUMN TYPE, and SET/UNSET TBLPROPERTIES ('check.*') " +
        s"only; for ${unsupported.mkString(", ")} rewrite the table " +
        "(read-time union handles file-level evolution)")
    // a new column must not collide with a rename SOURCE still stored in
    // old footers: its stale values would resurrect under the old name
    added.foreach { f =>
      require(!renameMap.values.toSet.contains(f.name),
        s"column '${f.name}' is the stored name of a renamed column; old " +
          "files still carry its values — pick a new name or rewrite")
    }
    val renamedFields = current.schema().fields.map { f0 =>
      val f1 = widenedNow.get(f0.name).fold(f0)(dt => f0.copy(dataType = dt))
      val f = defaultUpdates.get(f1.name)
        .fold(f1)(ColeDefaults.withCurrentDefault(f1, _))
      renamedNow.collectFirst { case (old, nw) if old == f.name => nw }
        .fold(f)(nw => f.copy(name = nw))
    }
    val remaining = renamedFields
      .filterNot(f => droppedNow.contains(f.name))
    require(remaining.exists(f => !partCols.contains(f.name)) || added.nonEmpty,
      "cannot drop every data column")
    // persist: data columns + new columns, partition columns kept last
    val dataFields = remaining.filterNot(f => partCols.contains(f.name))
    val partFields = partCols.flatMap(c => remaining.find(_.name == c))
    // a DROP/RENAME must not orphan a CHECK constraint: every declared
    // check has to still compile against the post-alter schema — the
    // alternative is a constraint that silently stops guarding and then
    // fails some unrelated INSERT with a resolution error
    ColeChecks.read(path, conf).foreach { case (n, sql) =>
      try ColeChecks.compile(
        StructType(dataFields ++ added ++ partFields), Seq((n, sql)))
      catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"cannot alter ${ident.name()}: CHECK constraint '$n' ($sql) " +
            "references an altered column — drop the constraint first " +
            s"(ALTER TABLE ... UNSET TBLPROPERTIES ('check.$n'))", e)
      }
    }
    ColeCatalog.writeTableSpec(path, conf,
      StructType(dataFields ++ added ++ partFields), partCols,
      alreadyDropped ++ droppedNow, renameMap)
    loadTable(ident)
  }

  // ---- `CALL cole.system.<proc>(...)`: maintenance as SQL — the ops a
  // warehouse runs from cron (rollback, retention, compaction, audit)
  // without any driver-side API, each returning its outcome as rows

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}

  private def procedure(procName: String, params: Seq[(String, DataType)],
      out: StructType,
      // optional trailing parameters: name → default-value SQL literal
      // (Spark fills absent args from the default at bind time)
      defaults: Map[String, String] = Map.empty)(
      body: InternalRow => Array[Array[Any]]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"COLE maintenance: $procName"
      override def bind(input: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"COLE maintenance: $procName"
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, t) =>
            val b = ProcedureParameter.in(n, t)
            defaults.get(n).foreach(b.defaultValue)
            b.build()
          }.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow)
            : util.Iterator[org.apache.spark.sql.connector.read.Scan] =
          util.List.of[org.apache.spark.sql.connector.read.Scan](
            new ColeLocalScan(out, body(input))).iterator()
      }
    }

  /** `'ns.t'` (dot-separated, catalog-relative) → warehouse path. */
  private def procTablePath(arg: String): String = {
    val parts = arg.split('.')
    tablePath(Identifier.of(parts.dropRight(1), parts.last))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      Array("versioning", "rollback", "expire_versions", "vacuum", "compact",
        "compact_debt", "audit", "repair", "zorder", "bloom_index",
        "delete_mode", "materialize_cdf", "cdf_consumers",
        "unregister_cdf_consumer", "evolve_temporal", "checkpoint",
        "evolve_bucket", "rebucket", "evolve_partition",
        "create_tag", "drop_tag",
        "create_branch", "drop_branch", "fast_forward",
        "remove_orphan_files", "create_mv", "refresh_mv")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().toSeq == Seq("system"),
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    val tableArg = Seq("table" -> (StringType: DataType))
    ident.name() match {
      case "versioning" => procedure("versioning", tableArg,
        StructType(Seq(StructField("version", LongType)))) { in =>
        Array(Array[Any](
          ColeVersions.enable(procTablePath(in.getString(0)), conf)))
      }
      case "rollback" => procedure("rollback",
        tableArg :+ ("version" -> (LongType: DataType)),
        StructType(Seq(StructField("new_version", LongType)))) { in =>
        Array(Array[Any](ColeVersions.rollback(
          procTablePath(in.getString(0)), conf, in.getLong(1))))
      }
      case "expire_versions" => procedure("expire_versions",
        tableArg ++ Seq("older_than_hours" -> (LongType: DataType),
          // retention floor for live CDC consumers: the most recent
          // keep_last_versions never expire regardless of age — size it
          // to consumer lag and a nightly cron can never expire a
          // lagging stream's unread range
          "keep_last_versions" -> (LongType: DataType),
          // prune_log (r13): checkpoint at the expiry horizon and delete
          // the record files at or below it — bounds the log on
          // long-lived tables; expired versions already fail loudly
          "prune_log" -> (BooleanType: DataType)),
        StructType(Seq(StructField("expired_files", LongType))),
        defaults = Map("keep_last_versions" -> "0",
          "prune_log" -> "false")) { in =>
        Array(Array[Any](ColeVersions.vacuumRetired(
          procTablePath(in.getString(0)), conf,
          in.getLong(1) * 3600_000L, in.getLong(2).toInt,
          in.getBoolean(3)).toLong))
      }
      // fold the version log into a checkpoint NOW (also written
      // automatically every graft.cole.checkpoint.intervalCommits):
      // cold drivers then plan from checkpoint + tail, not table birth
      case "checkpoint" => procedure("checkpoint", tableArg,
        StructType(Seq(StructField("version", LongType)))) { in =>
        Array(Array[Any](ColeVersions.checkpoint(
          procTablePath(in.getString(0)), conf)))
      }
      case "cdf_consumers" => procedure("cdf_consumers", tableArg,
        StructType(Seq(
          StructField("consumer_id", StringType),
          StructField("last_committed_version", LongType)))) { in =>
        ColeVersions.consumerWatermarks(procTablePath(in.getString(0)), conf)
          .toArray.sortBy(_._1).map { case (id, v) =>
            Array[Any](UTF8String.fromString(id), v) }
      }
      case "unregister_cdf_consumer" => procedure("unregister_cdf_consumer",
        tableArg :+ ("consumer_id" -> (StringType: DataType)),
        StructType(Seq(StructField("existed", BooleanType)))) { in =>
        Array(Array[Any](ColeVersions.unregisterConsumer(
          procTablePath(in.getString(0)), conf, in.getString(1))))
      }
      case "vacuum" => procedure("vacuum",
        tableArg :+ ("older_than_hours" -> (LongType: DataType)),
        StructType(Seq(StructField("removed", LongType)))) { in =>
        Array(Array[Any](ColeCompact.vacuum(
          procTablePath(in.getString(0)), conf,
          in.getLong(1) * 3600_000L).toLong))
      }
      case "compact" => procedure("compact",
        tableArg :+ ("target_mb" -> (LongType: DataType)),
        StructType(Seq(
          StructField("compacted_dirs", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType)))) { in =>
        val st = ColeCompact.compact(
          org.apache.spark.sql.SparkSession.active,
          procTablePath(in.getString(0)), in.getLong(1) << 20)
        Array(Array[Any](st.compactedDirs.toLong, st.filesBefore.toLong,
          st.filesAfter.toLong))
      }
      case "compact_debt" => procedure("compact_debt",
        tableArg ++ Seq("target_mb" -> (LongType: DataType),
          "min_deleted_pct" -> (LongType: DataType),
          "min_small_files" -> (LongType: DataType),
          // fold_debt => 1: also migrate pre-SUMS (v1) stragglers to v2
          // so the metadata-only aggregate path engages (r16)
          "fold_debt" -> (LongType: DataType)),
        StructType(Seq(
          StructField("compacted_dirs", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType))),
        defaults = Map("fold_debt" -> "0")) { in =>
        val st = ColeCompact.compactDebt(
          org.apache.spark.sql.SparkSession.active,
          procTablePath(in.getString(0)), in.getLong(1) << 20,
          in.getLong(2).toDouble / 100.0, in.getLong(3).toInt,
          foldDebt = in.getLong(4) != 0L)
        Array(Array[Any](st.compactedDirs.toLong, st.filesBefore.toLong,
          st.filesAfter.toLong))
      }
      case "audit" => procedure("audit", tableArg,
        StructType(Seq(
          StructField("problem", StringType),
          StructField("file", StringType)))) { in =>
        val (missing, untracked) =
          ColeVersions.audit(procTablePath(in.getString(0)), conf)
        (missing.map(f => Array[Any]("missing", f)) ++
          untracked.map(f => Array[Any]("untracked", f))).toArray
      }
      case "repair" => procedure("repair", tableArg,
        StructType(Seq(StructField("quarantined", StringType)))) { in =>
        ColeVersions.repairTorn(procTablePath(in.getString(0)), conf)
          .map(f => Array[Any](f)).toArray
      }
      case "zorder" => procedure("zorder",
        tableArg ++ Seq("col_a" -> (StringType: DataType),
          "col_b" -> (StringType: DataType),
          "target_mb" -> (LongType: DataType)),
        StructType(Seq(
          StructField("rewritten_dirs", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType)))) { in =>
        val st = ColeCompact.zorder(
          org.apache.spark.sql.SparkSession.active,
          procTablePath(in.getString(0)),
          in.getString(1), in.getString(2), in.getLong(3) << 20)
        Array(Array[Any](st.compactedDirs.toLong, st.filesBefore.toLong,
          st.filesAfter.toLong))
      }
      case "bloom_index" => procedure("bloom_index",
        tableArg :+ ("columns" -> (StringType: DataType)),
        StructType(Seq(StructField("indexed_files", LongType)))) { in =>
        Array(Array[Any](ColeBloomIndex.build(
          procTablePath(in.getString(0)),
          in.getString(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          conf).toLong))
      }
      // partition spec evolution (r12): re-declare the temporal
      // transform on a grown table — zero rewrites, old-era files prune
      // under their own spec, new writes route by the new one
      case "evolve_temporal" => procedure("evolve_temporal",
        tableArg :+ ("transform" -> (StringType: DataType)),
        StructType(Seq(StructField("history", StringType)))) { in =>
        val path = procTablePath(in.getString(0))
        val evolved = ColeTemporal.evolve(path, conf,
          ColeTemporal.parseOption(in.getString(1)))
        Array(Array[Any](UTF8String.fromString(
          evolved.map(s => s"${s.fn}:${s.src}").mkString(" -> "))))
      }
      // identity partition-spec evolution (r16): re-declare the hive
      // partition columns with zero rewrites — old files keep the
      // column as DATA (it varies within them), new files serve it from
      // their directory; the scan resolves placement per file. '' drops
      // partitioning for new writes entirely.
      case "evolve_partition" => procedure("evolve_partition",
        tableArg :+ ("columns" -> (StringType: DataType)),
        StructType(Seq(StructField("history", StringType)))) { in =>
        val path = procTablePath(in.getString(0))
        val cols = in.getString(1).split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq
        val table = loadTable(Identifier.of(
          in.getString(0).split('.').dropRight(1),
          in.getString(0).split('.').last)).asInstanceOf[ColeTable]
        val schema = table.schema()
        cols.foreach { c =>
          require(schema.fieldNames.contains(c),
            s"evolve_partition: '$c' is not a column of ${in.getString(0)}")
          schema(c).dataType match {
            case IntegerType | LongType | StringType => ()
            case other => throw new IllegalArgumentException(
              s"COLE partition columns must be INT/LONG/STRING; '$c' is $other")
          }
        }
        // derived layouts keep their own machinery — an identity spec
        // must not collide with the temporal source or bucket columns
        ColeTemporal.readSpecs(path, conf).lastOption.foreach(t =>
          require(!cols.contains(t.src),
            s"'${t.src}' is the temporal partition source — evolve the " +
              "temporal layout instead"))
        ColeBucket.readSpec(path, conf).foreach { case (_, _) =>
          require(cols.isEmpty,
            "COLE tables are either hive-partitioned or hash-bucketed, " +
              "not both — evolve_partition on a bucketed table can only " +
              "drop partitioning ('')")
        }
        val evolved = ColePartEvolve.evolve(path, conf, cols)
        Array(Array[Any](UTF8String.fromString(
          evolved.map(e => s"[${e.cols.mkString(",")}]").mkString(" -> "))))
      }
      // bucket spec evolution (r13): re-declare (n, cols[, synthetic
      // key]) on a grown table — zero rewrites, old eras prune under
      // their own specs, appends route by the new one; SPJ withdraws on
      // the mixed table until rebucket
      case "evolve_bucket" => procedure("evolve_bucket",
        tableArg ++ Seq("transform" -> (StringType: DataType),
          // optional synthetic combined-key column for composite keys
          // (the bucketKey write option's evolution twin); '' = none
          "bucket_key" -> (StringType: DataType)),
        StructType(Seq(StructField("history", StringType))),
        defaults = Map("bucket_key" -> "''")) { in =>
        val path = procTablePath(in.getString(0))
        val (n, cols) = ColeBucket.parseOption(in.getString(1))
        val synth = in.getString(2)
        val (eraCols, derive) =
          if (synth.isEmpty) (cols, None)
          else (Seq(synth), Some(synth -> cols))
        val evolved = ColeBucket.evolve(path, conf, n, eraCols, derive)
        Array(Array[Any](UTF8String.fromString(
          evolved.map(e => s"${e.n}:${e.cols.mkString(",")}")
            .mkString(" -> "))))
      }
      // rewrite old bucket eras into the active layout: SPJ returns once
      // every file carries the active era's key
      case "rebucket" => procedure("rebucket", tableArg,
        StructType(Seq(
          StructField("files_rewritten", LongType),
          StructField("files_kept", LongType),
          StructField("files_out", LongType),
          StructField("rows", LongType)))) { in =>
        val st = ColeRebucket.rebucket(
          org.apache.spark.sql.SparkSession.active,
          procTablePath(in.getString(0)))
        Array(Array[Any](st.filesRewritten.toLong, st.filesKept.toLong,
          st.filesOut.toLong, st.rows))
      }
      case "delete_mode" => procedure("delete_mode",
        tableArg :+ ("mode" -> (StringType: DataType)),
        StructType(Seq(StructField("mode", StringType)))) { in =>
        val path = procTablePath(in.getString(0))
        ColeDv.setMode(path, conf, in.getString(1))
        Array(Array[Any](if (ColeDv.vectorMode(path, conf)) "vector" else "copy"))
      }
      // backfill change-data materialization: version <= 0 sweeps every
      // copy-on-write commit still reconstructible (the streaming CDF
      // source needs them; pure-add/MOR commits have nothing to write)
      case "materialize_cdf" => procedure("materialize_cdf",
        tableArg :+ ("version" -> (LongType: DataType)),
        StructType(Seq(StructField("materialized_commits", LongType)))) { in =>
        val path = procTablePath(in.getString(0))
        val spark = org.apache.spark.sql.SparkSession.active
        val v = in.getLong(1)
        val versions =
          if (v > 0) Seq(v)
          else ColeVersions.records(path, conf)
            .filter(r => r.removes.nonEmpty && r.op != "compact" &&
              r.op != "rollback").map(_.version)
        Array(Array[Any](versions
          .count(ColeChangeFeed.materialize(spark, path, _)).toLong))
      }
      // ---- named refs (r14): tags + branches (write-audit-publish) ----
      // tag a version (0 = current) under an immutable name: `VERSION AS
      // OF 'name'` resolves it and retention never expires at/above it
      case "create_tag" => procedure("create_tag",
        tableArg ++ Seq("name" -> (StringType: DataType),
          "version" -> (LongType: DataType)),
        StructType(Seq(StructField("version", LongType))),
        defaults = Map("version" -> "0")) { in =>
        val v = in.getLong(2)
        Array(Array[Any](ColeRefs.createTag(procTablePath(in.getString(0)),
          conf, in.getString(1), if (v > 0) Some(v) else None)))
      }
      case "drop_tag" => procedure("drop_tag",
        tableArg :+ ("name" -> (StringType: DataType)),
        StructType(Seq(StructField("existed", BooleanType)))) { in =>
        Array(Array[Any](ColeRefs.dropTag(procTablePath(in.getString(0)),
          conf, in.getString(1))))
      }
      // fork a writable branch at a version (0 = current): appends with
      // the `branch` write option stage invisibly until fast_forward
      case "create_branch" => procedure("create_branch",
        tableArg ++ Seq("name" -> (StringType: DataType),
          "version" -> (LongType: DataType)),
        StructType(Seq(StructField("fork", LongType))),
        defaults = Map("version" -> "0")) { in =>
        val v = in.getLong(2)
        Array(Array[Any](ColeRefs.createBranch(procTablePath(in.getString(0)),
          conf, in.getString(1), if (v > 0) Some(v) else None)))
      }
      case "drop_branch" => procedure("drop_branch",
        tableArg :+ ("name" -> (StringType: DataType)),
        StructType(Seq(StructField("existed", BooleanType)))) { in =>
        Array(Array[Any](ColeRefs.dropBranch(procTablePath(in.getString(0)),
          conf, in.getString(1))))
      }
      // publish a branch onto main: staged files rename to their live
      // paths under one commit; rejects when main diverged from the fork
      // unless allow_diverged (appends compose with any interleaving)
      case "fast_forward" => procedure("fast_forward",
        tableArg ++ Seq("name" -> (StringType: DataType),
          "allow_diverged" -> (BooleanType: DataType)),
        StructType(Seq(
          StructField("published_files", LongType),
          StructField("version", LongType))),
        defaults = Map("allow_diverged" -> "false")) { in =>
        val (n, v) = ColeRefs.fastForward(procTablePath(in.getString(0)),
          conf, in.getString(1), in.getBoolean(2))
        Array(Array[Any](n.toLong, v))
      }
      // ---- incremental materialized views over the change feed ----
      // create: materialize the grouped aggregate as-of the source's
      // current version; aggs = "kind:col[:out], ..." (count|sum|avg use
      // differential maintenance, min|max re-aggregate deleted keys)
      case "create_mv" => procedure("create_mv",
        tableArg ++ Seq("mv" -> (StringType: DataType),
          "group_by" -> (StringType: DataType),
          "aggs" -> (StringType: DataType),
          "where" -> (StringType: DataType),
          // stream-static star-schema rollup (r16): one broadcast-sized
          // dimension LEFT-joined on `dim_on` before the fold — the dim
          // must stay stable between incremental refreshes
          // (fingerprint-checked; full => true resynchronizes)
          "dim" -> (StringType: DataType),
          "dim_on" -> (StringType: DataType),
          // fact-fact join MV (r17): a SECOND versioned source
          // inner-joined on `join_on`, maintained differentially from
          // BOTH change feeds (mutually exclusive with dim)
          "join" -> (StringType: DataType),
          "join_on" -> (StringType: DataType)),
        StructType(Seq(StructField("version", LongType))),
        defaults = Map("where" -> "''", "dim" -> "''", "dim_on" -> "''",
          "join" -> "''", "join_on" -> "''")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        // group_by entries: plain columns or `name := expr` derived keys
        // (days/substr/date_trunc — any deterministic row expression);
        // where: a deterministic filter applied to source AND feed rows
        val (names, exprs) = ColeMv.parseGroupBy(in.getString(2))
        val where = Option(in.getString(4)).map(_.trim).filter(_.nonEmpty)
        // dim accepts a comma-separated LIST (r17 — star schemas roll up
        // through several dims); dim_on is the matching ';'-separated
        // list of join conditions (';' because a condition itself may
        // carry commas inside function calls)
        val dimNames = Option(in.getString(5)).map(_.trim).filter(_.nonEmpty)
          .map(ColeMv.splitTop(_, ','))
          .getOrElse(Nil)
        // quote-aware split (a condition may carry ';' or ',' inside a
        // string literal); a SINGLE dim's condition is kept verbatim so
        // a literal semicolon in it cannot fan out into a bogus list
        val dimOns = Option(in.getString(6)).map(_.trim).filter(_.nonEmpty)
          .map(on => if (dimNames.length <= 1) Seq(on)
                     else ColeMv.splitTop(on, ';'))
          .getOrElse(Nil)
        val joinName = Option(in.getString(7)).map(_.trim).filter(_.nonEmpty)
        val joinOn = Option(in.getString(8)).map(_.trim).filter(_.nonEmpty)
        require(dimNames.length == dimOns.length,
          "dim and dim_on come together: one ';'-separated join " +
            "condition per comma-separated dimension table")
        require(joinName.isDefined == joinOn.isDefined,
          "join and join_on come together: the second source table and " +
            "its join condition")
        Array(Array[Any](ColeMv.create(spark,
          procTablePath(in.getString(0)), procTablePath(in.getString(1)),
          names, ColeMv.parseAggs(in.getString(3)), where, exprs,
          dim = dimNames.zip(dimOns).map { case (n, on) =>
            (procTablePath(n), on) },
          join = joinName.map(n => (procTablePath(n), joinOn.get)))))
      }
      // refresh: fold the feed since the watermark into the stored
      // per-key state — O(changed rows + touched keys), never the table;
      // full => true resynchronizes by recompute (rollback escape hatch)
      case "refresh_mv" => procedure("refresh_mv",
        tableArg :+ ("full" -> (BooleanType: DataType)),
        StructType(Seq(
          StructField("from_version", LongType),
          StructField("to_version", LongType),
          StructField("keys_touched", LongType),
          StructField("keys_recomputed", LongType),
          StructField("rows_reaggregated", LongType))),
        defaults = Map("full" -> "false")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val st = ColeMv.refresh(spark, procTablePath(in.getString(0)),
          s"$catalogName.${in.getString(0)}", in.getBoolean(1))
        Array(Array[Any](st.fromVersion, st.toVersion, st.keysTouched,
          st.keysRecomputed, st.rowsReaggregated))
      }
      // crash-leftover cleanup: unreferenced data files / dead dotted
      // temps older than the age horizon; dry_run lists without deleting
      case "clone" => procedure("clone",
        Seq("source" -> (StringType: DataType),
          "dest" -> (StringType: DataType),
          "version" -> (LongType: DataType),
          "deep" -> (BooleanType: DataType)),
        StructType(Seq(
          StructField("pinned_version", LongType),
          StructField("foreign_files", LongType))),
        defaults = Map("version" -> "0", "deep" -> "false")) { in =>
        val v = if (in.getLong(2) == 0L) None else Some(in.getLong(2))
        val (pv, n) = ColeClone.clone(procTablePath(in.getString(0)),
          procTablePath(in.getString(1)), v, in.getBoolean(3), conf)
        Array(Array[Any](pv, n.toLong))
      }
      case "localize" => procedure("localize", tableArg,
        StructType(Seq(StructField("copied_files", LongType)))) { in =>
        Array(Array[Any](
          ColeClone.localize(procTablePath(in.getString(0)), conf).toLong))
      }
      case "drop_clone_pin" => procedure("drop_clone_pin",
        tableArg :+ ("pin" -> (StringType: DataType)),
        StructType(Seq(StructField("dropped", BooleanType)))) { in =>
        Array(Array[Any](ColeRefs.dropClonePin(
          procTablePath(in.getString(0)), conf, in.getString(1))))
      }
      case "remove_orphan_files" => procedure("remove_orphan_files",
        tableArg ++ Seq("older_than_hours" -> (LongType: DataType),
          "dry_run" -> (BooleanType: DataType)),
        StructType(Seq(
          StructField("file", StringType),
          StructField("size_bytes", LongType))),
        defaults = Map("older_than_hours" -> "72", "dry_run" -> "false")) { in =>
        ColeOrphans.removeOrphans(procTablePath(in.getString(0)), conf,
          in.getLong(1) * 3600_000L, in.getBoolean(2))
          .map(o => Array[Any](o.path, o.sizeBytes)).toArray
      }
      case other => throw new IllegalArgumentException(
        s"unknown procedure cole.system.$other (versioning|rollback|clone|localize|" +
          "expire_versions|vacuum|compact|audit|repair|zorder|bloom_index|" +
          "delete_mode|materialize_cdf|checkpoint|create_tag|drop_tag|" +
          "create_branch|drop_branch|fast_forward|remove_orphan_files|" +
          "create_mv|refresh_mv)")
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val (fs, p) = ColeIO.resolve(tablePath(ident), conf)
    // a table other clones still PIN must not vanish under them — their
    // every read resolves through this directory. Drop (or localize)
    // the clones first; force-release with drop_clone_pin if a clone
    // was lost. This is the other half of "the dangling-file hazard is
    // closed by construction".
    ColeStagedTable.requireNoClonePins(tablePath(ident), conf, "DROP TABLE")
    // dropping a zero-copy clone releases its pin in the SOURCE — the
    // pinned history becomes expirable again
    ColeClone.onDrop(tablePath(ident), conf)
    // the version-record cache is path-keyed: a re-CREATE at this path
    // must never see this table's cached deltas
    ColeVersions.invalidateCache(fs, tablePath(ident))
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (fs, o) = ColeIO.resolve(tablePath(oldIdent), conf)
    val (_, n) = ColeIO.resolve(tablePath(newIdent), conf)
    if (!fs.exists(o)) throw new NoSuchTableException(oldIdent)
    // a target namespace that is not an existing warehouse directory is a
    // mis-parsed ident (e.g. a catalog-qualified RENAME target) — fail
    // loudly instead of silently nesting a new directory tree
    val nsDir = (warehouse +: newIdent.namespace().toSeq).mkString("/")
    val (_, nsPath) = ColeIO.resolve(nsDir, conf)
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(newIdent.namespace())
    require(fs.rename(o, n), s"rename failed: $o -> $n")
  }

  // ---- namespaces: directories under the warehouse

  override def listNamespaces(): Array[Array[String]] = {
    val (fs, p) = ColeIO.resolve(warehouse, conf)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      // namespaces are single-level directories: an EXISTING namespace has
      // no children (return empty — SHOW NAMESPACES IN cole.ns must work);
      // only a namespace with no backing directory is an error
      val dir = (warehouse +: namespace.toSeq).mkString("/")
      val (fs, p) = ColeIO.resolve(dir, conf)
      if (namespace.length == 1 && fs.exists(p)) Array.empty
      else throw new NoSuchNamespaceException(namespace)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val (fs, p) = ColeIO.resolve(dir, conf)
    if (namespace.nonEmpty && !fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val (fs, p) = ColeIO.resolve((warehouse +: namespace.toSeq).mkString("/"), conf)
    fs.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("COLE namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val (fs, p) = ColeIO.resolve((warehouse +: namespace.toSeq).mkString("/"), conf)
    fs.exists(p) && fs.delete(p, cascade)
  }

  // ---- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") ColeBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean = ident.name() == "bucket"
}

object ColeStagedTable {
  /** Loud when live clones still pin `table` — used by DROP TABLE and
    * the RTAS swap, which retire the directory every dependent clone
    * resolves through.
    */
  def requireNoClonePins(table: String,
      conf: org.apache.hadoop.conf.Configuration, op: String): Unit = {
    val pins = ColeRefs.clonePins(table, conf)
    require(pins.isEmpty,
      s"$op: ${pins.size} zero-copy clone(s) still pin this table " +
        s"(${pins.keys.toSeq.sorted.mkString(", ")}) — drop or localize " +
        "the clones first, or force-release a lost clone's pin with " +
        "CALL <catalog>.system.drop_clone_pin('<ns.table>', '<pin>')")
  }

  sealed trait Mode
  /** CTAS: the target must not exist at commit. */
  case object Create extends Mode
  /** RTAS: the target must exist (checked at stage time). */
  case object Replace extends Mode
  /** CREATE OR REPLACE TABLE AS SELECT: either way. */
  case object CreateOrReplace extends Mode
}

/** A staged CTAS/RTAS table ([[ColeCatalog.stageCreate]]): a fully
  * functional [[ColeTable]] rooted in a dotted staging directory — the
  * CTAS write lands there with the table's declared layout (partitions,
  * buckets, CHECKs, defaults, versioning) — plus the commit/abort pair.
  *
  * Commit is rename-based: CREATE renames the staging directory to the
  * target (a concurrent creator is detected loudly — either the rename
  * fails, or Hadoop rename-into-existing-dir nests the dotted staging
  * dir inside the winner's table, which the nested-path check catches
  * and undoes); REPLACE retires the current directory to a dotted
  * tombstone, renames the staging dir in, then deletes the tombstone.
  * A crash between the two REPLACE renames leaves the table ABSENT with
  * both dotted dirs intact (recoverable by hand, never a silent
  * half-state); the dotted dirs are invisible to listTables and
  * resolution either way. Aborts delete the staging directory.
  */
class ColeStagedTable(inner: ColeTable, ident: Identifier, target: String,
    scratch: String, mode: ColeStagedTable.Mode, conf: Configuration)
    extends StagedTable with SupportsWrite {

  import org.apache.hadoop.fs.{Path => HPath}

  override def name(): String = ident.toString
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)

  override def abortStagedChanges(): Unit = {
    val (fs, sp) = ColeIO.resolve(scratch, conf)
    fs.delete(sp, true)
  }

  override def commitStagedChanges(): Unit = {
    val (fs, sp) = ColeIO.resolve(scratch, conf)
    val (_, tp) = ColeIO.resolve(target, conf)
    if (fs.exists(tp)) {
      if (mode == ColeStagedTable.Create) {
        fs.delete(sp, true)
        throw new TableAlreadyExistsException(ident)
      }
      // REPLACE retires the current directory WHOLE — apply the same
      // dependency guards dropTable applies: a table other clones pin
      // must not vanish under them, and a clone being replaced must
      // release its own pin in ITS source (both while the pointer/refs
      // are still readable at the live path)
      ColeStagedTable.requireNoClonePins(target, conf, "REPLACE")
      ColeClone.onDrop(target, conf)
      // Tombstone first so a failed rename-in can restore the original.
      val tomb = new HPath(tp.getParent,
        s".${tp.getName}.replaced-${java.lang.Long.toHexString(System.nanoTime())}")
      require(fs.rename(tp, tomb),
        s"REPLACE TABLE: cannot retire current directory $tp")
      if (!fs.rename(sp, tp)) {
        fs.rename(tomb, tp) // restore; staging stays for inspection
        throw new IllegalStateException(
          s"REPLACE TABLE: staged directory $sp failed to move into place " +
            s"— original table restored, staged data left at $sp")
      }
      // Hadoop rename into an existing directory NESTS the source inside
      // it — a concurrent creator re-making tp in the tombstone window
      // would otherwise swallow the staging dir AND lose the original to
      // the tombstone delete below (same defense as the CREATE branch)
      val nestedR = new HPath(tp, sp.getName)
      if (fs.exists(nestedR)) {
        // a concurrent creator owns the target now; restoring the
        // original over it would nest again — keep the original SAFE at
        // the tombstone and say exactly where it is
        fs.delete(nestedR, true)
        throw new IllegalStateException(
          s"REPLACE TABLE: a concurrent writer recreated $tp mid-swap. " +
            s"The replacement was rolled back; the ORIGINAL table is " +
            s"preserved at $tomb — resolve the conflict and rename it " +
            "back (or drop it) by hand")
      }
      fs.delete(tomb, true)
      // a NEW version log now sits at the old table's path: the record
      // cache must never serve the replaced table's deltas (same-second
      // mtime + same length would defeat its per-record validation —
      // the dropTable discipline)
      ColeVersions.invalidateCache(fs, target)
    } else {
      if (mode == ColeStagedTable.Replace) {
        fs.delete(sp, true)
        throw new NoSuchTableException(ident)
      }
      if (!fs.rename(sp, tp)) {
        val lost = fs.exists(tp)
        fs.delete(sp, true)
        if (lost) throw new TableAlreadyExistsException(ident)
        throw new IllegalStateException(
          s"CTAS commit: cannot rename $sp to $tp")
      }
      // Hadoop rename into a CONCURRENTLY-created existing directory can
      // nest the source inside it instead of failing — detect, undo, loud
      val nested = new HPath(tp, sp.getName)
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        throw new TableAlreadyExistsException(ident)
      }
    }
  }
}
