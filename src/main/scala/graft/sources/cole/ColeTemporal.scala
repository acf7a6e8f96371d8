package graft.sources.cole

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import org.apache.hadoop.conf.Configuration

/** Temporal partition transforms — `PARTITIONED BY (days(ts))` — the
  * time-series warehouse layout (Iceberg's years/months/days/hours
  * family) on COLE tables.
  *
  * The partition key is DERIVED, not stored: writers compute each row's
  * unit ordinal from the timestamp column (UTC) and route it to a
  * `_t_<fn>_<col>=<ordinal>/` directory; the source column stays a
  * normal data column in the files, and the derived directory key —
  * like the bucket layout's `_bucket` — is pure layout, excluded from
  * the table schema. Ordinals are plain longs (epoch days / epoch
  * hours / `year*12+month-1` / year), so the existing numeric
  * partition-pruning machinery evaluates them unchanged.
  *
  * Read-side pruning is a PREDICATE TRANSLATION: a claimed comparison
  * on the source column implies a comparison on its unit ordinal
  * (`ord` is monotone, so `ts >= X ⇒ ord(ts) >= ord(X)`), and the
  * derived predicate joins the partition-predicate set that prunes
  * whole directories at planning — a `WHERE ts BETWEEN a AND b` over a
  * 100 TB years-long table plans only the touched days' directories,
  * no footer reads elsewhere. Translation is strictly conservative
  * (over-approximate): the original predicate still runs through stats
  * skipping and row-exact selection, so boundary rows are exact.
  *
  * The layout self-describes through the `_temporalspec` sidecar
  * (written at CREATE, or by the first write carrying the
  * `partitionByTemporal=<fn>:<col>` option); appends pick it up
  * automatically and a conflicting re-declaration is rejected — same
  * discipline as `_bucketspec`.
  */
object ColeTemporal {

  val SpecFile = "_temporalspec"

  /** Write option for path-based tables: `partitionByTemporal=days:ts`. */
  val OptionKey = "partitionByTemporal"

  val Fns: Seq[String] = Seq("years", "months", "days", "hours")

  private val MicrosPerDay = 86_400_000_000L
  private val MicrosPerHour = 3_600_000_000L

  /** One temporal transform: unit function + source timestamp column. */
  final case class Spec(fn: String, src: String) extends Serializable {
    require(Fns.contains(fn),
      s"temporal transform must be one of ${Fns.mkString("/")}, got '$fn'")

    /** The reserved derived directory key, e.g. `_t_days_ts`. */
    val dirKey: String = s"_t_${fn}_$src"

    /** Unit ordinal of a timestamp (micros since epoch, UTC). */
    def ordinal(micros: Long): Long = {
      val epochDay = Math.floorDiv(micros, MicrosPerDay)
      fn match {
        case "hours" => Math.floorDiv(micros, MicrosPerHour)
        case "days" => epochDay
        case "months" =>
          val d = LocalDate.ofEpochDay(epochDay)
          d.getYear * 12L + (d.getMonthValue - 1)
        case "years" => LocalDate.ofEpochDay(epochDay).getYear.toLong
      }
    }
  }

  def isDerivedKey(name: String): Boolean = name.startsWith("_t_")

  /** Directory keys that are pure LAYOUT — the bucket hash and temporal
    * ordinals — and therefore excluded from every surfaced schema (the
    * data they derive from is stored in the files themselves).
    */
  def isLayoutKey(name: String): Boolean =
    ColeBucket.isBucketKey(name) || isDerivedKey(name)

  def parseOption(v: String): Spec = {
    val i = v.indexOf(':')
    require(i > 0 && i < v.length - 1,
      s"$OptionKey takes <fn>:<column> (e.g. days:ts), got '$v'")
    Spec(v.substring(0, i), v.substring(i + 1))
  }

  def writeSpec(table: String, conf: Configuration, spec: Spec): Unit =
    writeSpecs(table, conf, Seq(spec))

  private def writeSpecs(table: String, conf: Configuration,
      specs: Seq[Spec]): Unit = {
    val (fs, p) = ColeIO.resolve(s"$table/$SpecFile", conf)
    ColeIO.writeReplacing(fs, p, ("1\n" + specs.map(s => s"${s.fn}:${s.src}\n").mkString)
      .getBytes(StandardCharsets.UTF_8), s"temporal spec write at $table")
  }

  /** The ACTIVE transform (writers route by it). */
  def readSpec(table: String, conf: Configuration): Option[Spec] =
    readSpecs(table, conf).lastOption

  /** The full transform HISTORY, oldest first (r12 — partition spec
    * evolution): one line per declaration, the last being active. Files
    * written under an earlier spec keep their directories forever; the
    * read side derives pruning predicates for EVERY spec in the history
    * and each file is pruned only by the spec whose derived key its
    * directory actually carries — conservative across the evolution
    * boundary by construction, zero rewrites.
    */
  def readSpecs(table: String, conf: Configuration): Seq[Spec] = {
    val (fs, p) = ColeIO.resolve(s"$table/$SpecFile", conf)
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    parseSpecContent(txt, table)
  }

  /** Parse `_temporalspec` file content (also stored base64 in commit
    * records for as-of resolution).
    */
  def parseSpecContent(txt: String, what: String): Seq[Spec] = {
    val lines = txt.split('\n').map(_.trim).filter(_.nonEmpty)
    require(lines.length >= 2 && lines(0) == "1",
      s"unreadable $SpecFile at $what")
    lines.drop(1).toSeq.map(parseOption)
  }

  /** EVOLVE the layout: re-declare the temporal transform on a grown
    * table without rewriting a byte — `days(ts)` history stays under its
    * day directories, new writes route by the new transform (Iceberg's
    * partition spec evolution). The new spec appends to the history; a
    * versioned table additionally records the change as a commit, so
    * time travel resolves the spec as-of a version. Re-declaring the
    * active spec is rejected (a no-op evolution is a mistake, not a
    * request).
    */
  def evolve(table: String, conf: Configuration, next: Spec): Seq[Spec] = {
    val (fs, _) = ColeIO.resolve(table, conf)
    // serialize concurrent evolvers (r13, same seam as DML claims): the
    // append is a read-modify-write of the sidecar, and two unserialized
    // evolves would silently drop one era
    val claims = ColeClaims.acquire(fs, conf, table, Seq(SpecFile),
      "evolve-temporal")
    val evolved = try {
      val history = readSpecs(table, conf) // re-read UNDER the claim
      require(history.nonEmpty,
        s"$table has no temporal layout to evolve — declare one with " +
          s"$OptionKey (or PARTITIONED BY) first")
      require(history.last != next,
        s"table at $table already routes by ${next.fn}:${next.src}")
      val ev = history :+ next
      writeSpecs(table, conf, ev)
      // commit while the claim holds: the record snapshots the LIVE
      // sidecar, and releasing first could pin a concurrent evolver's
      // newer spec to THIS evolve's version
      if (ColeVersions.enabled(table, conf))
        ColeVersions.commitIfEnabled(table, conf, "evolve-temporal",
          Seq.empty, Seq.empty)
      ev
    } finally claims.release()
    evolved
  }

  /** Derived partition predicates implied by claimed predicates on the
    * source column — conservative by construction (`ordinal` is
    * monotone non-decreasing in the timestamp):
    * `=`→`=`, `>`/`>=`→`>=`, `<`/`<=`→`<=`, IN→IN, same-column OR→OR;
    * everything else declines (no pruning, never a wrong prune). The
    * ORIGINAL predicates stay in the data set — stats skipping and
    * row-exact selection make the boundary exact. Derived for EVERY spec
    * of the history: each file carries exactly one spec's derived key,
    * and the pruning check keeps files that lack a predicate's key, so
    * mixed-era tables prune each era by its own transform and never
    * wrongly.
    */
  def derivePartPreds(preds: Seq[ColePredicate],
      specs: Seq[Spec]): Seq[ColePredicate] =
    specs.flatMap(s => preds.flatMap(p => translate(p, s)))

  private def translate(p: ColePredicate, s: Spec): Option[ColePredicate] = {
    if (p.column != s.src) return None
    p.op match {
      case "eq" => Some(ColePredicate(s.dirKey, "eq", s.ordinal(p.value)))
      case "gt" | "ge" => Some(ColePredicate(s.dirKey, "ge", s.ordinal(p.value)))
      case "lt" | "le" => Some(ColePredicate(s.dirKey, "le", s.ordinal(p.value)))
      case "in" => Some(ColePredicate(s.dirKey, "in", 0L,
        values = p.values.map(s.ordinal).distinct))
      case "or" =>
        val ts = p.orChildren.map(translate(_, s))
        if (ts.forall(_.isDefined))
          Some(ColePredicate(s.dirKey, "or", 0L, orChildren = ts.map(_.get)))
        else None
      case _ => None
    }
  }
}
