package graft.sources.cole

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Incrementally-maintained MATERIALIZED VIEWS over the change feed —
  * `CALL cole.system.create_mv / refresh_mv`, the Delta "incremental
  * MV" / Materialize-style capability on top of [[ColeChangeFeed]].
  *
  * An MV is a grouped aggregate of one COLE source table, materialized
  * as a COLE table of its own. `refresh_mv` advances it from the
  * source's change feed: the delta since the applied watermark folds
  * into the stored per-key state, so a refresh costs O(changed rows +
  * touched keys) — at 100 TB, maintaining `sales_by_region` after a
  * day's ingest reads the day's commits, never the table.
  *
  * Aggregate algebra (the standard self-maintainability split):
  *
  *   - `count` / `sum` / `avg` are DIFFERENTIAL: inserts add, deletes
  *     subtract (an update in the feed is a delete+insert pair, which
  *     the math absorbs without pairing). Sums are maintained in exact
  *     DECIMAL(25,4)-cast arithmetic — order- and batching-independent,
  *     so an incremental state is value-identical to a full recompute.
  *     `avg` rides a hidden exact sum plus the hidden live-row count.
  *   - `min` / `max` are differential on INSERTS ONLY (fold via
  *     least/greatest); a delete can retire the current extreme, so a
  *     key that saw any delete is RE-AGGREGATED from the source as-of
  *     the refresh version — but only those keys, located via a
  *     key-pushed scan (per-column IN prefilter when the key set is
  *     small enough to push, exact null-safe join either way).
  *   - a key whose live-row count reaches zero is DELETED from the MV.
  *
  * The write-back is one keyed MERGE INTO (update / insert / delete in
  * a single commit); the merge source is staged to `_cole_mv_stage/`
  * first so the MERGE never re-reads its own target mid-rewrite.
  *
  * Definition + applied watermark live in a `_cole_mv` sidecar in the
  * MV's directory (atomic replace on advance; `_`-prefixed, so scans
  * and the orphan sweep never see it). Crash safety: the differential
  * MERGE reads the MV's own pre-merge state, so replaying it would
  * double-apply — instead every refresh writes an `inflight:<v>` intent
  * into the sidecar BEFORE merging and clears it with the watermark
  * advance after. A refresh that finds a leftover intent first RECOVERS
  * it: the touched keys of the in-flight range are re-aggregated from
  * the source ABSOLUTELY (no MV state in the math) and merged — that
  * merge is idempotent whether or not the crashed one landed. Refreshes
  * serialize on a [[ColeClaims]] claim over the sidecar, so two
  * refreshers can't interleave their intents.
  *
  * A rollback on the source inside the unapplied range is refused by
  * the feed (its delta spans the rolled-over history); `refresh_mv(mv,
  * full => true)` resynchronizes by full recompute and watermark reset.
  */
object ColeMv {

  /** Sidecar file name, inside the MV table's directory. */
  val SidecarName = "_cole_mv"
  /** Hidden live-row count per key — drives key death and `avg`. */
  val CntCol = "_cole_mv_cnt"
  /** Hidden exact sum backing an `avg` output column. */
  def avgSumCol(out: String): String = s"_cole_mv_avgsum_$out"
  private val DeadCol = "_cole_mv_dead"

  /** Collected-key ceiling for the per-column IN prefilter on the
    * re-aggregation scan: below it the key values travel in the plan
    * (stat skipping prunes source files), above it only the null-safe
    * join filters (a full source scan of the affected columns).
    */
  val InPushLimit = 10000

  sealed trait Agg { def out: String }
  final case class CountAgg(out: String) extends Agg
  final case class SumAgg(c: String, out: String) extends Agg
  final case class AvgAgg(c: String, out: String) extends Agg
  final case class MinAgg(c: String, out: String) extends Agg
  final case class MaxAgg(c: String, out: String) extends Agg

  /** `count:*:n, sum:l_quantity:sum_qty, min:price, avg:x:avg_x` —
    * kind:column[:output]; output defaults to `kind_column` (`n` for
    * count). Unknown kinds are loud.
    */
  def parseAggs(spec: String): Seq[Agg] = {
    val aggs = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
      val parts = s.split(':')
      require(parts.length == 2 || parts.length == 3,
        s"aggregate '$s' must be kind:column[:output]")
      val (kind, c) = (parts(0).trim, parts(1).trim)
      val out = if (parts.length == 3) parts(2).trim
        else if (kind == "count") "n" else s"${kind}_$c"
      kind match {
        case "count" =>
          require(c == "*", s"count aggregates rows: write count:*[:name]")
          CountAgg(out)
        case "sum" => SumAgg(c, out)
        case "avg" => AvgAgg(c, out)
        case "min" => MinAgg(c, out)
        case "max" => MaxAgg(c, out)
        case other => throw new IllegalArgumentException(
          s"unknown aggregate kind '$other' (count|sum|avg|min|max)")
      }
    }
    require(aggs.nonEmpty, "an MV needs at least one aggregate")
    val dup = aggs.groupBy(_.out).collectFirst { case (o, as) if as.size > 1 => o }
    dup.foreach(o => throw new IllegalArgumentException(
      s"duplicate output column '$o' in the aggregate list"))
    aggs
  }

  /** `groupBy` holds the MV's stored key column NAMES; a name present in
    * `groupExprs` is DERIVED — computed from the source row by the
    * recorded deterministic expression (e.g. `substr(k,1,2)`,
    * `date_trunc('day', ts)`) on every path that reads source/feed rows.
    * `where` filters source and feed rows BEFORE the differential fold:
    * the math is unchanged — a row outside the filter simply never
    * contributes, and an update moving a row across the boundary arrives
    * as a delete+insert pair of which exactly the in-filter sides fold.
    */
  final case class Definition(source: String, groupBy: Seq[String],
      aggs: Seq[Agg], appliedVersion: Long, inflight: Option[Long] = None,
      where: Option[String] = None,
      groupExprs: Map[String, String] = Map.empty,
      /** Stream-static star-schema enrichment (r16): ONE broadcast-sized
        * dimension (path, join condition) LEFT-joined onto every
        * source/feed row before the WHERE/keys/fold — the differential
        * math stays single-source because the dim is REQUIRED STABLE
        * between incremental refreshes (fingerprint-checked; a changed
        * dim refuses loudly and `full => true` resynchronizes under the
        * new enrichment).
        */
      dim: Option[(String, String)] = None,
      /** The dimension's content fingerprint at the last apply. */
      dimFp: Option[String] = None,
      /** r17: ADDITIONAL dimensions beyond the first — a star schema
        * rolls up through several (`dim => 'ns.d1,ns.d2'`). Each join
        * condition may reference ONLY source + that dim's columns (the
        * dim-delta sync probes affected facts per dim); WHERE and
        * derived keys may reference any dim's columns. `dim`/`dimFp`
        * stay the first entry for sidecar back-compat.
        */
      dimsRest: Seq[(String, String)] = Nil,
      dimFpsRest: Seq[String] = Nil,
      /** FACT-FACT JOIN MV (r17): a SECOND versioned source inner-joined
        * on `joinOn` — the MV is `A ⋈ B GROUP BY keys`, maintained
        * differentially from BOTH change feeds via the two-term algebra
        * Δ(A⋈B) = ΔA⋈B@new ∪ A@old⋈ΔB (signs carried from the feeds).
        * Mutually exclusive with `dim` (one differential lane per MV).
        */
      source2: Option[String] = None,
      joinOn: Option[String] = None,
      /** Source B's applied watermark / crash intent (A uses the
        * unqualified fields — both always move together).
        */
      appliedVersion2: Option[Long] = None,
      inflight2: Option[Long] = None) {
    /** All dimensions in declaration order. */
    def dims: Seq[(String, String)] = dim.toSeq ++ dimsRest
    /** Fingerprints aligned with [[dims]]. */
    def dimFps: Seq[String] = dimFp.toSeq ++ dimFpsRest
    /** This definition with the fingerprint of dim `i` replaced. */
    def withDimFp(i: Int, fp: String): Definition = {
      val fps = dimFps.updated(i, fp)
      copy(dimFp = fps.headOption, dimFpsRest = fps.drop(1))
    }
  }

  /** Split on `sep` outside parentheses/quotes — group-by entries and
    * the WHERE may carry function calls with commas.
    */
  private[cole] def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote = false
    s.foreach { ch =>
      if (ch == '\'') { quote = !quote; cur += ch }
      else if (!quote && ch == '(') { depth += 1; cur += ch }
      else if (!quote && ch == ')') { depth -= 1; cur += ch }
      else if (!quote && depth == 0 && ch == sep) {
        out += cur.toString; cur.clear()
      }
      else cur += ch
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Parse a group-by spec: entries are plain column names or
    * `name := expr` derived keys. Returns (stored key names, name →
    * expression SQL for the derived ones).
    */
  def parseGroupBy(spec: String): (Seq[String], Map[String, String]) = {
    val entries = splitTop(spec, ',')
    require(entries.nonEmpty, "an MV needs at least one group-by column")
    // split on the FIRST unquoted ':=' only — the expression side may
    // itself contain ':=' inside a string literal
    def sepAt(e: String): Int = {
      var quote = false
      var i = 0
      while (i < e.length - 1) {
        val ch = e.charAt(i)
        if (ch == '\'') quote = !quote
        else if (!quote && ch == ':' && e.charAt(i + 1) == '=') return i
        i += 1
      }
      -1
    }
    val parsed = entries.map { e =>
      sepAt(e) match {
        case -1 => (e.trim, Option.empty[String])
        case i =>
          val name = e.substring(0, i).trim
          val ex = e.substring(i + 2).trim
          require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
            c == '_'), s"derived key name '$name' must be an identifier")
          require(ex.nonEmpty,
            s"group-by entry '$e' must be a column or name := expression")
          (name, Some(ex))
      }
    }
    val names = parsed.map(_._1)
    val dup = names.groupBy(identity).collectFirst {
      case (n, ns) if ns.size > 1 => n }
    dup.foreach(n => throw new IllegalArgumentException(
      s"duplicate group-by key '$n'"))
    (names, parsed.collect { case (n, Some(ex)) => n -> ex }.toMap)
  }

  private def sidecar(mv: String): HPath = new HPath(mv, SidecarName)

  private def encodeAgg(a: Agg): String = a match {
    case CountAgg(o) => s"count|*|$o"
    case SumAgg(c, o) => s"sum|$c|$o"
    case AvgAgg(c, o) => s"avg|$c|$o"
    case MinAgg(c, o) => s"min|$c|$o"
    case MaxAgg(c, o) => s"max|$c|$o"
  }

  private def decodeAgg(s: String): Agg = s.split('|') match {
    case Array("count", "*", o) => CountAgg(o)
    case Array("sum", c, o) => SumAgg(c, o)
    case Array("avg", c, o) => AvgAgg(c, o)
    case Array("min", c, o) => MinAgg(c, o)
    case Array("max", c, o) => MaxAgg(c, o)
    case _ => throw new IllegalStateException(s"corrupt MV aggregate '$s'")
  }

  def writeDefinition(mv: String, conf: Configuration, d: Definition): Unit = {
    val (fs, _) = ColeIO.resolve(mv, conf)
    val body = (Seq(s"source:${d.source}",
      s"groupby:${d.groupBy.mkString(",")}") ++
      d.groupExprs.toSeq.sortBy(_._1).map { case (n, ex) =>
        s"groupexpr:$n|$ex" } ++
      d.where.map(w => s"where:$w").toSeq ++
      d.dims.map { case (p, on) => s"dim:$p" } ++
      d.dims.map { case (p, on) => s"dimon:$on" } ++
      d.dimFps.map(fp => s"dimfp:$fp") ++
      d.source2.map(p => s"sourceb:$p").toSeq ++
      d.joinOn.map(j => s"joinon:$j").toSeq ++
      d.appliedVersion2.map(v => s"appliedvb:$v").toSeq ++
      d.inflight2.map(v => s"inflightb:$v").toSeq ++
      d.aggs.map(a => s"agg:${encodeAgg(a)}") ++
      Seq(s"appliedv:${d.appliedVersion}") ++
      d.inflight.map(v => s"inflight:$v").toSeq ++
      Seq("end"))
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
    ColeIO.writeReplacing(fs, sidecar(mv), body, "MV definition")
  }

  def isMv(mv: String, conf: Configuration): Boolean = {
    val (fs, _) = ColeIO.resolve(mv, conf)
    fs.exists(sidecar(mv))
  }

  def readDefinition(mv: String, conf: Configuration): Definition = {
    val (fs, _) = ColeIO.resolve(mv, conf)
    require(fs.exists(sidecar(mv)),
      s"$mv is not a materialized view (no $SidecarName sidecar) — " +
        "create one with CALL <catalog>.system.create_mv")
    val in = fs.open(sidecar(mv))
    val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      .split('\n').toSeq finally in.close()
    require(lines.lastOption.contains("end"), s"torn MV sidecar on $mv")
    def one(k: String): String = lines.collectFirst {
      case l if l.startsWith(k + ":") => l.drop(k.length + 1)
    }.getOrElse(throw new IllegalStateException(s"MV sidecar of $mv lacks $k"))
    Definition(one("source"),
      one("groupby").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      lines.filter(_.startsWith("agg:")).map(l => decodeAgg(l.drop(4))),
      one("appliedv").toLong,
      lines.collectFirst {
        case l if l.startsWith("inflight:") => l.drop(9).toLong
      },
      lines.collectFirst {
        case l if l.startsWith("where:") => l.drop(6)
      },
      lines.filter(_.startsWith("groupexpr:")).map { l =>
        val body = l.drop(10)
        val i = body.indexOf('|')
        require(i > 0, s"corrupt MV group expression '$l'")
        body.take(i) -> body.drop(i + 1)
      }.toMap,
      dim = {
        val ps = lines.filter(_.startsWith("dim:")).map(_.drop(4))
        val ons = lines.filter(_.startsWith("dimon:")).map(_.drop(6))
        require(ps.length == ons.length, s"MV sidecar of $mv declares " +
          s"${ps.length} dims but ${ons.length} join conditions")
        ps.zip(ons).headOption
      },
      dimFp = lines.filter(_.startsWith("dimfp:")).map(_.drop(6)).headOption,
      dimsRest = {
        val ps = lines.filter(_.startsWith("dim:")).map(_.drop(4))
        val ons = lines.filter(_.startsWith("dimon:")).map(_.drop(6))
        ps.zip(ons).drop(1)
      },
      dimFpsRest = lines.filter(_.startsWith("dimfp:")).map(_.drop(6)).drop(1),
      source2 = lines.collectFirst {
        case l if l.startsWith("sourceb:") => l.drop(8)
      },
      joinOn = lines.collectFirst {
        case l if l.startsWith("joinon:") => l.drop(7)
      },
      appliedVersion2 = lines.collectFirst {
        case l if l.startsWith("appliedvb:") => l.drop(10).toLong
      },
      inflight2 = lines.collectFirst {
        case l if l.startsWith("inflightb:") => l.drop(10).toLong
      })
  }

  /** Source/feed rows as the MV's aggregate sees them: the WHERE filter
    * applied, derived key columns projected. Every path that folds or
    * re-aggregates source data goes through here — create, full refresh,
    * the feed delta, the affected-key recompute, and crash recovery.
    */
  private def prepare(df: DataFrame, d: Definition,
      dimPins: Map[String, Long] = Map.empty): DataFrame = {
    // stream-static enrichment FIRST: WHERE and derived keys may
    // reference dimension columns. LEFT join per dim, in declaration
    // order — row membership stays fact-determined (an unmatched fact
    // keeps NULL enrichment), so a dim edit can never silently change
    // which rows contribute. `dimPins` pins VERSIONED dims to one
    // snapshot each — the dim-delta sync enriches under the old and new
    // dim states explicitly, and a refresh pins its feed fold to the
    // fingerprinted versions so a concurrent dim write can't tear one
    // refresh across two enrichments.
    val enriched = d.dims.foldLeft(df) { case (acc, (dimPath, on)) =>
      val rd = acc.sparkSession.read.format("cole")
      acc.join(broadcast(
        dimPins.get(dimPath).fold(rd)(v => rd.option("versionAsOf", v.toString))
          .load(dimPath)), expr(on), "left")
    }
    val filtered = d.where.fold(enriched)(w => enriched.filter(expr(w)))
    d.groupExprs.toSeq.sortBy(_._1).foldLeft(filtered) {
      case (acc, (n, ex)) => acc.withColumn(n, expr(ex))
    }
  }

  /** Content fingerprint of the dimension: its version when versioned,
    * else a CRC of the file listing identity. Incremental refreshes
    * REQUIRE it unchanged — folding a fact's delete under a different
    * enrichment than its insert would corrupt the differential state.
    */
  def dimFingerprint(path: String, conf: Configuration): String =
    if (ColeVersions.enabled(path, conf))
      s"v${ColeVersions.currentVersion(path, conf)}"
    else {
      val crc = new java.util.zip.CRC32()
      ColeIO.listPartitioned(path, conf)
        .map { case (st, _) =>
          s"${st.getPath}:${st.getLen}:${st.getModificationTime}" }
        .sorted.foreach(s => crc.update(s.getBytes(StandardCharsets.UTF_8)))
      java.lang.Long.toHexString(crc.getValue)
    }

  /** Loud validation of a WHERE / derived-key expression at CREATE: must
    * resolve against the source, be deterministic (a `rand()` key would
    * make refresh and recompute disagree), and carry no subquery (a
    * second table's changes would silently invalidate the differential
    * math — the feed only watches ONE source).
    */
  private def validateExpr(df: DataFrame, sql: String, what: String): Unit = {
    val analyzed =
      try df.select(expr(sql)).queryExecution.analyzed
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"MV $what '$sql' does not resolve against the source: " +
            e.getMessage, e)
      }
    require(analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project],
      s"MV $what '$sql' must be a row-level expression (no aggregates, " +
        "no generators)")
    val e = analyzed.expressions.last
    require(e.deterministic,
      s"MV $what '$sql' is non-deterministic — refresh and recompute " +
        "would disagree; use deterministic expressions only")
    require(!e.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"MV $what '$sql' contains a subquery — an MV is maintained from " +
        "ONE source's change feed; changes to other tables would be missed")
  }

  // ------------------------------------------------------------- algebra

  /** Exact decimal lane for maintained sums: (25,4) inputs like the
    * engine's whole oracle discipline; Spark types sum(DECIMAL(25,4)) as
    * DECIMAL(35,4) — the stored column type.
    */
  private def dec(c: Column): Column = c.cast(DecimalType(25, 4))
  private val SumType = DecimalType(35, 4)

  /** Every column relaxed to NULLABLE for the MV's stored schema: the
    * enrichment is a LEFT join, so a later dim edit (or an unmatched
    * fact) can introduce a NULL group key the create-time batch never
    * showed — the storage must not bake in that batch's accidental
    * non-nullability or the maintenance MERGE would refuse the row.
    */
  private def nullableAll(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      when(lit(true), col(c)).as(c)).toIndexedSeq: _*)

  /** The full (non-incremental) aggregate of `df` — used at create, for
    * full refresh, and per affected key on the re-aggregation paths.
    * Column order: groupBy, visible outputs, hidden cnt, hidden avg sums.
    */
  def fullAggregate(df: DataFrame, groupBy: Seq[String],
      aggs: Seq[Agg]): DataFrame = {
    val visible: Seq[Column] = aggs.map {
      case CountAgg(o) => count(lit(1)).as(o)
      case SumAgg(c, o) => sum(dec(col(c))).cast(SumType).as(o)
      case AvgAgg(c, o) =>
        (sum(dec(col(c))).cast(DoubleType) / count(lit(1))).as(o)
      case MinAgg(c, o) => min(col(c)).as(o)
      case MaxAgg(c, o) => max(col(c)).as(o)
    }
    val hidden: Seq[Column] = count(lit(1)).cast(LongType).as(CntCol) +:
      aggs.collect { case AvgAgg(c, o) =>
        sum(dec(col(c))).cast(SumType).as(avgSumCol(o))
      }
    df.groupBy(groupBy.map(col): _*).agg(visible.head,
      (visible.tail ++ hidden): _*)
  }

  /** Create the MV: materialize the full aggregate of the source AS OF
    * its current version and record (definition, watermark). Returns
    * the source version the MV now reflects.
    */
  /** Dimension byte cap: an MV dim is broadcast onto every source/feed
    * read, so only genuinely dimension-sized tables qualify — a fact
    * table here is both un-broadcastable AND un-maintainable (its own
    * changes would be silently missed).
    */
  val DimMaxBytesKey = "graft.cole.mv.dimMaxBytes"

  def create(spark: SparkSession, source: String, mv: String,
      groupBy: Seq[String], aggs: Seq[Agg], where: Option[String] = None,
      groupExprs: Map[String, String] = Map.empty,
      dim: Seq[(String, String)] = Nil,
      join: Option[(String, String)] = None): Long = {
    val conf = ColeIO.driverConf()
    require(ColeVersions.enabled(source, conf),
      s"incremental MV maintenance reads the change feed of $source — " +
        "enable versioning on the source first " +
        "(CALL <catalog>.system.versioning)")
    require(groupBy.nonEmpty, "an MV needs at least one group-by column")
    require(!isMv(mv, conf), s"$mv is already an MV")
    require(where.forall(w => !w.contains('\n') && w.trim.nonEmpty),
      "MV WHERE must be a non-empty single-line expression")
    require(dim.isEmpty || join.isEmpty,
      "dim and join are mutually exclusive: a join MV maintains from " +
        "BOTH sides' change feeds, a dim MV treats the second table as " +
        "stable enrichment — pick the lane that matches the second table")
    val v = ColeVersions.currentVersion(source, conf)
    val snap = spark.read.format("cole")
      .option("versionAsOf", v.toString).load(source)
    // fact-fact join validation — every rejection is at DECLARATION:
    val vb: Option[Long] = join.map { case (bPath, on) =>
      require(ColeVersions.enabled(bPath, conf),
        s"a join MV maintains from BOTH change feeds — enable " +
          s"versioning on $bPath first (CALL <catalog>.system.versioning)")
      require(on.trim.nonEmpty && !on.contains('\n'),
        "join condition must be a non-empty single-line expression")
      val bNow = ColeVersions.currentVersion(bPath, conf)
      val bDf = spark.read.format("cole")
        .option("versionAsOf", bNow.toString).load(bPath)
      val overlap = bDf.columns.toSet & snap.columns.toSet
      require(overlap.isEmpty,
        s"join columns ${overlap.mkString(", ")} collide between the " +
          "two sources — rename them (the join keeps both sides' " +
          "columns, expressions could not disambiguate)")
      validateExpr(snap.join(bDf, expr("1=1"), "inner"), on,
        "join condition")
      bNow
    }
    // stream-static dim validation — every rejection is at DECLARATION.
    // Several dims are allowed (a star schema rolls up through customer
    // AND nation); each join condition is validated against source +
    // THAT dim alone — the per-dim contract the dim-delta sync relies
    // on to probe affected facts without the other enrichments.
    require(dim.map(_._1).distinct.length == dim.length,
      "duplicate dim table — role-playing dims need renamed copies " +
        "(the LEFT-join enrichment could not disambiguate their columns)")
    var joinedCols = snap.columns.toSet
    dim.foreach { case (dimPath, on) =>
      val (dfs, dp) = ColeIO.resolve(dimPath, conf)
      require(dfs.makeQualified(dp).toString !=
        ColeIO.resolve(source, conf)._1.makeQualified(
          ColeIO.resolve(source, conf)._2).toString,
        "an MV dim cannot be its own source — a self-join MV is a " +
          "fact-fact shape, whose second side's changes the feed cannot " +
          "see; maintainable MVs join ONE stable dimension")
      val bytes = ColeIO.listPartitioned(dimPath, conf).map(_._1.getLen).sum
      val cap = conf.getLong(DimMaxBytesKey, 128L << 20)
      require(bytes <= cap,
        s"MV dim at $dimPath is ${bytes >> 20} MB — beyond the " +
          s"broadcast cap (${cap >> 20} MB, $DimMaxBytesKey). A table " +
          "this size is a FACT, and a fact-fact MV is not maintainable " +
          "from one change feed")
      require(on.trim.nonEmpty && !on.contains('\n'),
        "dim join condition must be a non-empty single-line expression")
      val dimDf = spark.read.format("cole").load(dimPath)
      val overlap = dimDf.columns.toSet & joinedCols
      require(overlap.isEmpty,
        s"dim columns ${overlap.mkString(", ")} collide with source " +
          "or earlier-dim columns — rename them (the enrichment is a " +
          "plain LEFT join, expressions could not disambiguate)")
      validateExpr(snap.join(dimDf, expr("1=1"), "left"), on,
        "dim join condition")
      joinedCols ++= dimDf.columns
    }
    // every expression is validated LOUDLY at declaration — an MV whose
    // filter/key only fails at first refresh is a trap. WHERE and
    // derived keys validate against the ENRICHED/JOINED frame (they may
    // reference dim or second-source columns).
    val d = Definition(source, groupBy, aggs, v, where = None,
      groupExprs = Map.empty,
      dim = dim.headOption, dimsRest = dim.drop(1),
      source2 = join.map(_._1), joinOn = join.map(_._2),
      appliedVersion2 = vb)
    val base = join.fold(snap) { case (bPath, on) =>
      snap.join(spark.read.format("cole")
        .option("versionAsOf", vb.get.toString).load(bPath),
        expr(on), "inner")
    }
    val enriched = prepare(base, d)
    where.foreach(validateExpr(enriched, _, "WHERE"))
    groupExprs.toSeq.sortBy(_._1).foreach { case (n, ex) =>
      require(!enriched.columns.contains(n),
        s"derived key '$n' shadows a source column — pick another name")
      validateExpr(enriched, ex, s"derived key '$n'")
    }
    val fps = dim.map(x => dimFingerprint(x._1, conf))
    val full = d.copy(where = where, groupExprs = groupExprs,
      dimFp = fps.headOption, dimFpsRest = fps.drop(1))
    nullableAll(fullAggregate(prepare(base, full), groupBy, aggs))
      .write.format("cole").mode("overwrite").save(mv)
    writeDefinition(mv, conf, full)
    v
  }

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      keysTouched: Long, keysRecomputed: Long, rowsReaggregated: Long)

  /** Advance the MV to the source's current version. `full` recomputes
    * from scratch (the rollback / expired-feed escape hatch); otherwise
    * the change feed since the watermark folds in incrementally. One
    * refresher at a time per MV (claim-serialized); a leftover crashed
    * refresh is recovered first.
    */
  def refresh(spark: SparkSession, mv: String, mvQualified: String,
      full: Boolean = false): RefreshStats = {
    val conf = ColeIO.driverConf()
    val (fs, _) = ColeIO.resolve(mv, conf)
    val claim = ColeClaims.acquire(fs, conf, mv, Seq(SidecarName),
      "mv-refresh")
    try {
      var d = readDefinition(mv, conf)
      // fact-fact join MVs maintain from BOTH feeds — their own lane
      // (recovery, watermark pair, two-term delta, full resync)
      if (d.source2.isDefined)
        return refreshJoin(spark, mv, mvQualified, conf, d, full)
      // stream-static dim: an INCREMENTAL refresh requires the dim
      // unchanged since the last apply — a fact's delete folding under a
      // different enrichment than its insert would corrupt the state.
      // r17: a VERSIONED dim that moved forward is handled by the
      // DIM-DELTA SYNC instead of refusing — its change feed names the
      // changed dim rows, the affected MV keys are re-aggregated
      // absolutely under the new enrichment (O(affected keys), the same
      // machinery as the min/max delete lane), and only then does the
      // fact feed fold. Unversioned dims and rollbacks still refuse
      // loudly; `full => true` stays the escape hatch.
      var dimSyncs: Seq[(Int, String, String, Long, Long)] = Seq.empty
      if (!full) d.dims.zip(d.dimFps).zipWithIndex.foreach {
        case (((dimPath, on), recordedFp), i) =>
          val fp = dimFingerprint(dimPath, conf)
          if (fp != recordedFp) {
            val eligible = for {
              _ <- Option(recordedFp)
              if recordedFp.startsWith("v") && fp.startsWith("v")
              from <- recordedFp.drop(1).toLongOption
              to <- fp.drop(1).toLongOption
              if to > from
            } yield (i, dimPath, on, from, to)
            require(eligible.isDefined,
              s"the dimension at $dimPath changed since this MV's last " +
                "refresh and carries no change feed for the delta " +
                "(unversioned dim, or a rolled-back one) — the " +
                "differential fold would mix enrichments; resynchronize " +
                "with refresh_mv(..., full => true)")
            dimSyncs = dimSyncs ++ eligible
          }
      }
      // a crashed refresh left its intent: recover it absolutely before
      // anything differential runs against an unknown MV state. A FULL
      // refresh skips the recovery — the overwrite supersedes any
      // half-applied state absolutely, and recovery must not be able to
      // block the escape hatch (its own feed read fails on exactly the
      // rollback/expired ranges full exists to resynchronize past).
      if (!full) d.inflight.foreach { toV =>
        recoverInflight(spark, mv, mvQualified, d, toV, recordedPinsOf(d))
        d = d.copy(appliedVersion = toV, inflight = None)
      }
      // dim-delta sync AFTER recovery (the MV state must be known) and
      // BEFORE the fact feed folds: the affected keys are re-aggregated
      // at the fact's applied watermark under the NEW enrichment, so the
      // subsequent differential fold — whose prepare also pins the new
      // dim version — adds/subtracts contributions consistent with every
      // stored key. The sync is idempotent (absolute per-key recompute,
      // fingerprint advanced only after the merge), so a crash inside it
      // simply re-runs it.
      // pins for every VERSIONED dim from the RECORDED fingerprints —
      // updated per completed sync, so each sync's probe/recompute and
      // the final feed fold all see one consistent enrichment state
      def recordedPins: Map[String, Long] = recordedPinsOf(d)
      var (dimKeys, dimRows) = (0L, 0L)
      dimSyncs.foreach { case (i, dimPath, on, fromV, toV) =>
        val (nk, nr) = dimDeltaSync(spark, mv, mvQualified, conf, d,
          dimPath, on, fromV, toV, recordedPins - dimPath)
        d = d.withDimFp(i, s"v$toV")
        writeDefinition(mv, conf, d)
        dimKeys += nk; dimRows += nr
      }
      // pin every dim read of THIS refresh to ONE version per dim
      // (versioned dims only): the fingerprinted versions for the
      // incremental fold — a concurrent dim commit mid-refresh can then
      // never tear the fold across two enrichments; the dims' CURRENT
      // versions for a full resync (that's the whole point of the escape
      // hatch), recorded as the new fingerprints below so read and
      // record can't race apart.
      val dimPins: Map[String, Long] =
        if (full) d.dims.collect {
          case (p, _) if ColeVersions.enabled(p, conf) =>
            p -> ColeVersions.currentVersion(p, conf)
        }.toMap
        else recordedPins
      val cv = ColeVersions.currentVersion(d.source, conf)
      if (!full && cv == d.appliedVersion)
        return RefreshStats(d.appliedVersion, cv, dimKeys, dimKeys, dimRows)
      require(full || cv > d.appliedVersion,
        s"MV watermark v${d.appliedVersion} is AHEAD of the source's " +
          s"current v$cv — was the source rolled back? resynchronize " +
          "with refresh_mv(..., full => true)")
      val snap = prepare(spark.read.format("cole")
        .option("versionAsOf", cv.toString).load(d.source), d, dimPins)
      if (full) {
        // intent first: a crash between the overwrite and the watermark
        // would otherwise re-apply the whole range differentially on top
        // of already-recomputed state
        writeDefinition(mv, conf, d.copy(inflight = Some(cv)))
        nullableAll(fullAggregate(snap, d.groupBy, d.aggs))
          .write.format("cole").mode("overwrite").save(mv)
        val newFps = d.dims.map { case (p, _) =>
          dimPins.get(p).map(v => s"v$v").getOrElse(dimFingerprint(p, conf)) }
        writeDefinition(mv, conf,
          d.copy(appliedVersion = cv, inflight = None,
            dimFp = newFps.headOption, dimFpsRest = newFps.drop(1)))
        return RefreshStats(d.appliedVersion, cv, -1, -1, -1)
      }

      // ---- the incremental path ----
      // the feed's update pairs are irrelevant to grouped aggregates: a
      // delete+insert pair IS the correct differential, so no pairKey.
      // The WHERE filters the feed BEFORE the fold (out-of-filter rows
      // never contributed, so their changes never fold; a row moving
      // ACROSS the boundary arrives as a delete+insert pair of which
      // exactly the in-filter sides apply) — the differential math is
      // unchanged, the feed just shrinks.
      val feed = prepare(
        ColeChangeFeed.read(spark, d.source, d.appliedVersion, cv), d, dimPins)
      val (nTouched, nRecompute, nReagg) = foldFeed(spark, mv, mvQualified,
        conf, d, feed, snap,
        intent = d.copy(inflight = Some(cv)),
        done = d.copy(appliedVersion = cv, inflight = None))
      RefreshStats(d.appliedVersion, cv, nTouched + dimKeys,
        nRecompute + dimKeys, nReagg + dimRows)
    } finally claim.release()
  }

  /** FACT-FACT JOIN MV refresh (r17): `A ⋈ B GROUP BY keys` maintained
    * differentially from BOTH change feeds. The signed join delta is the
    * standard two-term algebra
    *
    *   Δ(A⋈B) = ΔA ⋈ B@b1  ∪  A@a0 ⋈ ΔB
    *
    * (= A@a1⋈B@b1 − A@a0⋈B@b0 exactly: expand (A0+ΔA)⋈(B0+ΔB) — the
    * ΔA⋈ΔB cross term is absorbed by joining ΔA against B's NEW state
    * while ΔB joins A's OLD state), with each joined row keeping its
    * feed row's insert/delete sign — update pairs fold as
    * delete+insert, exactly like the single-source lane, so the whole
    * differential fold (count/sum/avg delta, min/max affected-key
    * recompute, dead-key deletion, crash intents) is the shared
    * [[foldFeed]] core. Each term is a commit-sized-delta ⋈ fact join —
    * AQE broadcasts the delta side at scale; a refresh never runs a
    * fact-fact shuffle, and never rebuilds the MV. Both watermarks
    * advance together; a rollback on either source refuses and
    * `full => true` resynchronizes from both current snapshots.
    */
  private def refreshJoin(spark: SparkSession, mv: String,
      mvQualified: String, conf: Configuration, dIn: Definition,
      full: Boolean): RefreshStats = {
    var d = dIn
    val b = d.source2.get
    val on = d.joinOn.get
    def sideAt(path: String, v: Long) = spark.read.format("cole")
      .option("versionAsOf", v.toString).load(path)
    def joinedAt(va: Long, vbb: Long) =
      sideAt(d.source, va).join(sideAt(b, vbb), expr(on), "inner")
    // a crashed refresh left its (paired) intent: recover absolutely
    if (!full) (d.inflight, d.inflight2) match {
      case (Some(ta), Some(tb)) =>
        recoverInflightJoin(spark, mv, mvQualified, conf, d, ta, tb)
        d = d.copy(appliedVersion = ta, appliedVersion2 = Some(tb),
          inflight = None, inflight2 = None)
      case (None, None) => ()
      case _ => throw new IllegalStateException(
        s"torn join-MV intent on $mv (one side's inflight missing) — " +
          "resynchronize with refresh_mv(..., full => true)")
    }
    val b0 = d.appliedVersion2.getOrElse(throw new IllegalStateException(
      s"join-MV sidecar of $mv lacks source B's watermark"))
    val cva = ColeVersions.currentVersion(d.source, conf)
    val cvb = ColeVersions.currentVersion(b, conf)
    if (!full && cva == d.appliedVersion && cvb == b0)
      return RefreshStats(d.appliedVersion, cva, 0, 0, 0)
    require(full || (cva >= d.appliedVersion && cvb >= b0),
      s"a join-MV watermark is AHEAD of its source " +
        s"(A v${d.appliedVersion}→v$cva, B v$b0→v$cvb) — was a source " +
        "rolled back? resynchronize with refresh_mv(..., full => true)")
    val snap = prepare(joinedAt(cva, cvb), d)
    if (full) {
      writeDefinition(mv, conf,
        d.copy(inflight = Some(cva), inflight2 = Some(cvb)))
      nullableAll(fullAggregate(snap, d.groupBy, d.aggs))
        .write.format("cole").mode("overwrite").save(mv)
      writeDefinition(mv, conf,
        d.copy(appliedVersion = cva, appliedVersion2 = Some(cvb),
          inflight = None, inflight2 = None))
      return RefreshStats(d.appliedVersion, cva, -1, -1, -1)
    }
    val feed = prepare(
      joinDelta(spark, d, d.appliedVersion, cva, b0, cvb), d)
    val (nTouched, nRecompute, nReagg) = foldFeed(spark, mv, mvQualified,
      conf, d, feed, snap,
      intent = d.copy(inflight = Some(cva), inflight2 = Some(cvb)),
      done = d.copy(appliedVersion = cva, appliedVersion2 = Some(cvb),
        inflight = None, inflight2 = None))
    RefreshStats(d.appliedVersion, cva, nTouched, nRecompute, nReagg)
  }

  /** The signed two-term join delta (see [[refreshJoin]]); each term is
    * one change feed joined against the other side's pinned snapshot,
    * the feed's insert/delete label riding along as the row's sign.
    */
  private def joinDelta(spark: SparkSession, d: Definition,
      a0: Long, a1: Long, b0: Long, b1: Long): DataFrame = {
    val b = d.source2.get
    val on = d.joinOn.get
    def sideAt(path: String, v: Long) = spark.read.format("cole")
      .option("versionAsOf", v.toString).load(path)
    val termA =
      if (a1 > a0) Some(ColeChangeFeed.read(spark, d.source, a0, a1)
        .join(sideAt(b, b1), expr(on), "inner"))
      else None
    val termB =
      if (b1 > b0) Some(sideAt(d.source, a0)
        .join(ColeChangeFeed.read(spark, b, b0, b1), expr(on), "inner"))
      else None
    (termA.toSeq ++ termB.toSeq).reduce(_ unionByName _)
  }

  /** Join-MV twin of [[recoverInflight]]: re-aggregate the crashed
    * range's touched keys ABSOLUTELY at the in-flight version pair — the
    * keys come from the same two-term delta the crashed refresh folded,
    * the values from the joined snapshot with no MV state in the math,
    * so the merge is idempotent whether or not the crashed one landed.
    */
  private def recoverInflightJoin(spark: SparkSession, mv: String,
      mvQualified: String, conf: Configuration, d: Definition,
      toVa: Long, toVb: Long): Unit = {
    val b = d.source2.get
    val on = d.joinOn.get
    val b0 = d.appliedVersion2.getOrElse(toVb)
    if (toVa > d.appliedVersion || toVb > b0) {
      val feed = prepare(
        joinDelta(spark, d, d.appliedVersion, toVa, b0, toVb), d)
      val keys = feed.select(d.groupBy.map(col): _*).distinct()
      def sideAt(path: String, v: Long) = spark.read.format("cole")
        .option("versionAsOf", v.toString).load(path)
      val snap = prepare(
        sideAt(d.source, toVa).join(sideAt(b, toVb), expr(on), "inner"), d)
      absoluteRows(spark, snap, keys, d)
        .foreach(r => mergeRows(spark, mv, mvQualified, conf, d, r._1))
    }
    writeDefinition(mv, conf, d.copy(appliedVersion = toVa,
      appliedVersion2 = Some(toVb), inflight = None, inflight2 = None))
  }

  /** The differential fold core shared by the single-source and the
    * JOIN refresh paths: `feed` is a PREPARED signed change stream
    * (source/joined columns + the feed's change-type label), `snap` the
    * PREPARED current logical state for the min/max affected-key
    * recompute. Writes `intent` BEFORE the merge (replaying a
    * differential merge would double-apply, so a crash must route the
    * next refresh through absolute recovery) and `done` after. Returns
    * (keys touched, keys recomputed, source rows re-aggregated).
    */
  private def foldFeed(spark: SparkSession, mv: String, mvQualified: String,
      conf: Configuration, d: Definition, feed: DataFrame, snap: DataFrame,
      intent: Definition, done: Definition): (Long, Long, Long) = {
    val isIns = col(ColeChangeFeed.ChangeTypeCol) === "insert"
    val signed: Column => Column = c => when(isIns, c).otherwise(-c)
    val deltaCols: Seq[Column] =
      sum(when(isIns, 1L).otherwise(-1L)).as("_d_cnt") +:
      max(when(isIns, lit(0)).otherwise(lit(1))).as("_d_hasdel") +:
      d.aggs.flatMap {
        case SumAgg(c, o) => Seq(sum(signed(dec(col(c)))).cast(SumType)
          .as(s"_d_sum_$o"))
        case AvgAgg(c, o) => Seq(sum(signed(dec(col(c)))).cast(SumType)
          .as(s"_d_sum_$o"))
        case MinAgg(c, o) => Seq(min(when(isIns, col(c))).as(s"_d_min_$o"))
        case MaxAgg(c, o) => Seq(max(when(isIns, col(c))).as(s"_d_max_$o"))
        case CountAgg(_) => Nil
      }
    val delta = feed.groupBy(d.groupBy.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
      .persist()
    try {
      val hasMinMax = d.aggs.exists {
        case _: MinAgg | _: MaxAgg => true; case _ => false
      }
      val keyEq = d.groupBy.map(k => col(s"m.`$k`") <=> col(s"d.`$k`"))
        .reduce(_ && _)

      // keys whose delta alone decides them (no delete, or no min/max)
      val deltaOnlyCond =
        if (hasMinMax) col("_d_hasdel") === 0 else lit(true)
      val deltaOnly = delta.filter(deltaOnlyCond).alias("d")
      // the old-values lookup must not scan the whole MV for a small
      // delta: the same per-column IN prefilter the recompute scan
      // uses lets the MV's stat skipping prune untouched files
      val dKeyRows = smallKeyRows(
        delta.filter(deltaOnlyCond).select(d.groupBy.map(col): _*))
      val mvNow = keyPrefilter(
        // branch="" opts out of the WAP read route: the differential
        // fold reads the MV's own MAIN state
        spark.read.format("cole").option("branch", "").load(mv)
          .alias("m"), "m",
        d.groupBy, dKeyRows)
      val joined = deltaOnly.join(mvNow, keyEq, "left")
      def newCnt = coalesce(col(s"m.`$CntCol`"), lit(0L)) + col("_d_cnt")
      val deltaOut: Seq[Column] = d.aggs.map {
        case CountAgg(o) => newCnt.as(o)
        case SumAgg(_, o) =>
          (coalesce(col(s"m.`$o`"), lit(0).cast(SumType)) +
            col(s"_d_sum_$o")).cast(SumType).as(o)
        case AvgAgg(_, o) =>
          ((coalesce(col(s"m.`${avgSumCol(o)}`"), lit(0).cast(SumType)) +
            col(s"_d_sum_$o")).cast(DoubleType) / newCnt).as(o)
        case MinAgg(_, o) => least(col(s"m.`$o`"), col(s"_d_min_$o")).as(o)
        case MaxAgg(_, o) =>
          greatest(col(s"m.`$o`"), col(s"_d_max_$o")).as(o)
      } ++ (newCnt.as(CntCol) +: d.aggs.collect { case AvgAgg(_, o) =>
        (coalesce(col(s"m.`${avgSumCol(o)}`"), lit(0).cast(SumType)) +
          col(s"_d_sum_$o")).cast(SumType).as(avgSumCol(o))
      })
      val deltaRows = joined.select(
        d.groupBy.map(k => col(s"d.`$k`").as(k)) ++ deltaOut ++
          Seq((newCnt <= 0).as(DeadCol)): _*)

      // keys that saw a delete under min/max: re-aggregate them from
      // the current logical state — delta math can't un-delete an extreme
      val (recomputeRows, nRecompute, nReagg) =
        if (!hasMinMax) (None, 0L, 0L)
        else {
          val recKeys = delta.filter(col("_d_hasdel") === 1)
            .select(d.groupBy.map(col): _*)
          absoluteRows(spark, snap, recKeys, d) match {
            case None => (None, 0L, 0L)
            case some => some.get match { case (rows, nk, nr) =>
              (Some(rows), nk, nr) }
          }
        }
      val mergeSource = recomputeRows.fold(deltaRows)(deltaRows.unionByName)

      writeDefinition(mv, conf, intent)
      val nTouched = mergeRows(spark, mv, mvQualified, conf, d, mergeSource)
      writeDefinition(mv, conf, done)
      (nTouched, nRecompute, nReagg)
    } finally delta.unpersist()
  }

  /** Fold a VERSIONED dimension's own changes into the MV at
    * O(affected keys): the dim's change feed (v`fromV` → v`toV`) names
    * the changed dim rows (old AND new images — an update is a
    * delete+insert pair), the facts that enrich through any of them are
    * located with one broadcast semi-join (IN-prefiltered on the join
    * key when the condition is a plain equality, so stat skipping
    * prunes the fact scan), and the union of their MV keys under the
    * OLD and the NEW enrichment is re-aggregated absolutely — the same
    * MV-state-free recompute the min/max delete lane uses, so the merge
    * is idempotent and a crash mid-sync simply re-runs it. The fact is
    * read at the MV's applied watermark: rows the feed will add later
    * aren't in the MV yet, and rows it will delete fold out under the
    * same (new) enrichment the recompute stored. At 100 TB a k-row dim
    * touch-up costs one key-pruned fact pass plus a k-keyed MERGE, not
    * a full MV rebuild. Returns (keys recomputed, source rows
    * re-aggregated).
    */
  private def dimDeltaSync(spark: SparkSession, mv: String,
      mvQualified: String, conf: Configuration, d: Definition,
      dimPath: String, on: String, fromV: Long, toV: Long,
      otherPins: Map[String, Long]): (Long, Long) = {
    val feed =
      try ColeChangeFeed.read(spark, dimPath, fromV, toV)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"the dimension at $dimPath changed (v$fromV -> v$toV) but its " +
            s"change feed for that range is not readable " +
            s"(${e.getMessage}) — resynchronize with " +
            "refresh_mv(..., full => true)", e)
      }
    val dimCols = spark.read.format("cole").load(dimPath).columns.toSeq
    val changed = feed.select(dimCols.map(col): _*).distinct()
    val factSnap = spark.read.format("cole")
      .option("versionAsOf", d.appliedVersion.toString).load(d.source)
    // plain-equality fast path: push the changed join-key values into the
    // fact scan as an IN so its stats prune untouched files; the
    // semi-join below keeps the match exact for ANY condition
    val EqRx = """^\s*(\w+)\s*=\s*(\w+)\s*$""".r
    val factCols = factSnap.columns.toSet
    val prefiltered = on match {
      case EqRx(a, b) =>
        val (factCol, dimCol) =
          if (factCols.contains(a) && dimCols.contains(b)) (a, b)
          else if (factCols.contains(b) && dimCols.contains(a)) (b, a)
          else (null, null)
        if (factCol == null) factSnap
        else {
          // overflow-check the RAW collected count BEFORE stripping nulls
          // (mirroring smallKeyRows): a truncated list that only dips
          // under the limit because nulls were filtered would silently
          // drop facts joining the uncollected keys. Nulls never match
          // the equality join, so they are safe to strip from the IN
          // list itself.
          val raw = changed.select(col(dimCol)).distinct()
            .limit(InPushLimit + 1).collect()
          if (raw.length > InPushLimit) factSnap
          else {
            val vals = raw.map(_.get(0)).filter(_ != null)
            factSnap.filter(col(factCol).isin(vals.toIndexedSeq: _*))
          }
        }
      case _ => factSnap
    }
    val affected = prefiltered.join(broadcast(changed), expr(on), "left_semi")
    // keys under BOTH enrichments: a changed dim row can move a fact's
    // contribution between keys (or across the WHERE boundary) — the old
    // key must re-aggregate (possibly to death) and the new key must
    // absorb it
    val keys = prepare(affected, d, otherPins + (dimPath -> fromV))
      .select(d.groupBy.map(col): _*)
      .unionByName(prepare(affected, d, otherPins + (dimPath -> toV))
        .select(d.groupBy.map(col): _*))
      .distinct()
    val snapNew = prepare(factSnap, d, otherPins + (dimPath -> toV))
    absoluteRows(spark, snapNew, keys, d) match {
      case None => (0L, 0L)
      case Some((rows, nk, nr)) =>
        mergeRows(spark, mv, mvQualified, conf, d, rows)
        (nk, nr)
    }
  }

  /** The per-dim version pins recorded in `d`'s fingerprints (versioned
    * dims only) — the one enrichment state recovery, dim-delta syncs and
    * the feed fold must all share.
    */
  private def recordedPinsOf(d: Definition): Map[String, Long] =
    d.dims.zip(d.dimFps).collect {
      case ((p, _), fp) if fp.startsWith("v") &&
        fp.drop(1).toLongOption.isDefined => p -> fp.drop(1).toLong
    }.toMap

  /** Re-apply the touched keys of a crashed refresh's range ABSOLUTELY:
    * their state is re-aggregated from the source as-of the in-flight
    * version with no reference to current MV values, so the merge is
    * idempotent whether or not the crashed merge landed. Dim reads are
    * pinned to the RECORDED fingerprinted versions: a dim commit landing
    * between the fingerprint check and recovery must not tear recovery's
    * enrichment away from the dim-delta sync's fromV→toV window.
    */
  private def recoverInflight(spark: SparkSession, mv: String,
      mvQualified: String, d: Definition, toV: Long,
      pins: Map[String, Long]): Unit = {
    val conf = ColeIO.driverConf()
    val feed = prepare(
      ColeChangeFeed.read(spark, d.source, d.appliedVersion, toV), d, pins)
    val keys = feed.select(d.groupBy.map(col): _*).distinct()
    val snap = prepare(spark.read.format("cole")
      .option("versionAsOf", toV.toString).load(d.source), d, pins)
    absoluteRows(spark, snap, keys, d)
      .foreach(r => mergeRows(spark, mv, mvQualified, conf, d, r._1))
    writeDefinition(mv, conf, d.copy(appliedVersion = toV, inflight = None))
  }

  /** The touched-key rows when there are few enough to push into scans
    * (one bounded collect), None above the limit.
    */
  private def smallKeyRows(keys: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val rows = keys.limit(InPushLimit + 1).collect()
    if (rows.length > InPushLimit) None else Some(rows)
  }

  /** Per-column IN prefilter over `df`'s aliased key columns — the
    * stat-skipping prune for key-targeted scans; identity when the key
    * set was too large to travel ([[smallKeyRows]] returned None). The
    * caller's null-safe join keeps the match exact either way.
    */
  private def keyPrefilter(df: DataFrame, alias: String,
      groupBy: Seq[String],
      keyRows: Option[Array[org.apache.spark.sql.Row]]): DataFrame =
    keyRows.fold(df) { rows =>
      groupBy.zipWithIndex.foldLeft(df) { case (acc, (k, i)) =>
        val vals = rows.map(_.get(i)).distinct
        val nonNull = vals.filter(_ != null)
        val cond =
          if (nonNull.isEmpty) col(s"$alias.`$k`").isNull
          else if (nonNull.length == vals.length)
            col(s"$alias.`$k`").isin(nonNull.toIndexedSeq: _*)
          else col(s"$alias.`$k`").isin(nonNull.toIndexedSeq: _*) ||
            col(s"$alias.`$k`").isNull
        acc.filter(cond)
      }
    }

  /** Absolute (MV-state-free) merge rows for `keysDf`: each key's full
    * re-aggregate over `snap`, plus explicit dead rows for keys with no
    * surviving source rows. None when the key set is empty. Returns
    * (rows, keys, source rows re-aggregated).
    */
  private def absoluteRows(spark: SparkSession, snap: DataFrame,
      keysDf: DataFrame, d: Definition)
      : Option[(DataFrame, Long, Long)] = {
    val keys = keysDf.persist()
    try {
      val nKeys = keys.count()
      if (nKeys == 0) return None
      val prefiltered = keyPrefilter(snap.alias("s"), "s", d.groupBy,
        if (nKeys <= InPushLimit) Some(keys.collect()) else None)
      val recKeyEq = d.groupBy.map(k => col(s"s.`$k`") <=> col(s"r.`$k`"))
        .reduce(_ && _)
      val affected = prefiltered.join(keys.alias("r"), recKeyEq, "leftsemi")
      val recAgg = fullAggregate(affected, d.groupBy, d.aggs).persist()
      val alive = recAgg.withColumn(DeadCol, lit(false))
      // a key with NO surviving source rows is dead — the aggregate
      // can't emit its key, so anti-join it back in
      val aliveKeyEq = d.groupBy.map(k => col(s"r.`$k`") <=> col(s"a.`$k`"))
        .reduce(_ && _)
      val deadKeys = keys.alias("r")
        .join(recAgg.alias("a"), aliveKeyEq, "left_anti")
      val dead = deadKeys.select(
        d.groupBy.map(k => col(s"r.`$k`").as(k)) ++
          d.aggs.map(a => lit(null).cast(
            recAgg.schema(a.out).dataType).as(a.out)) ++
          (lit(0L).as(CntCol) +: d.aggs.collect { case AvgAgg(_, o) =>
            lit(null).cast(SumType).as(avgSumCol(o)) }) :+
          lit(true).as(DeadCol): _*)
      val reagg = recAgg.agg(sum(col(CntCol))).head()
      val nRows = if (reagg.isNullAt(0)) 0L else reagg.getLong(0)
      Some((alive.unionByName(dead), nKeys, nRows))
    } finally keys.unpersist()
  }

  /** Stage `rows` beside the MV and MERGE them in (update / insert /
    * delete by the hidden dead flag). Returns the staged row count.
    */
  private def mergeRows(spark: SparkSession, mv: String,
      mvQualified: String, conf: Configuration, d: Definition,
      rows: DataFrame): Long = {
    // stage the merge source OUTSIDE the MERGE: its lineage reads the
    // MV itself, and a source that re-reads its own mid-rewrite target
    // is exactly the self-reference MERGE forbids
    val stage =
      s"$mv/_cole_mv_stage/${java.lang.Long.toHexString(System.nanoTime())}"
    rows.write.mode("overwrite").parquet(stage)
    try {
      val staged = spark.read.parquet(stage)
      val nTouched = staged.count()
      val view = "cole_mv_" + java.lang.Long.toHexString(System.nanoTime())
      staged.createOrReplaceTempView(view)
      try {
        val onCond = d.groupBy.map(k => s"t.`$k` <=> s.`$k`")
          .mkString(" AND ")
        val allCols = d.aggs.map(_.out) ++ (CntCol +:
          d.aggs.collect { case AvgAgg(_, o) => avgSumCol(o) })
        val setList = allCols.map(c => s"t.`$c` = s.`$c`").mkString(", ")
        val insCols = (d.groupBy ++ allCols).map(c => s"`$c`").mkString(", ")
        val insVals = (d.groupBy ++ allCols).map(c => s"s.`$c`")
          .mkString(", ")
        spark.sql(
          s"""MERGE INTO $mvQualified t USING $view s
             |ON $onCond
             |WHEN MATCHED AND s.`$DeadCol` THEN DELETE
             |WHEN MATCHED THEN UPDATE SET $setList
             |WHEN NOT MATCHED AND NOT s.`$DeadCol` THEN
             |  INSERT ($insCols) VALUES ($insVals)""".stripMargin)
        nTouched
      } finally spark.catalog.dropTempView(view)
    } finally {
      val (fs, _) = ColeIO.resolve(mv, conf)
      fs.delete(new HPath(s"$mv/_cole_mv_stage"), true)
    }
  }
}
