package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.sources.{Filter, In}

import graft.sources.cole.ColeFormat._

/** Which files and row groups of a COLE table a predicate can touch — the
  * Spark twin of the reference's `Predicate::canSkipPage` loop, decided
  * once on the driver for every caller: the row scan ([[ColeScan]]), the
  * pushed-aggregate scan ([[ColeAggScan]]), the ReplaceData group scan
  * ([[ColeGroupScan]]) and the native DML classification
  * ([[ColeRewrite.classify]]). Planning is metadata-only: footers come
  * from the driver cache, sidecars are read once per plan, and no data
  * file is opened.
  *
  * A file survives when every rule keeps it, in this order:
  *   - its deletion vector (pinned, live, or none) leaves a live row;
  *   - its bucket directory holds a bucket the predicates pin, per era;
  *   - the columns EVERY file serves from its directory keep its values,
  *     and so do the columns THIS file serves from its directory under
  *     partition-spec evolution (the dual lane);
  *   - the unit ordinals derived from timestamp predicates keep its
  *     temporal directory, when it carries one;
  *   - it stores every predicate column, or the column has an
  *     exists-default (an absent column reads NULL, which no predicate
  *     accepts);
  * and then its row groups survive page stats, runtime IN sets, skip-only
  * disjunctions and bloom sidecars. A claimed IsNotNull over a null-free
  * column is dropped for the file, so null-free files keep the
  * predicate-free fast paths.
  */
private[cole] object ColePlan {

  /** A surviving file. `preds`: the predicates its rows evaluate (the
    * directory-decided ones and vacuous IsNotNull dropped). `groups`: its
    * surviving row groups, ascending; `full`: per surviving group, whether
    * the stats prove every row passes every predicate. `deleted`: local
    * deletion-vector ordinals per row group of the file, or null.
    */
  final case class File(info: ColeMetaCache.FileInfo, preds: Array[ColePredicate],
      groups: Array[Int], full: Array[Boolean], deleted: Array[Array[Int]]) {
    def deletedOf(rg: Int): Array[Int] = if (deleted == null) null else deleted(rg)
    /** Every row of the file passes: every row group survives, fully. */
    def whole: Boolean = groups.length == info.meta.rowGroups.length && full.forall(identity)
  }

  /** `sidecars`: when live deletion vectors were consulted, the identity
    * (len, mtime) of each sidecar read, statted before its ordinals.
    */
  final case class Plan(infos: Seq[ColeMetaCache.FileInfo], files: Seq[File],
      sidecars: Option[Map[String, (Long, Long)]])

  /** Plans `infos` of `table` against claimed `preds`. `snapshot` pins the
    * deletion vectors, bucket eras, temporal specs and row-group
    * restriction of a time-travel, branch or feed read; None reads the
    * live table's. `runtime`: join-produced filters that arrived after
    * planning — they prune, but rows never evaluate them. `skipOnly`:
    * residual cross-column ORs, pruning row groups by stats alone.
    * `fileKeep` restricts the plan to some files (one micro-batch).
    */
  def plan(table: String, conf: Configuration, infos: Seq[ColeMetaCache.FileInfo],
      snapshot: Option[ColeSnapshot], preds: Array[ColePredicate],
      runtime: Array[Filter] = Array.empty, skipOnly: Array[ColeOrSkip] = Array.empty,
      fileKeep: String => Boolean = _ => true): Plan = {
    // the directory-served split: columns every file serves from its
    // directory decide files by value; the rest are data columns, which
    // a file may still serve from its directory mid-evolution
    val dirAlways: Set[String] =
      if (infos.isEmpty) Set.empty
      else infos.iterator.map(_.partValues.iterator.map(_._1).toSet).reduce(_ & _)
    // runtime IN on a data column becomes one numeric IN: a per-value
    // range check against the stats, and a disjunction wherever it pins
    // buckets or ordinals
    val runtimePreds: Array[ColePredicate] = runtime.flatMap {
      case f @ In(c, _) if dirAlways(c) => ColePredicate.fromFilter(f)
      case In(c, vs) =>
        val nums = vs.flatMap(ColePredicate.num)
        if (nums.length == vs.length) Some(ColePredicate(c, "in", 0L, values = nums)) else None
      case f => ColePredicate.fromFilter(f)
    }
    val (partPreds, dataPreds) = preds.partition(p => dirAlways(p.column))
    val (partRuntime, dataRuntime) = runtimePreds.partition(p => dirAlways(p.column))
    val byDir = partPreds ++ partRuntime
    val bucketKeeps = ColeBucket.keepsByEra(
      snapshot.fold(ColeBucket.readHistory(table, conf))(_.bucketHistory),
      (dataPreds ++ dataRuntime).toSeq)
    val temporalPreds = ColeTemporal.derivePartPreds((dataPreds ++ dataRuntime).toSeq,
      snapshot.flatMap(_.temporalSpecs).getOrElse(ColeTemporal.readSpecs(table, conf)))
    lazy val defaulted = ColeDefaults.existsDefaults(table, conf).keySet
    val (vectors, sidecars) = deletionVectors(table, conf, infos, snapshot)
    def keeps(pv: Map[String, String], p: ColePredicate): Boolean =
      pv.get(p.column).exists(ColePredicate.partitionKeeps(p, _))
    val files = infos.flatMap { info =>
      val pv = info.partValues.toMap
      val meta = info.meta
      val dv = vectors.getOrElse(info.path, null)
      // the file's own directory serves these columns: it decides them whole
      val (dirPs, filePs) = dataPreds.partition(p => pv.contains(p.column))
      val (dirRt, fileRt) = dataRuntime.partition(p => pv.contains(p.column))
      lazy val nameToIdx = meta.columns.map(_.name).zipWithIndex.toMap
      if (!fileKeep(info.path) ||
          (dv != null && dv.iterator.map(a => if (a == null) 0 else a.length).sum == meta.totalRows) ||
          ColeBucket.pruneFile(pv, bucketKeeps) ||
          !byDir.forall(keeps(pv, _)) ||
          !(dirPs ++ dirRt).forall(keeps(pv, _)) ||
          // derived ordinals prune only files carrying the derived key
          !temporalPreds.forall(p => pv.get(p.column).forall(ColePredicate.partitionKeeps(p, _))) ||
          filePs.exists(p => !nameToIdx.contains(p.column) && !defaulted(p.column))) None
      else {
        val ps = filePs.filter(p => !p.isNotNullClaim ||
          nameToIdx.get(p.column).exists(meta.columnHasNulls))
        val all = ps ++ fileRt
        val allowed = snapshot.flatMap(_.rgKeep.get(info.path))
        val groups = meta.rowGroups.indices.filter { rgIdx =>
          val rg = meta.rowGroups(rgIdx)
          allowed.forall(_.contains(rgIdx)) &&
            !ColePredicate.skipRowGroup(rg, nameToIdx, all) &&
            !skipOnly.exists(_.skips(rg, nameToIdx, pv)) &&
            !ColeBloomIndex.skips(info.path, info.len, info.mtime, rgIdx, ps, conf)
        }.toArray
        if (groups.isEmpty) None
        else Some(File(info, ps, groups,
          groups.map(g => ColePredicate.fullyKeepsRowGroup(meta.rowGroups(g), nameToIdx, all)),
          dv))
      }
    }
    Plan(infos, files, sidecars)
  }

  /** Local ordinals per row group of each file with a deletion vector:
    * the snapshot's pinned vectors, or the live sidecars of a vector-mode
    * table — never those beside a clone's foreign files, which are the
    * source's live state.
    */
  private def deletionVectors(table: String, conf: Configuration,
      infos: Seq[ColeMetaCache.FileInfo], snapshot: Option[ColeSnapshot])
      : (Map[String, Array[Array[Int]]], Option[Map[String, (Long, Long)]]) =
    snapshot match {
      case Some(s) =>
        (infos.flatMap(i => s.dvs.get(i.path).map(o => i.path -> ColeDv.localize(i.meta, o))).toMap,
          None)
      case None if ColeDv.vectorModeFor(table, conf) =>
        val (fs, _) = ColeIO.resolve(table, conf)
        val foreign: String => Boolean =
          if (ColeClone.read(table, conf).isEmpty) _ => false
          else ColeClone.isForeign(table, _, conf)
        val read = infos.flatMap { i =>
          if (foreign(i.path)) None
          else ColeDv.readWithId(fs, i.path, i.len, i.mtime).map { case (id, o) =>
            (i.path, id, ColeDv.localize(i.meta, o)) }
        }
        (read.map(r => r._1 -> r._3).toMap, Some(read.map(r => r._1 -> r._2).toMap))
      case None => (Map.empty, None)
    }
}

/** Planning-only disjunction over branches on (possibly) different
  * columns — see [[ColePredicate.skipOnlyFromFilter]]. Skips a row group
  * when every branch is provably impossible there: data-column branches
  * from page stats, partition-column branches from the file's constant.
  * An undecidable branch (unknown column, no pages) keeps the group.
  */
private[cole] final case class ColeOrSkip(branches: Array[ColePredicate]) {
  def skips(rg: RowGroupMeta, nameToIdx: Map[String, Int],
      partValues: Map[String, String]): Boolean =
    branches.forall { p =>
      if (partValues.contains(p.column))
        !ColePredicate.partitionKeeps(p, partValues(p.column))
      else nameToIdx.get(p.column).exists { ci =>
        val pages = rg.chunks(ci).pages
        pages.nonEmpty && pages.forall(ph => p.canSkip(ph.stats))
      }
    }

  override def toString: String = branches.mkString("(", " OR ", ")")
}
