package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Copy-on-write `DELETE WHERE` (ColeDelete): correctness of the kept
  * rows, byte-identity of untouched files (no write amplification),
  * layout preservation on bucketed tables, whole-file drops, NULL
  * semantics, and loud rejection of races and unsupported conditions.
  */
class ColeDeleteSpec extends AnyFunSuite {

  private lazy val warehouse =
    Files.createTempDirectory("cole_delete_wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.dwh", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.dwh.warehouse", warehouse)
    s
  }

  private def fileState(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val cs = Option(f.listFiles()).getOrElse(Array.empty).toSeq
      cs.filter(_.isFile) ++ cs.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".col"))
      .map { f =>
        val crc = new java.util.zip.CRC32()
        crc.update(Files.readAllBytes(f.toPath))
        f.getAbsolutePath -> (f.length(), crc.getValue)
      }.toMap
  }

  test("SQL DELETE WHERE through the catalog: exact survivors") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dwh.db")
    (0L until 10000L).map(i => (i, (i % 7).toInt, s"tag-${i % 3}"))
      .toDF("id", "grp", "tag").createOrReplaceTempView("del_src")
    spark.sql("CREATE TABLE dwh.db.t AS SELECT * FROM del_src")
    spark.sql("DELETE FROM dwh.db.t WHERE grp = 3 AND id >= 5000")
    val left = spark.table("dwh.db.t")
    assert(left.filter(col("grp") === 3 && col("id") >= 5000).count() === 0)
    val expect = (0L until 10000L).count(i => !(i % 7 == 3 && i >= 5000))
    assert(left.count() === expect)
    // delete is idempotent: re-running removes nothing further
    spark.sql("DELETE FROM dwh.db.t WHERE grp = 3 AND id >= 5000")
    assert(spark.table("dwh.db.t").count() === expect)
  }

  test("untouched files stay byte-identical; pruned-out files never rewrite") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/bi"
    // 4 sorted row groups per file across multiple files, disjoint ranges
    (0L until 20000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("cole").mode("overwrite")
      .option("rowGroupSize", "2000").save(dir)
    val before = fileState(dir)
    assert(before.size >= 4)
    spark.sql(s"DELETE FROM dwh.db.bi WHERE id >= 1000 AND id < 1500")
    val after = fileState(dir)
    // every file whose range misses [1000, 1500) is BYTE-identical
    val changed = before.keySet.filterNot(k => after.get(k).contains(before(k)))
    assert(changed.size === 1,
      s"exactly one file intersects the predicate, changed: $changed")
    assert(spark.table("dwh.db.bi").count() === 19500)
    assert(spark.table("dwh.db.bi")
      .filter(col("id") >= 1000 && col("id") < 1500).count() === 0)
  }

  test("whole-file drop: fully-matching files delete without a rewrite") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/wd"
    (0L until 8000L).map(i => (i, s"r$i")).toDF("id", "name")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("cole").mode("overwrite").save(dir)
    val stats = ColeDelete.deleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.LessThan("id", 2000L)),
      ColeIO.driverConf())
    assert(stats.filesDropped >= 1, s"expected whole-file drops, got $stats")
    assert(stats.filesRewritten <= 1, s"at most the boundary file rewrites: $stats")
    assert(stats.rowsDeleted === 2000L)
    assert(spark.read.format("cole").load(dir).count() === 6000)
    assert(spark.read.format("cole").load(dir).agg(min("id")).head.getLong(0) === 2000L)
  }

  test("bucketed table: layout, sort order and SPJ survive a delete") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE dwh.db.bk (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 8000L).map(i => (i, i * 0.5)).toDF("k", "v")
      .writeTo("dwh.db.bk").append()
    val dir = s"$warehouse/db/bk"
    val before = fileState(dir)
    // delete keys that all hash to the SAME bucket: other buckets must
    // remain byte-identical
    val victims = (0L until 8000L).filter(k => ColeBucket.bucketOf(k, 4) == 2).take(300)
    spark.sql(s"DELETE FROM dwh.db.bk WHERE k IN (${victims.mkString(",")})")
    val after = fileState(dir)
    val changedDirs = before.keySet.filterNot(k => after.get(k).contains(before(k)))
      .map(p => new java.io.File(p).getParentFile.getName)
    assert(changedDirs === Set("_bucket=2"),
      s"only bucket 2 may change, got $changedDirs")
    assert(ColeBucket.readSpec(dir, ColeIO.driverConf()) === Some((4, Seq("k"))))
    assert(spark.table("dwh.db.bk").count() === 8000 - victims.size)
    // rewritten bucket files are still SORTED by the bucket key
    after.keys.filter(_.contains("_bucket=2")).foreach { f =>
      val r = new ColeFileReader(f, ColeIO.driverConf())
      try {
        val ki = r.meta.columns.indexWhere(_.name == "k")
        r.meta.rowGroups.indices.foreach { rg =>
          val ks = r.readChunk(rg, ki).longs
          assert(ks.zip(ks.tail).forall { case (a, b) => a <= b },
            s"bucket file $f must stay sorted after delete")
        }
      } finally r.close()
    }
    // and the bucketed table still storage-partition-joins with zero
    // Exchange against a same-bucketed sibling
    spark.sql("CREATE TABLE dwh.db.bk2 (k BIGINT, w DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 8000L by 2).map(i => (i, i * 2.0)).toDF("k", "w")
      .writeTo("dwh.db.bk2").append()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("dwh.db.bk").join(spark.table("dwh.db.bk2"), "k")
      def countEx(p: org.apache.spark.sql.execution.SparkPlan): Int =
        (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) 1 else 0) +
          p.children.map(countEx).sum + (p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              countEx(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              countEx(q.plan)
            case _ => 0
          })
      j.collect()
      assert(countEx(j.queryExecution.executedPlan) === 0,
        s"SPJ must survive the delete:\n${j.queryExecution.executedPlan}")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("NULL in the condition column keeps the row (SQL WHERE-true semantics)") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/nl"
    Seq[(java.lang.Long, java.lang.Double)]((1L, 10.0), (2L, null),
      (3L, 30.0), (4L, null), (5L, 50.0))
      .toDF("id", "v")
      .write.format("cole").mode("overwrite").save(dir)
    spark.sql("DELETE FROM dwh.db.nl WHERE v > 5.0")
    val ids = spark.table("dwh.db.nl").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 4L), s"NULL-v rows must survive, got $ids")
  }

  test("non-convertible conditions route to the group path; races are rejected loudly") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/rj"
    (0L until 100L).map(i => (i, s"s$i")).toDF("id", "txt")
      .write.format("cole").mode("overwrite").save(dir)
    // cross-column OR cannot convert for the metadata fast path — since
    // round 8 it falls through to the group-based row-level rewrite
    // (ColeRowLevelOperation) and still deletes row-exactly
    spark.sql("DELETE FROM dwh.db.rj WHERE id = 1 OR txt = 'never'")
    assert(spark.table("dwh.db.rj").count() === 99)
    assert(spark.table("dwh.db.rj").filter(col("id") === 1L).count() === 0)
    spark.sql("INSERT INTO dwh.db.rj VALUES (1, 's1')") // restore for below
    // concurrent write INSIDE the delete's window (after classification,
    // before the swap) must abort loudly and leave the table untouched
    val before = fileState(dir)
    ColeRewrite.raceWindow = () => before.keys.foreach { p =>
      val f = new java.io.File(p)
      f.setLastModified(f.lastModified() + 60000)
    }
    try {
      val r = intercept[Exception] {
        ColeDelete.deleteWhere(spark, dir,
          Array(org.apache.spark.sql.sources.LessThan("id", 10L)),
          ColeIO.driverConf())
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(r).exists(m => m != null && m.contains("concurrent write")),
        r.toString)
    } finally ColeRewrite.raceWindow = () => ()
    // nothing was renamed or deleted: table byte-identical
    assert(fileState(dir) === before, "aborted delete must leave the table untouched")
    assert(spark.table("dwh.db.rj").count() === 100)
    // and with the writer gone, the same delete succeeds
    spark.sql("DELETE FROM dwh.db.rj WHERE id < 10")
    assert(spark.table("dwh.db.rj").count() === 90)
  }

  test("DELETE on a wide (precision>18) decimal predicate takes the metadata path") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val dir = s"$warehouse/db/wdel"
    (0L until 2000L).map(i => (i, i)).toDF("id", "raw")
      .select(col("id"),
        (col("raw").cast(DecimalType(25, 4)) *
          lit(1000000000L).cast(DecimalType(10, 0)))
          .cast(DecimalType(25, 4)).as("ledger"))
      .coalesce(1)
      .write.format("cole").mode("overwrite").save(dir)
    // wide comparisons convert to int128 ColePredicates, so canDeleteWhere
    // accepts and ColeDelete classifies/evaluates in the wide domain
    spark.sql("DELETE FROM dwh.db.wdel WHERE ledger < CAST('500000000000.0000' AS DECIMAL(25,4))")
    val left = spark.table("dwh.db.wdel")
    assert(left.count() === 2000 - 500) // raw*1e9 < 5e11 ⇔ raw < 500
    assert(left.agg(min("id")).head.getLong(0) === 500L)
    // survivors' wide values intact
    assert(left.filter(col("id") === 500L).select("ledger").head.getDecimal(0)
      === new java.math.BigDecimal("500000000000.0000"))
  }

  test("deleting every row leaves a resolvable empty table") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/em"
    (0L until 500L).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.format("cole").mode("overwrite").save(dir)
    spark.sql("DELETE FROM dwh.db.em WHERE id >= 0")
    assert(spark.table("dwh.db.em").count() === 0)
    assert(spark.table("dwh.db.em").schema.fieldNames.toSeq === Seq("id", "v"))
    // and the emptied table accepts new inserts
    spark.sql("INSERT INTO dwh.db.em VALUES (7, 7.5)")
    assert(spark.table("dwh.db.em").count() === 1)
  }

  test("re-run DELETE (zero matches) skips the speculative rewrite entirely") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/noop"
    // two-column conjunction whose per-column chunk stats CANNOT
    // disprove it after the first run (R rows remain with id >= 100,
    // id < 100 rows remain with other flags) — the file stays a
    // rewrite candidate forever, the idempotent-re-run steady state
    (0L until 1000L).map(i => (i, if (i % 4 == 0) "R" else "A"))
      .toDF("id", "flag")
      .write.format("cole").mode("overwrite").save(dir)
    spark.sql("DELETE FROM dwh.db.noop WHERE flag = 'R' AND id < 100")
    val survivors = spark.table("dwh.db.noop").count()
    val state = fileState(dir)
    val before = ColeDelete.noopRewriteSkips.get()
    // the re-run matches nothing: phase-1 selection (predicate columns
    // only) must short-circuit — no writer opened, no replacement
    // bytes written-then-discarded (r17-opt), table bytes untouched
    spark.sql("DELETE FROM dwh.db.noop WHERE flag = 'R' AND id < 100")
    assert(ColeDelete.noopRewriteSkips.get() > before,
      "the zero-match re-run should take the phase-1 no-op short-circuit")
    assert(fileState(dir) === state, "a no-op DELETE must not touch a byte")
    assert(spark.table("dwh.db.noop").count() === survivors)
  }

  test("partial-match rewrite splices untouched row groups byte-identically") {
    val s = spark
    import s.implicits._
    val dir = s"$warehouse/db/splice"
    // ONE file, four sorted row groups; long + double + dict-able string
    // so the v2 footer tails (SUMS, STRB, NDV) all exercise
    (0L until 8000L).map(i => (i, i * 0.5, s"tag-${i % 3}"))
      .toDF("id", "v", "tag")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("cole").mode("overwrite")
      .option("rowGroupSize", "2000").save(dir)
    val srcFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".col")).head.getAbsolutePath
    val (srcMeta, srcBytes, srcSums) = {
      val r = new ColeFileReader(srcFile, ColeIO.driverConf())
      try {
        val bytes = r.meta.rowGroups.indices.map(rg =>
          r.meta.columns.indices.map(ci => r.readChunkBytes(rg, ci)))
        val sums = r.meta.rowGroups.indices.map(rg =>
          r.meta.columns.indices.map(ci => r.meta.chunkSum(rg, ci)))
        (r.meta, bytes, sums)
      } finally r.close()
    }
    assert(srcMeta.rowGroups.size === 4)
    val spliced0 = ColeDelete.splicedRowGroups.get()
    // matches only inside group 1 ([2000, 4000)): groups 0, 2, 3 splice
    spark.sql("DELETE FROM dwh.db.splice WHERE id >= 2500 AND id < 3000")
    assert(ColeDelete.splicedRowGroups.get() - spliced0 === 3L,
      "exactly the three untouched groups must take the raw-splice lane")
    // reader-level equivalence: exact survivors, in order
    val left = spark.table("dwh.db.splice")
    assert(left.count() === 7500)
    assert(left.filter(col("id") >= 2500 && col("id") < 3000).count() === 0)
    assert(left.agg(sum("id"), sum("v")).head ===
      org.apache.spark.sql.Row(
        (0L until 8000L).filterNot(i => i >= 2500 && i < 3000).sum,
        (0L until 8000L).filterNot(i => i >= 2500 && i < 3000).map(_ * 0.5).sum))
    // byte-level equivalence: the replacement's groups 0, 2, 3 carry the
    // SOURCE's stored chunk bytes verbatim (offsets rebase in the footer
    // only), its footer sums equal the source's for those groups, and
    // its page headers (incl. CRCs) are the source's
    val repFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".col")).head.getAbsolutePath
    assert(repFile != srcFile, "the file must have been rewritten")
    val r2 = new ColeFileReader(repFile, ColeIO.driverConf())
    try {
      assert(r2.meta.rowGroups.size === 4)
      assert(r2.meta.rowGroups(1).numRows === 1500) // 2000 minus [2500,3000)
      for ((srcRg, repRg) <- Seq((0, 0), (2, 2), (3, 3))) {
        assert(r2.meta.rowGroups(repRg).numRows ===
          srcMeta.rowGroups(srcRg).numRows)
        r2.meta.columns.indices.foreach { ci =>
          assert(java.util.Arrays.equals(
            r2.readChunkBytes(repRg, ci), srcBytes(srcRg)(ci).asInstanceOf[Array[Byte]]),
            s"group $srcRg column $ci must splice byte-identically")
          assert(r2.meta.rowGroups(repRg).chunks(ci).pages ===
            srcMeta.rowGroups(srcRg).chunks(ci).pages,
            s"group $srcRg column $ci page headers must copy verbatim")
          assert(r2.meta.chunkSum(repRg, ci) === srcSums(srcRg)(ci),
            s"group $srcRg column $ci footer sum must copy exactly")
        }
      }
    } finally r2.close()
    // idempotence: the re-run takes the no-op lane and touches nothing
    val state = fileState(dir)
    spark.sql("DELETE FROM dwh.db.splice WHERE id >= 2500 AND id < 3000")
    assert(fileState(dir) === state)
  }
}
