package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Snapshot versioning + time travel: every commit appends a version
  * record, removed files retire instead of deleting, and
  * `versionAsOf` / `timestampAsOf` reads (and SQL `VERSION AS OF`
  * through the catalog) reproduce any version byte-for-byte —
  * across appends, truncating overwrites, row-level DELETE/UPDATE,
  * compaction, and rollback.
  */
class ColeVersionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.colev", classOf[ColeCatalog].getName)
    .config("spark.sql.catalog.colev.warehouse",
      Files.createTempDirectory("cole_ver_wh").toString)
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private def conf = ColeIO.driverConf()
  private def li = Tables.lineitem(spark, sfDir)
    .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")

  private def readAsOf(dir: String, v: Long) =
    spark.read.format("cole").option("versionAsOf", v.toString).load(dir)

  test("append history: every version readable, current unchanged") {
    val dir = Files.createTempDirectory("cole_ver_append").toString
    li.filter(col("l_orderkey") <= 500).coalesce(1)
      .write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf) // v1 = baseline
    val v1Rows = spark.read.format("cole").load(dir).count()

    li.filter(col("l_orderkey") > 500 && col("l_orderkey") <= 1000).coalesce(1)
      .write.format("cole").mode("append").save(dir) // v2
    li.filter(col("l_orderkey") > 1000 && col("l_orderkey") <= 1500).coalesce(1)
      .write.format("cole").mode("append").save(dir) // v3

    assert(ColeVersions.currentVersion(dir, conf) === 3L)
    assert(readAsOf(dir, 1).count() === v1Rows)
    assert(readAsOf(dir, 2).count() ===
      li.filter(col("l_orderkey") <= 1000).count())
    assert(readAsOf(dir, 3).count() ===
      li.filter(col("l_orderkey") <= 1500).count())
    // current read (no option) = latest
    assert(spark.read.format("cole").load(dir).count() ===
      readAsOf(dir, 3).count())
    val ops = ColeVersions.records(dir, conf).map(_.op)
    assert(ops === Seq("baseline", "append", "append"))
  }

  test("row-level DELETE retires; the pre-delete version reads back exactly") {
    val dir = Files.createTempDirectory("cole_ver_delete").toString
    li.coalesce(2).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    val before = spark.read.format("cole").load(dir)
      .agg(sum("l_quantity"), count(lit(1))).head()

    ColeDelete.deleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.GreaterThan("l_orderkey", 750L)),
      conf) // v2
    val afterCnt = spark.read.format("cole").load(dir).count()
    assert(afterCnt === li.filter(col("l_orderkey") <= 750).count())

    // v1 = the full pre-delete table, served partly from retired bytes
    val v1 = readAsOf(dir, 1).agg(sum("l_quantity"), count(lit(1))).head()
    assert(v1 === before)
    assert(ColeVersions.records(dir, conf).last.op === "delete")
    // the log agrees with the directory
    val (missing, unexpected) = ColeVersions.audit(dir, conf)
    assert(missing.isEmpty && unexpected.isEmpty)
  }

  test("truncating overwrite keeps the old version; timestampAsOf resolves") {
    val dir = Files.createTempDirectory("cole_ver_ovw").toString
    li.filter(col("l_returnflag") === "A").coalesce(1)
      .write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    val aCnt = spark.read.format("cole").load(dir).count()
    Thread.sleep(20)
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(20)
    li.filter(col("l_returnflag") === "R").coalesce(1)
      .write.format("cole").mode("overwrite").save(dir) // v2

    assert(spark.read.format("cole").load(dir).count() ===
      li.filter(col("l_returnflag") === "R").count())
    assert(readAsOf(dir, 1).count() === aCnt)
    val tt = spark.read.format("cole")
      .option("timestampAsOf", betweenTs.toString).load(dir)
    assert(tt.count() === aCnt)
    assert(ColeVersions.records(dir, conf).last.op === "overwrite")
  }

  test("filters and column pruning still work against a snapshot") {
    val dir = Files.createTempDirectory("cole_ver_scan").toString
    li.coalesce(2).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    ColeDelete.deleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.LessThan("l_orderkey", 750L)),
      conf)
    val expect = li.filter(col("l_orderkey") < 500)
      .agg(sum("l_quantity").as("s")).head().get(0)
    // the deleted range only exists in the snapshot
    val got = readAsOf(dir, 1).filter(col("l_orderkey") < 500)
      .select("l_quantity").agg(sum("l_quantity").as("s")).head().get(0)
    assert(got === expect)
  }

  test("rollback is a new commit; rolled-over versions stay readable") {
    val dir = Files.createTempDirectory("cole_ver_rb").toString
    li.filter(col("l_orderkey") <= 500).coalesce(1)
      .write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf) // v1
    li.filter(col("l_orderkey") > 500 && col("l_orderkey") <= 1000).coalesce(1)
      .write.format("cole").mode("append").save(dir) // v2
    val v1Cnt = readAsOf(dir, 1).count()
    val v2Cnt = readAsOf(dir, 2).count()

    val v3 = ColeVersions.rollback(dir, conf, 1)
    assert(v3 === 3L)
    assert(spark.read.format("cole").load(dir).count() === v1Cnt)
    // history is append-only: v2 still reads back after the rollback
    assert(readAsOf(dir, 2).count() === v2Cnt)
    val (missing, unexpected) = ColeVersions.audit(dir, conf)
    assert(missing.isEmpty && unexpected.isEmpty)
  }

  test("vacuumRetired expires old snapshots loudly, never touches live data") {
    val dir = Files.createTempDirectory("cole_ver_vac").toString
    li.coalesce(1).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    ColeDelete.deleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.GreaterThan("l_orderkey", 750L)),
      conf)
    val liveCnt = spark.read.format("cole").load(dir).count()
    assert(readAsOf(dir, 1).count() > liveCnt)

    // nothing young enough to expire yet
    assert(ColeVersions.vacuumRetired(dir, conf, olderThanMs = 3600_000L) === 0)
    assert(readAsOf(dir, 1).count() > liveCnt)
    // TTL 0: every removed file's record is in the past → retired bytes go
    val removed = ColeVersions.vacuumRetired(dir, conf, olderThanMs = -1L)
    assert(removed >= 1)
    assert(spark.read.format("cole").load(dir).count() === liveCnt)
    val e = intercept[IllegalStateException] { readAsOf(dir, 1).count() }
    assert(e.getMessage.contains("no longer readable"))
  }

  test("audit reports out-of-band mutation") {
    val dir = Files.createTempDirectory("cole_ver_audit").toString
    li.coalesce(1).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    val (fs, _) = ColeIO.resolve(dir, conf)
    val f = ColeIO.listStatus(dir, conf).head.getPath
    fs.delete(f, false) // behind the connector's back
    val (missing, unexpected) = ColeVersions.audit(dir, conf)
    assert(missing === Seq(f.getName) && unexpected.isEmpty)
  }

  test("concurrent commits CAS on the sequence: no version lost") {
    val dir = Files.createTempDirectory("cole_ver_cas").toString
    li.limit(10).coalesce(1).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    val threads = (1 to 4).map { i =>
      new Thread(() => (1 to 5).foreach { j =>
        ColeVersions.commitIfEnabled(dir, conf, s"t$i-$j",
          Seq(s"fake-$i-$j.col"), Seq.empty)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val recs = ColeVersions.records(dir, conf)
    assert(recs.map(_.version) === (1L to 21L)) // baseline + 20, gap-free
    assert(recs.count(_.op.startsWith("t")) === 20)
  }

  test("catalog: versioned=true from CREATE; SQL UPDATE then VERSION AS OF") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS colev.ns")
    spark.sql(
      """CREATE TABLE colev.ns.vt (id BIGINT, qty BIGINT, flag STRING)
        |USING cole TBLPROPERTIES ('versioned'='true')""".stripMargin)
    spark.sql(
      "INSERT INTO colev.ns.vt VALUES (1, 10, 'A'), (2, 20, 'B'), (3, 30, 'A')")
    spark.sql("UPDATE colev.ns.vt SET qty = qty + 100 WHERE flag = 'A'")

    val now = spark.sql("SELECT sum(qty) FROM colev.ns.vt").head().getLong(0)
    assert(now === 10 + 100 + 20 + 30 + 100)
    // v2 = post-INSERT, pre-UPDATE
    val old = spark.sql("SELECT sum(qty) FROM colev.ns.vt VERSION AS OF 2")
      .head().getLong(0)
    assert(old === 60)
    // the snapshot relation rejects writes
    val e = intercept[Exception] {
      spark.sql("INSERT INTO colev.ns.vt VERSION AS OF 2 VALUES (9, 9, 'Z')")
    }
    assert(e.getMessage.toLowerCase.contains("time travel") ||
      e.getMessage.toLowerCase.contains("snapshot") ||
      e.getMessage.toLowerCase.contains("syntax"))
  }

  test("metadata tables: $history mirrors the log, $files the live inventory") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS colev.ns")
    spark.sql(
      """CREATE TABLE colev.ns.mt (id BIGINT, flag STRING)
        |USING cole TBLPROPERTIES ('versioned'='true')""".stripMargin)
    spark.sql("INSERT INTO colev.ns.mt VALUES (1, 'A'), (2, 'B')")
    spark.sql("INSERT INTO colev.ns.mt VALUES (3, 'C')")

    val hist = spark.sql(
      "SELECT version, operation, files_added FROM colev.ns.`mt$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(hist.map(_._2).toSeq === Seq("baseline", "append", "append"))
    assert(hist.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(hist.drop(1).forall(_._3 >= 1))
    // metadata composes with SQL like any table
    val appends = spark.sql(
      "SELECT COUNT(*) FROM colev.ns.`mt$history` WHERE operation = 'append'")
      .head().getLong(0)
    assert(appends === 2L)

    val files = spark.sql(
      "SELECT file, size_bytes, row_count FROM colev.ns.`mt$files`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(files.map(_._3).sum === 3L)
    assert(files.forall(f => f._1.endsWith(".col") && f._2 > 0))
  }

  test("catalog reads honor versionAsOf/timestampAsOf as plain options") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS colev.ns")
    spark.sql(
      """CREATE TABLE colev.ns.ot (id BIGINT, v BIGINT)
        |USING cole TBLPROPERTIES ('versioned'='true')""".stripMargin)
    spark.sql("INSERT INTO colev.ns.ot VALUES (1, 10), (2, 20)") // v2
    spark.sql("INSERT INTO colev.ns.ot VALUES (3, 30)") // v3

    // DataFrameReader options flow to the catalog table's scan builder:
    // the option spelling and the SQL VERSION AS OF spelling agree
    assert(spark.read.option("versionAsOf", "2").table("colev.ns.ot")
      .count() === 2L)
    assert(spark.read.table("colev.ns.ot").count() === 3L)
    assert(spark.read.option("versionAsOf", "2").table("colev.ns.ot")
      .agg(sum("v")).head().getLong(0) === 30L)
  }

  test("CALL cole.system.*: maintenance procedures as SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS colev.ns")
    spark.sql("CREATE TABLE colev.ns.pt (id BIGINT, flag STRING) USING cole")
    spark.sql("INSERT INTO colev.ns.pt VALUES (1, 'A'), (2, 'B')")
    // enable versioning via CALL, mutate, roll back via CALL
    val v0 = spark.sql("CALL colev.system.versioning('ns.pt')").head().getLong(0)
    assert(v0 === 1L)
    spark.sql("INSERT INTO colev.ns.pt VALUES (3, 'C')")
    assert(spark.table("colev.ns.pt").count() === 3L)
    val v2 = spark.sql("CALL colev.system.rollback('ns.pt', 1)").head().getLong(0)
    assert(v2 === 3L)
    assert(spark.table("colev.ns.pt").count() === 2L)
    // audit returns no drift rows; compact reports its file movement
    assert(spark.sql("CALL colev.system.audit('ns.pt')").collect().isEmpty)
    val comp = spark.sql("CALL colev.system.compact('ns.pt', 1024)").head()
    assert(comp.getLong(1) >= comp.getLong(2),
      "files_before >= files_after")
    // retention: expire everything, then v1 is gone loudly
    val expired = spark.sql(
      "CALL colev.system.expire_versions('ns.pt', -1)").head().getLong(0)
    assert(expired >= 1L)
    val e = intercept[Exception] {
      spark.read.format("cole").option("versionAsOf", "1")
        .load(s"${spark.conf.get("spark.sql.catalog.colev.warehouse")}/ns/pt")
        .count()
    }
    assert(e.getMessage.contains("no longer readable"))
  }

  test("compaction of a versioned table: pre-compact version still reads") {
    val dir = Files.createTempDirectory("cole_ver_compact").toString
    li.repartition(6).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    val before = spark.read.format("cole").load(dir)
      .agg(sum("l_quantity"), count(lit(1))).head()
    val stats = ColeCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(stats.compactedDirs === 1)
    assert(ColeVersions.records(dir, conf).last.op === "compact")
    assert(readAsOf(dir, 1).agg(sum("l_quantity"), count(lit(1))).head() === before)
    assert(spark.read.format("cole").load(dir)
      .agg(sum("l_quantity"), count(lit(1))).head() === before)
    val (missing, unexpected) = ColeVersions.audit(dir, conf)
    assert(missing.isEmpty && unexpected.isEmpty)
  }

  test("streaming epochs commit versions: mid-stream snapshots readable") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_ver_stream").toString
    val cp = Files.createTempDirectory("cole_ver_stream_cp").toString
    ColeVersions.enable(dir, conf) // v1 = empty baseline
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[SinkRow](spark)
    val q = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cp)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    source.addData((0 until 100).map(i => SinkRow(i.toLong, s"g${i % 3}", i.toLong)))
    q.processAllAvailable()
    source.addData((100 until 250).map(i => SinkRow(i.toLong, s"g${i % 3}", i.toLong)))
    q.processAllAvailable()
    q.stop()

    val recs = ColeVersions.records(dir, conf)
    assert(recs.map(_.op) === Seq("baseline", "epoch-0", "epoch-1"))
    assert(readAsOf(dir, 2).count() === 100L) // the table as of epoch 0
    assert(readAsOf(dir, 3).count() === 250L)
    assert(spark.read.format("cole").load(dir).count() === 250L)
  }

  test("change feed: appends stream out, compaction contributes nothing") {
    val dir = Files.createTempDirectory("cole_ver_cdc").toString
    li.filter(col("l_orderkey") <= 500).coalesce(2)
      .write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf) // v1
    li.filter(col("l_orderkey") > 500 && col("l_orderkey") <= 1000).coalesce(2)
      .write.format("cole").mode("append").save(dir) // v2
    li.filter(col("l_orderkey") > 1000).coalesce(2)
      .write.format("cole").mode("append").save(dir) // v3

    def feed(from: Long, to: Option[Long] = None) = {
      val r = spark.read.format("cole").option("changesFrom", from.toString)
      to.fold(r)(t => r.option("changesTo", t.toString)).load(dir)
    }
    assert(feed(1, Some(2)).count() ===
      li.filter(col("l_orderkey") > 500 && col("l_orderkey") <= 1000).count())
    assert(feed(1).count() === li.filter(col("l_orderkey") > 500).count())
    assert(feed(3).count() === 0L) // nothing after v3 yet

    // compaction (v4) rewrites rows it does not create: feed(3) stays
    // empty, and the PRE-compaction feed still reads — its files resolve
    // at their retired paths
    ColeCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(ColeVersions.currentVersion(dir, conf) === 4L)
    assert(feed(3).count() === 0L)
    assert(feed(1, Some(3)).count() === li.filter(col("l_orderkey") > 500).count())
  }

  test("change feed refuses ranges containing row-level DML") {
    val dir = Files.createTempDirectory("cole_ver_cdc_dml").toString
    li.coalesce(1).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf)
    ColeDelete.deleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.GreaterThan("l_orderkey", 750L)),
      conf) // v2 = delete
    val e = intercept[IllegalArgumentException] {
      spark.read.format("cole").option("changesFrom", "1").load(dir).count()
    }
    assert(e.getMessage.contains("row-removing"))
  }

  test("a failed record write cleans up after itself; repairTorn recovers a crash") {
    val dir = Files.createTempDirectory("cole_ver_torn").toString
    li.limit(100).coalesce(1).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf) // v1
    li.limit(20).coalesce(1).write.format("cole").mode("append").save(dir) // v2
    // simulate a crash MID-RECORD-WRITE: a partial record (no terminal
    // 'end') below later commits poisons every log read...
    val (fs, _) = ColeIO.resolve(dir, conf)
    val vd = new org.apache.hadoop.fs.Path(dir, ColeVersions.DirName)
    val torn = new org.apache.hadoop.fs.Path(vd, "v000000000003")
    val out = fs.create(torn, false)
    out.write("ts:123\nop:append\nadd:partial.col".getBytes); out.close()
    li.limit(10).coalesce(1).write.format("cole").mode("append").save(dir) // v4
    val e = intercept[IllegalArgumentException] {
      ColeVersions.records(dir, conf)
    }
    assert(e.getMessage.contains("torn version record v3"))
    // ...until repairTorn quarantines it; history then reads again with
    // the gap, and later versions resolve
    val q = ColeVersions.repairTorn(dir, conf)
    assert(q === Seq("v000000000003"))
    assert(!fs.exists(torn))
    val recs = ColeVersions.records(dir, conf)
    assert(recs.map(_.version) === Seq(1L, 2L, 4L))
    assert(readAsOf(dir, 2).count() === 120)
    assert(spark.read.format("cole").load(dir).count() === 130)
  }

  test("record cache revalidates: a re-created log at the same path never serves stale deltas") {
    val dir = Files.createTempDirectory("cole_ver_stale").toString
    li.limit(100).coalesce(1).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf) // v1: baseline of 1 file
    li.limit(30).coalesce(1).write.format("cole").mode("append").save(dir) // v2
    assert(ColeVersions.records(dir, conf).size === 2) // cache warm
    // wipe the table + log (out-of-band DROP) and re-create at the path
    val (fs, p) = ColeIO.resolve(dir, conf)
    fs.delete(p, true)
    li.limit(40).repartition(2).write.format("cole").mode("overwrite").save(dir)
    ColeVersions.enable(dir, conf) // NEW v1: baseline of 2 files
    val recs = ColeVersions.records(dir, conf)
    assert(recs.map(_.version) === Seq(1L))
    assert(recs.head.adds.size === 2,
      "cache served the OLD table's v1 record (stale delta)")
    assert(readAsOf(dir, 1).count() === 40)
  }

  test("unversioned tables: no log, no retire, versionAsOf fails loudly") {
    val dir = Files.createTempDirectory("cole_ver_off").toString
    li.limit(100).coalesce(1).write.format("cole").mode("overwrite").save(dir)
    li.limit(50).coalesce(1).write.format("cole").mode("append").save(dir)
    val (fs, _) = ColeIO.resolve(dir, conf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ColeVersions.DirName)))
    val e = intercept[Exception] { readAsOf(dir, 1).count() }
    assert(e.getMessage.contains("versioning is not enabled"))
  }
}
