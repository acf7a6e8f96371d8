package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native UPDATE ([[ColeUpdateExec]] on the [[ColeRewrite]] engine)
  * against Spark's ReplaceData pipeline. Each differential case runs the
  * same statement natively and, through an equivalent condition the
  * native path cannot take (`abs(id) …`), through ReplaceData — on two
  * byte-identical versioned tables — and requires the same rows, the
  * same `$history` operation and the same change-feed rows, or the same
  * failure with the table left byte-identical. The fallback matrix shows
  * every ineligible shape still plans ReplaceData. The native path is
  * proven through `executedPlan` and the exec's SQL metrics.
  */
class ColeUpdateNativeSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_upn_wh").toString

  private lazy val spark: SparkSession = {
    // the native path is planned by GraftExtensions' strategy: clear the
    // singletons so this builder really applies them (the SparkContext
    // itself is still shared)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.upn", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.upn.warehouse", warehouse)
    s
  }

  private def conf = ColeIO.driverConf()
  private def dir(name: String) = s"$warehouse/db/$name"

  /** The executed command plan of a statement. */
  private def run(sql: String): SparkPlan =
    spark.sql(sql).queryExecution.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }

  private def native(p: SparkPlan): Option[ColeUpdateExec] =
    p.collectFirst { case u: ColeUpdateExec => u }

  private def fileBytes(t: String): Map[String, Seq[Byte]] =
    ColeIO.listPartitioned(t, conf).map { case (st, _) =>
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      val b = try in.readAllBytes() finally in.close()
      st.getPath.toString -> b.toSeq
    }.toMap

  private def rows(df: DataFrame): Seq[String] = {
    val cs = df.columns.sorted
    df.select(cs.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  private def chain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** The line of an error chain that starts with `marker`: what follows
    * it (a task's stack trace, Spark's quote of the statement) differs
    * between the two paths.
    */
  private def firstLine(c: String, marker: String): String = {
    val i = c.indexOf(marker)
    assert(i >= 0, s"expected '$marker' in: $c")
    c.substring(i).takeWhile(ch => ch != '|' && ch != '\n').trim
  }

  /** Two byte-identical versioned copies of a table written by `write`. */
  private def twins(name: String)(write: String => Unit): (String, String) = {
    write(dir(s"${name}_n"))
    write(dir(s"${name}_r"))
    ColeVersions.enable(dir(s"${name}_n"), conf)
    ColeVersions.enable(dir(s"${name}_r"), conf)
    (s"${name}_n", s"${name}_r")
  }

  /** The native UPDATE on `n` and the ReplaceData one on `r` agree. */
  private def differential(name: String, set: String, where: String,
      forced: String)(write: String => Unit): Unit = {
    val (n, r) = twins(name)(write)
    val pn = run(s"UPDATE upn.db.$n SET $set ${if (where.isEmpty) "" else s"WHERE $where"}")
    val pr = run(s"UPDATE upn.db.$r SET $set WHERE $forced")
    assert(native(pn).isDefined, s"expected the native path:\n$pn")
    assert(native(pr).isEmpty, s"expected ReplaceData:\n$pr")
    assert(rows(spark.table(s"upn.db.$n")) === rows(spark.table(s"upn.db.$r")))
    def lastOp(t: String) = spark.sql(
      s"SELECT operation FROM upn.db.`$t$$history` ORDER BY version DESC LIMIT 1")
      .head().getString(0)
    assert(lastOp(n) === "update")
    assert(lastOp(r) === "update")
    val vn = ColeVersions.records(dir(n), conf).map(_.version).max
    assert(vn === ColeVersions.records(dir(r), conf).map(_.version).max)
    assert(rows(ColeChangeFeed.read(spark, dir(n), vn - 1, vn)) ===
      rows(ColeChangeFeed.read(spark, dir(r), vn - 1, vn)))
  }

  /** Both paths fail with the same message and leave their table as it was. */
  private def sameFailure(name: String, set: String, where: String,
      forced: String, expect: String)(write: String => Unit): Unit = {
    val (n, r) = twins(name)(write)
    def fail(t: String, w: String): (String, Boolean) = {
      val before = fileBytes(dir(t))
      val e = intercept[Exception](spark.sql(s"UPDATE upn.db.$t SET $set WHERE $w"))
      (chain(e), fileBytes(dir(t)) == before)
    }
    val (en, keptN) = fail(n, where)
    val (er, keptR) = fail(r, forced)
    assert(keptN && keptR, "a failed UPDATE must leave the table byte-identical")
    assert(firstLine(en, expect) === firstLine(er, expect))
    assert(rows(spark.table(s"upn.db.$n")) === rows(spark.table(s"upn.db.$r")))
  }

  private def plain(t: String): Unit = {
    val s = spark
    import s.implicits._
    (0 until 3).foreach { f =>
      (f * 400 until (f + 1) * 400).map(i => (i.toLong, s"t${i % 7}", i * 10L, i * 0.5))
        .toDF("id", "tag", "v", "d").coalesce(1)
        .write.format("cole").mode(if (f == 0) "overwrite" else "append")
        .option("rowGroupSize", "100").save(t)
    }
  }

  test("native UPDATE: one job, metrics, byte-identical untouched files and spliced groups") {
    val t = dir("metrics")
    plain(t)
    val before = fileBytes(t)
    val sc = spark.sparkContext
    sc.setJobGroup("upn-metrics", "native update")
    val p = try run("UPDATE upn.db.metrics SET v = v + 1, tag = 'U' " +
      "WHERE id >= 450 AND id < 520")
    finally sc.clearJobGroup()
    val u = native(p).getOrElse(fail(s"expected the native path:\n$p"))
    assert(sc.statusTracker.getJobIdsForGroup("upn-metrics").length === 1,
      "the native UPDATE is one Spark job")
    def m(k: String) = u.metrics(k).value
    assert(m("filesRewritten") === 1L)
    assert(m("filesUntouched") === 2L)
    assert(m("rowsUpdated") === 70L)
    // file 1 holds ids [400, 800) in four groups of 100: [400, 500) and
    // [500, 600) change, the other two splice
    assert(m("rowGroupsSpliced") === 2L)
    val after = fileBytes(t)
    assert((before.keySet intersect after.keySet).size === 2)
    (before.keySet intersect after.keySet).foreach(f => assert(before(f) === after(f)))
    val got = spark.table("upn.db.metrics")
    assert(got.count() === 1200L)
    assert(got.filter(col("tag") === "U").count() === 70L)
    assert(got.filter(col("id") === 460L).select("v").head().getLong(0) === 4601L)
    assert(got.filter(col("id") === 520L).select("v").head().getLong(0) === 5200L)
    // an UPDATE whose values equal the stored ones rewrites nothing
    val same = fileBytes(t)
    val p2 = run("UPDATE upn.db.metrics SET tag = 'U' WHERE id >= 450 AND id < 520")
    assert(native(p2).get.metrics("filesRewritten").value === 0L)
    assert(fileBytes(t) === same)
  }

  test("a file above the split size rewrites as one task and one file per run of row groups") {
    val t = dir("split")
    plain(t)
    val before = fileBytes(t)
    // a 1-byte split size: every candidate splits, one run per row group
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val sc = spark.sparkContext
      sc.setJobGroup("upn-split", "split update")
      val p = try run("UPDATE upn.db.split SET v = v + 1, tag = 'U' " +
        "WHERE id >= 450 AND id < 520")
      finally sc.clearJobGroup()
      val u = native(p).getOrElse(fail(s"expected the native path:\n$p"))
      val jobs = sc.statusTracker.getJobIdsForGroup("upn-split")
      assert(jobs.length === 1)
      assert(sc.statusTracker.getJobInfo(jobs.head).get.stageIds.toSeq
        .flatMap(sc.statusTracker.getStageInfo(_)).map(_.numTasks).sum === 4)
      def m(k: String) = u.metrics(k).value
      assert(m("filesRewritten") === 1L)
      assert(m("rowsUpdated") === 70L)
      assert(m("rowGroupsSpliced") === 2L)
      // file 1 is now four files; files 0 and 2 are byte-identical
      val after = fileBytes(t)
      assert(after.size === 6)
      assert((before.keySet intersect after.keySet).size === 2)
      (before.keySet intersect after.keySet).foreach(f => assert(before(f) === after(f)))
      // an UPDATE that changes nothing keeps the file it split (id 805
      // of file 2 already has tag t0), and drops the runs it wrote
      val p2 = run("UPDATE upn.db.split SET tag = 't0' WHERE id = 805")
      assert(native(p2).get.metrics("filesRewritten").value === 0L)
      assert(fileBytes(t) === after)
      assert(!new java.io.File(t).listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith(".update-")))
      // a DELETE splits file 0 as well
      spark.sql("DELETE FROM upn.db.split WHERE id < 50")
      assert(fileBytes(t).size === 9)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    val got = spark.table("upn.db.split")
    assert(got.count() === 1150L)
    assert(got.filter(col("tag") === "U").count() === 70L)
    assert(got.filter(col("id") === 460L).select("v").head().getLong(0) === 4601L)
    assert(got.filter(col("id") === 520L).select("v").head().getLong(0) === 5200L)
    assert(got.agg(sum("v")).head().getLong(0) ===
      (50L until 1200L).map(_ * 10L).sum + 70L)
  }

  test("repeated native rewrites keep file names bounded") {
    val t = dir("names")
    plain(t)
    val s = spark
    import s.implicits._
    // the MERGE also reaches ids 150 and 350, in other row groups of the
    // first file, so that file is rewritten every round
    ((0L until 10L) ++ Seq(150L, 350L)).map(i => (i, 1L)).toDF("id", "d")
      .createOrReplaceTempView("names_src")
    (1 to 30).foreach { i =>
      spark.sql(s"UPDATE upn.db.names SET v = v + 1 WHERE id < 10")
      spark.sql(s"DELETE FROM upn.db.names WHERE id = ${1199 - i}")
      spark.sql("MERGE INTO upn.db.names t USING names_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.d")
    }
    val names = ColeIO.listPartitioned(t, conf).map(_._1.getPath.getName)
    assert(names.forall(_.length < 80), names.toString)
    assert(spark.table("upn.db.names").filter(col("id") < 10)
      .select("v").collect().map(_.getLong(0)).toSet ===
      (0 until 10).map(_ * 10L + 60).toSet)
    assert(spark.table("upn.db.names").filter(col("id").isin(150L, 350L))
      .select("v").collect().map(_.getLong(0)).toSet === Set(1530L, 3530L))
    assert(spark.table("upn.db.names").count() === 1170L)
  }

  test("differential: partitioned table, non-key columns assigned") {
    differential("part", "v = v * 2, tag = concat(tag, '!')",
      "id >= 100 AND id < 700 AND region = 'r1'",
      "abs(id) >= 100 AND id < 700 AND region = 'r1'") { t =>
      val s = spark
      import s.implicits._
      (0 until 1200).map(i => (i.toLong, s"r${i % 3}", s"t$i", i.toLong))
        .toDF("id", "region", "tag", "v")
        .write.format("cole").mode("overwrite").partitionBy("region").save(t)
    }
  }

  test("differential: bucketed table, non-key columns assigned") {
    differential("bkt", "v = v - 7, d = d * 2", "id < 300", "abs(id) < 300") { t =>
      val s = spark
      import s.implicits._
      (0 until 1000).map(i => (i.toLong, i * 3L, i * 0.25)).toDF("id", "v", "d")
        .write.format("cole").mode("overwrite").option("bucketBy", "4:id").save(t)
    }
  }

  test("differential: no WHERE clause") {
    differential("all", "v = CASE WHEN id % 2 = 0 THEN v + 1 ELSE v END, tag = upper(tag)",
      "", "abs(id) = id")(plain)
  }

  test("differential: a NULL assigned into a v1 file behaves as ReplaceData") {
    val (n, r) = twins("v1null") { t =>
      val s = spark
      import s.implicits._
      (0 until 500).map(i => (i.toLong, s"t$i", i * 10L)).toDF("id", "tag", "v")
        .coalesce(1).write.format("cole").mode("overwrite").save(t)
    }
    assert(new ColeFileReader(ColeIO.listPartitioned(dir(n), conf).head._1.getPath.toString,
      conf).meta.version === 1)
    def attempt(t: String, w: String): Either[String, Seq[String]] = {
      val before = fileBytes(dir(t))
      try {
        spark.sql(s"UPDATE upn.db.$t SET v = NULL WHERE $w")
        Right(rows(spark.table(s"upn.db.$t")))
      } catch {
        case e: Exception =>
          assert(fileBytes(dir(t)) === before)
          val c = chain(e)
          Left(firstLine(c, "COLE format"))
      }
    }
    val a = attempt(n, "id = 3")
    val b = attempt(r, "abs(id) = 3")
    assert(a === b)
    assert(a.isLeft, s"a v1 file holds no NULL: $a")
  }

  test("differential: ANSI overflow fails both paths and changes nothing") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    sameFailure("ovf", "v = v + 9223372036854775000", "id >= 5 AND id < 900",
      "abs(id) >= 5 AND id < 900", "[ARITHMETIC_OVERFLOW]")(plain)
  }

  test("differential: a CHECK violation fails with the same message, table byte-identical") {
    val (n, r) = twins("chk")(plain)
    Seq(n, r).foreach(t => spark.sql(
      s"ALTER TABLE upn.db.$t SET TBLPROPERTIES ('check.v_small' = 'v < 20000')"))
    def fail(t: String, w: String): String = {
      val before = fileBytes(dir(t))
      val e = intercept[Exception](spark.sql(s"UPDATE upn.db.$t SET v = v + 10000 WHERE $w"))
      assert(fileBytes(dir(t)) === before)
      firstLine(chain(e), "CHECK constraint")
    }
    val mn = fail(n, "id = 1100")
    assert(mn.contains("'v_small' violated"), mn)
    assert(mn === fail(r, "abs(id) = 1100"))
    // a passing update commits on both
    differentialOn(n, r, "v = v + 1", "id = 1100", "abs(id) = 1100")
  }

  private def differentialOn(n: String, r: String, set: String, where: String,
      forced: String): Unit = {
    assert(native(run(s"UPDATE upn.db.$n SET $set WHERE $where")).isDefined)
    assert(native(run(s"UPDATE upn.db.$r SET $set WHERE $forced")).isEmpty)
    assert(rows(spark.table(s"upn.db.$n")) === rows(spark.table(s"upn.db.$r")))
  }

  test("differential: a concurrent writer is retried, or rejected with retries off") {
    val s = spark
    import s.implicits._
    val (n, r) = twins("race") { t =>
      (0 until 2000).map(i => (i.toLong, 0L)).toDF("id", "v")
        .write.format("cole").mode("overwrite").option("bucketBy", "2:id").save(t)
      ColeBucket.evolve(t, conf, 4, Seq("id"))
    }
    // the rebucket holds claims on every era-0 file from its read to its
    // swap: an UPDATE launched inside that window parks at its commit,
    // loses the (len, mtime) check once the swap lands, and re-runs. The
    // claim wait must outlast the rebucket (an earlier suite may have
    // shortened it on the shared context).
    val hc = s.sparkContext.hadoopConfiguration
    val wait = Option(hc.get(ColeClaims.WaitKey))
    hc.setLong(ColeClaims.WaitKey, 60000L)
    try {
      def racing(t: String, where: String): Option[Throwable] = {
        val err = new java.util.concurrent.atomic.AtomicReference[Option[Throwable]](None)
        val updater = new Thread(() => {
          SparkSession.setActiveSession(s)
          try s.sql(s"UPDATE upn.db.$t SET v = v + 7 WHERE $where")
          catch { case e: Throwable => err.set(Some(e)) }
        })
        ColeRebucket.afterClaimsHook.set(() => { updater.start(); Thread.sleep(800) })
        try ColeRebucket.rebucket(s, dir(t))
        finally ColeRebucket.afterClaimsHook.set(() => ())
        updater.join(120000)
        err.get()
      }
      assert(racing(n, "id < 500").isEmpty)
      assert(racing(r, "abs(id) < 500").isEmpty)
      assert(rows(spark.table(s"upn.db.$n")) === rows(spark.table(s"upn.db.$r")))
      assert(spark.table(s"upn.db.$n").filter(col("v") === 7L).count() === 500L)

      val (n2, r2) = twins("race0") { t =>
        (0 until 2000).map(i => (i.toLong, 0L)).toDF("id", "v")
          .write.format("cole").mode("overwrite").option("bucketBy", "2:id").save(t)
        ColeBucket.evolve(t, conf, 4, Seq("id"))
      }
      hc.setInt(ColeDmlRetry.MaxRetriesKey, 0)
      Seq(racing(n2, "id < 500"), racing(r2, "abs(id) < 500")).foreach { e =>
        assert(e.exists(ColeDmlRetry.isConflict), s"expected a loud conflict, got $e")
      }
      assert(spark.table(s"upn.db.$n2").filter(col("v") =!= 0L).count() === 0L)
      assert(spark.table(s"upn.db.$r2").filter(col("v") =!= 0L).count() === 0L)
    } finally {
      hc.unset(ColeDmlRetry.MaxRetriesKey)
      wait.fold(hc.unset(ColeClaims.WaitKey))(hc.set(ColeClaims.WaitKey, _))
    }
  }

  test("a concurrent write to the last partition re-runs the whole UPDATE: every row changes once") {
    val s = spark
    import s.implicits._
    val t = dir("race_last")
    (0 until 1200).map(i => (i.toLong, s"r${i % 3}", i.toLong)).toDF("id", "region", "v")
      .write.format("cole").mode("overwrite").partitionBy("region").save(t)
    ColeVersions.enable(t, conf)
    def versions = ColeVersions.records(t, conf).map(_.version)
    // the writer touches only region=r2, the directory the swap reaches last
    def touchLast(): Unit = new java.io.File(s"$t/region=r2").listFiles()
      .filter(_.getName.endsWith(".col"))
      .foreach(f => f.setLastModified(f.lastModified() + 60000))
    def raceOnce(): Unit = {
      var fired = false
      ColeRewrite.raceWindow = () => if (!fired) { fired = true; touchLast() }
    }
    val hc = s.sparkContext.hadoopConfiguration
    try {
      raceOnce()
      val v0 = versions.max
      assert(native(run(s"UPDATE upn.db.race_last SET v = v + 1 WHERE id < 900")).isDefined)
      val got = spark.table("upn.db.race_last").select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === 1200)
      got.foreach { case (id, v) =>
        assert(v === (if (id < 900) id + 1 else id), s"id $id changed more or less than once")
      }
      assert(versions.max === v0 + 1, "one statement, one version record")

      // retries off: the conflict is loud and nothing is swapped in any
      // directory
      hc.setInt(ColeDmlRetry.MaxRetriesKey, 0)
      raceOnce()
      val before = fileBytes(t)
      val e = intercept[Exception](spark.sql("UPDATE upn.db.race_last SET v = v + 1 WHERE id < 900"))
      assert(ColeDmlRetry.isConflict(e), chain(e))
      assert(fileBytes(t) === before, "a rejected UPDATE must leave every partition as it was")
      assert(versions.max === v0 + 1)
    } finally {
      ColeRewrite.raceWindow = () => ()
      hc.unset(ColeDmlRetry.MaxRetriesKey)
    }
  }

  test("DELETE and UPDATE over a partition layout mid-evolution are row-exact") {
    val s = spark
    import s.implicits._
    val t = dir("mixed")
    // era 0 stores region in the files; the evolved era serves it from
    // region= directories
    (0 until 300).map(i => (i.toLong, s"r${i % 3}", i * 10L)).toDF("id", "region", "v")
      .coalesce(2).write.format("cole").mode("overwrite").save(t)
    spark.sql("CALL upn.system.evolve_partition('db.mixed', 'region')")
    (300 until 360).map(i => (i.toLong, s"r${i % 3}", i * 10L)).toDF("id", "region", "v")
      .repartition(1).write.format("cole").mode("append").saveAsTable("upn.db.mixed")
    spark.sql("DELETE FROM upn.db.mixed WHERE region = 'r0' AND id < 330")
    val left = spark.table("upn.db.mixed")
    assert(left.filter(col("region") === "r0" && col("id") < 330L).count() === 0L)
    assert(left.count() === 250L)
    // the native rewrite keeps files in place; this layout takes
    // ReplaceData, whose replacements adopt the active spec
    fallsBack("UPDATE upn.db.mixed SET v = -1 WHERE region = 'r1'")
    assert(spark.table("upn.db.mixed").filter(col("v") === -1L).count() === 120L)
  }

  /** `sql` must plan ReplaceData and still apply. */
  private def fallsBack(sql: String): Unit = {
    val p = run(sql)
    assert(native(p).isEmpty, s"expected ReplaceData for: $sql\n$p")
    assert(p.collectFirst { case e: ColeDmlRetryExec => e }.isDefined, p.toString)
  }

  test("fallback matrix: every ineligible UPDATE takes ReplaceData") {
    val s = spark
    import s.implicits._
    // partition key
    (0 until 300).map(i => (i.toLong, s"r${i % 3}", i.toLong)).toDF("id", "region", "v")
      .write.format("cole").mode("overwrite").partitionBy("region").save(dir("fp"))
    fallsBack("UPDATE upn.db.fp SET region = 'moved' WHERE id < 30")
    assert(spark.table("upn.db.fp").filter(col("region") === "moved").count() === 30L)
    // bucket key
    (0 until 300).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:id").save(dir("fb"))
    fallsBack("UPDATE upn.db.fb SET id = id + 1000 WHERE id < 30")
    assert(spark.table("upn.db.fb").filter(col("id") >= 1000L).count() === 30L)
    // temporal key
    (0 until 300).map(i => (i.toLong, new java.sql.Timestamp(i * 3600000L)))
      .toDF("id", "ts")
      .write.format("cole").mode("overwrite").option("partitionByTemporal", "days:ts")
      .save(dir("ft"))
    fallsBack("UPDATE upn.db.ft SET ts = ts + INTERVAL 30 DAYS WHERE id < 30")
    // vector (merge-on-read) mode
    plain(dir("fv"))
    ColeDv.setMode(dir("fv"), conf, "vector")
    fallsBack("UPDATE upn.db.fv SET v = 0 WHERE id < 30")
    assert(spark.table("upn.db.fv").filter(col("v") === 0L).count() === 30L)
    // a branch write
    plain(dir("fw"))
    ColeVersions.enable(dir("fw"), conf)
    spark.sql("CALL upn.system.create_branch('db.fw', 'b')")
    spark.conf.set(ColeRefs.WapBranchConfKey, "b")
    try fallsBack("UPDATE upn.db.fw SET v = 0 WHERE id < 30")
    finally spark.conf.unset(ColeRefs.WapBranchConfKey)
    // a clone
    plain(dir("fc_src"))
    ColeVersions.enable(dir("fc_src"), conf)
    spark.sql("CALL upn.system.clone('db.fc_src', 'db.fc')")
    fallsBack("UPDATE upn.db.fc SET v = 0 WHERE id < 30")
    assert(spark.table("upn.db.fc").filter(col("v") === 0L).count() === 30L)
    // a renamed column
    plain(dir("fr"))
    spark.sql("ALTER TABLE upn.db.fr RENAME COLUMN tag TO label")
    fallsBack("UPDATE upn.db.fr SET label = 'x' WHERE id < 30")
    assert(spark.table("upn.db.fr").filter(col("label") === "x").count() === 30L)
    // a non-deterministic assignment
    plain(dir("fn"))
    fallsBack("UPDATE upn.db.fn SET v = v + CAST(rand() * 0 AS BIGINT) WHERE id < 30")
    // a subquery
    fallsBack("UPDATE upn.db.fn SET v = (SELECT max(id) FROM upn.db.fp) WHERE id < 30")
    assert(spark.table("upn.db.fn").filter(col("v") === 299L).count() === 30L)
  }
}
