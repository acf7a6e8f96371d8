package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Native MERGE ([[ColeMergeExec]] on the [[ColeRewrite]] engine) against
  * Spark's ReplaceData pipeline. Each differential case runs the same
  * statement natively and, with `spark.sql.autoBroadcastJoinThreshold`
  * at -1 (which the native path declines), through ReplaceData — on two
  * byte-identical versioned tables — and requires the same rows, the
  * same `$history` operation and the same change-feed rows, or the same
  * failure with the table left byte-identical. The fallback matrix shows
  * every ineligible shape still plans ReplaceData.
  */
class ColeMergeNativeSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_mgn_wh").toString

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
    s.conf.set("spark.sql.catalog.mgn", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.mgn.warehouse", warehouse)
    s
  }

  private def conf = ColeIO.driverConf()
  private def dir(name: String) = s"$warehouse/db/$name"
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** The executed command plan of a statement. */
  private def run(sql: String): SparkPlan =
    spark.sql(sql).queryExecution.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }

  private def native(p: SparkPlan): Option[ColeMergeExec] =
    p.collectFirst { case m: ColeMergeExec => m }

  /** `body` with the broadcast threshold at -1: MERGE takes ReplaceData. */
  private def viaReplaceData[T](body: => T): T = {
    spark.conf.set(Threshold, "-1")
    try body finally spark.conf.unset(Threshold)
  }

  private def fileBytes(t: String): Map[String, Seq[Byte]] =
    ColeIO.listPartitioned(t, conf).map { case (st, _) =>
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      val b = try in.readAllBytes() finally in.close()
      st.getPath.toString -> b.toSeq
    }.toMap

  /** Dotted statement scratch directories anywhere under `t`. */
  private def scratchDirs(t: String): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap { c =>
        if (c.isDirectory && c.getName.startsWith(".merge-")) Seq(c.getPath)
        else if (c.isDirectory) walk(c)
        else Nil
      }
    walk(new java.io.File(t))
  }

  private def rows(df: DataFrame): Seq[String] = {
    val cs = df.columns.sorted
    df.select(cs.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  private def chain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** The line of an error chain that starts with `marker`. */
  private def firstLine(c: String, marker: String): String = {
    val i = c.indexOf(marker)
    assert(i >= 0, s"expected '$marker' in: $c")
    c.substring(i).takeWhile(ch => ch != '|' && ch != '\n').trim
  }

  private def lastOp(t: String): String = spark.sql(
    s"SELECT operation FROM mgn.db.`$t$$history` ORDER BY version DESC LIMIT 1")
    .head().getString(0)

  /** Two byte-identical versioned copies of a table written by `write`. */
  private def twins(name: String)(write: String => Unit): (String, String) = {
    write(dir(s"${name}_n"))
    write(dir(s"${name}_r"))
    ColeVersions.enable(dir(s"${name}_n"), conf)
    ColeVersions.enable(dir(s"${name}_r"), conf)
    (s"${name}_n", s"${name}_r")
  }

  /** `merge(table)` natively on one twin and through ReplaceData on the
    * other: same rows, `$history` operation and change feed.
    */
  private def differential(name: String, merge: String => String,
      expectNative: Boolean = true)(write: String => Unit): (String, String) = {
    val (n, r) = twins(name)(write)
    val pn = run(merge(n))
    val pr = viaReplaceData(run(merge(r)))
    assert(native(pn).isDefined == expectNative, s"native path expected $expectNative:\n$pn")
    assert(native(pr).isEmpty, s"expected ReplaceData:\n$pr")
    assert(rows(spark.table(s"mgn.db.$n")) === rows(spark.table(s"mgn.db.$r")))
    assert(lastOp(n) === lastOp(r))
    val vn = ColeVersions.records(dir(n), conf).map(_.version).max
    assert(vn === ColeVersions.records(dir(r), conf).map(_.version).max)
    assert(rows(ColeChangeFeed.read(spark, dir(n), vn - 1, vn)) ===
      rows(ColeChangeFeed.read(spark, dir(r), vn - 1, vn)))
    assert(scratchDirs(dir(n)).isEmpty)
    (n, r)
  }

  /** Both paths fail with the same first error line and leave their table
    * byte-identical, with no scratch left behind.
    */
  private def sameFailure(name: String, merge: String => String, expect: String)(
      write: String => Unit): Unit = {
    val (n, r) = twins(name)(write)
    def fail(t: String): String = {
      val before = fileBytes(dir(t))
      val e = intercept[Exception](spark.sql(merge(t)))
      assert(fileBytes(dir(t)) === before, s"a failed MERGE must leave $t byte-identical")
      assert(scratchDirs(dir(t)).isEmpty, s"scratch left behind: ${scratchDirs(dir(t))}")
      firstLine(chain(e), expect)
    }
    val en = fail(n)
    val er = viaReplaceData(fail(r))
    assert(en === er)
    assert(rows(spark.table(s"mgn.db.$n")) === rows(spark.table(s"mgn.db.$r")))
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

  /** A source view of (id, tag, v) rows. */
  private def source(view: String, rs: Seq[(java.lang.Long, String, Long)]): Unit = {
    val s = spark
    import s.implicits._
    rs.toDF("id", "tag", "v").createOrReplaceTempView(view)
  }

  private def upsert(src: String)(t: String): String =
    s"""MERGE INTO mgn.db.$t t USING $src s ON t.id = s.id
       |WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = s.tag
       |WHEN NOT MATCHED THEN INSERT (id, tag, v, d) VALUES (s.id, s.tag, s.v, 0.25)
       |""".stripMargin

  test("differential: matched and not-matched rows") {
    source("src_both", (390L until 420L).map(i => (java.lang.Long.valueOf(i), "m", 7L)) ++
      (5000L until 5010L).map(i => (java.lang.Long.valueOf(i), "n", 1L)))
    differential("both", upsert("src_both"))(plain)
  }

  test("differential: matched-only MERGE") {
    source("src_mo", (100L until 130L).map(i => (java.lang.Long.valueOf(i), "m", 3L)) ++
      Seq((java.lang.Long.valueOf(9999L), "x", 1L)))
    differential("mo", t =>
      s"""MERGE INTO mgn.db.$t t USING src_mo s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v * 2""".stripMargin)(plain)
  }

  test("differential: not-matched-only MERGE is Spark's append on both paths") {
    source("src_nmo", (1190L until 1210L).map(i => (java.lang.Long.valueOf(i), "n", 2L)))
    // Spark rewrites an insert-only MERGE to an anti-join append, never a
    // ReplaceData: there is nothing for the native path to take over
    differential("nmo", t =>
      s"""MERGE INTO mgn.db.$t t USING src_nmo s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, tag, v, d) VALUES (s.id, s.tag, s.v, 1.0)
         |""".stripMargin, expectNative = false)(plain)
  }

  test("differential: an empty target takes every source row as an insert") {
    source("src_empty", (0L until 25L).map(i => (java.lang.Long.valueOf(i), "n", i)))
    val (n, _) = twins("empty") { t =>
      val name = t.substring(t.lastIndexOf('/') + 1)
      spark.sql(s"CREATE TABLE mgn.db.$name (id BIGINT, tag STRING, v BIGINT, d DOUBLE) USING cole")
    }
    assert(ColeIO.listPartitioned(dir(n), conf).isEmpty)
    // twins already exist: run the differential over them
    val pn = run(upsert("src_empty")("empty_n"))
    val pr = viaReplaceData(run(upsert("src_empty")("empty_r")))
    assert(native(pn).map(_.metrics("rowsInserted").value) === Some(25L), pn.toString)
    assert(native(pr).isEmpty)
    assert(rows(spark.table("mgn.db.empty_n")) === rows(spark.table("mgn.db.empty_r")))
    assert(spark.table("mgn.db.empty_n").count() === 25L)
  }

  test("differential: composite key over BIGINT, INT and STRING columns") {
    val s = spark
    import s.implicits._
    Seq((10L, 1, "a", 5L), (10L, 2, "a", 6L), (10L, 1, "b", 7L), (11L, 1, "a", 8L),
      (900000L, 9, "z", 9L))
      .toDF("k", "ln", "f", "d").createOrReplaceTempView("src_comp")
    differential("comp", t =>
      s"""MERGE INTO mgn.db.$t t USING src_comp s
         |ON t.k = s.k AND t.ln = s.ln AND t.f = s.f
         |WHEN MATCHED THEN UPDATE SET q = t.q + s.d
         |WHEN NOT MATCHED THEN INSERT (k, ln, f, q) VALUES (s.k, s.ln, s.f, s.d)
         |""".stripMargin) { t =>
      (0 until 2000).map(i => ((i / 4).toLong, i % 4 + 1, if (i % 3 == 0) "a" else "b", i.toLong))
        .toDF("k", "ln", "f", "q").coalesce(2)
        .write.format("cole").mode("overwrite").option("rowGroupSize", "250").save(t)
    }
  }

  test("differential: NULL source keys are inserted and never match") {
    source("src_null", Seq((null: java.lang.Long, "a", 1L), (null: java.lang.Long, "b", 2L),
      (java.lang.Long.valueOf(5L), "m", 3L)))
    differential("nulls", t =>
      s"""MERGE INTO mgn.db.$t t USING src_null s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, tag, v, d) VALUES (s.id, s.tag, s.v, 0.5)
         |""".stripMargin) { t =>
      val s = spark
      import s.implicits._
      // nullable id: the inserted NULL keys need a v2 file
      (0 until 300).map(i => (Option(i.toLong), s"t$i", i.toLong, i * 1.0))
        .toDF("id", "tag", "v", "d").coalesce(1)
        .write.format("cole").mode("overwrite").option("formatVersion", "2").save(t)
    }
    assert(spark.table("mgn.db.nulls_n").filter(col("id").isNull).count() === 2L)
  }

  test("differential: partitioned table, inserts land in their partitions") {
    val s = spark
    import s.implicits._
    Seq((3L, "r0", 1L), (4L, "r1", 2L), (5000L, "r2", 3L), (5001L, "r9", 4L))
      .toDF("id", "region", "v").createOrReplaceTempView("src_part")
    val (n, _) = differential("part", t =>
      s"""MERGE INTO mgn.db.$t t USING src_part s ON t.id = s.id AND t.region = s.region
         |WHEN MATCHED THEN UPDATE SET v = t.v * 10 + s.v
         |WHEN NOT MATCHED THEN INSERT (id, region, tag, v) VALUES (s.id, s.region, 'n', s.v)
         |""".stripMargin) { t =>
      (0 until 900).map(i => (i.toLong, s"r${i % 3}", s"t$i", i.toLong))
        .toDF("id", "region", "tag", "v")
        .write.format("cole").mode("overwrite").partitionBy("region").save(t)
    }
    assert(new java.io.File(s"${dir(n)}/region=r9").listFiles()
      .exists(_.getName.endsWith(".col")))
  }

  test("differential: bucketed table, inserts routed to their buckets") {
    val s = spark
    import s.implicits._
    (500L until 1500L).map(i => (i, -1L)).toDF("k", "mv").createOrReplaceTempView("src_bkt")
    val (n, _) = differential("bkt", t =>
      s"""MERGE INTO mgn.db.$t t USING src_bkt s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.mv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.mv)
         |""".stripMargin) { t =>
      (0 until 1000).map(i => (i.toLong, i * 2L)).toDF("k", "v")
        .write.format("cole").mode("overwrite").option("bucketBy", "4:k").save(t)
    }
    for (b <- 0 until 4)
      spark.read.format("cole").load(s"${dir(n)}/_bucket=$b").select("k").collect()
        .foreach(r => assert(ColeBucket.bucketOf(r.getLong(0), 4) === b))
  }

  /** Shuffle bytes written by the stages of one job group's jobs. */
  private final class GroupShuffle(group: String) extends SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val expected = new java.util.concurrent.atomic.AtomicInteger
    val completed = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(p =>
          p.getProperty("spark.jobGroup.id") == group)) {
        expected.addAndGet(e.stageIds.size)
        e.stageIds.foreach(stages.add)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId)) {
        bytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        completed.incrementAndGet()
      }
  }

  test("shape: the bench-shaped MERGE is one rewrite job, no shuffle, with metrics") {
    val s = spark
    import s.implicits._
    val t = dir("shape")
    (0 until 4000).map(i => ((i / 4).toLong, i % 4 + 1, "O", i.toLong))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "qty_c").coalesce(1)
      .write.format("cole").mode("overwrite").option("rowGroupSize", "500").save(t)
    val before = fileBytes(t)
    // keys 100..149 on line 1 match; 20 new keys insert
    ((100L until 150L) ++ (20000000L until 20000020L)).map(k => (k, 1, "S", 5L))
      .toDF("k", "ln", "f", "d").coalesce(1).createOrReplaceTempView("src_shape")
    val sc = spark.sparkContext
    val listener = new GroupShuffle("mgn-shape")
    sc.addSparkListener(listener)
    sc.setJobGroup("mgn-shape", "native merge")
    val p = try run(
      """MERGE INTO mgn.db.shape t USING src_shape s
        |ON t.l_orderkey = s.k AND t.l_linenumber = s.ln
        |WHEN MATCHED THEN UPDATE SET qty_c = t.qty_c + s.d, l_returnflag = 'M'
        |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, l_returnflag, qty_c)
        |  VALUES (s.k, s.ln, 'N', s.d)""".stripMargin)
    finally sc.clearJobGroup()
    val m = native(p).getOrElse(fail(s"expected the native path:\n$p"))
    val jobs = sc.statusTracker.getJobIdsForGroup("mgn-shape")
    // the source read and the rewrite: no group-filter job, no join
    assert(jobs.length <= 2, s"jobs: ${jobs.toSeq}")
    val deadline = System.nanoTime() + 10000000000L
    while (listener.completed.get() < listener.expected.get() && System.nanoTime() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(listener)
    assert(listener.bytes.get() === 0L, "the native MERGE shuffles nothing")
    def metric(k: String) = m.metrics(k).value
    assert(metric("filesRewritten") === 1L)
    assert(metric("rowsUpdated") === 50L)
    assert(metric("rowsInserted") === 20L)
    // keys 100..149 sit in rows 400..599, in row groups 0 (rows 0..499)
    // and 1 (rows 500..999); the other six groups splice
    assert(metric("rowGroupsSpliced") === 6L)
    val got = spark.table("mgn.db.shape")
    assert(got.count() === 4020L)
    assert(got.filter(col("l_returnflag") === "M").count() === 50L)
    assert(got.filter(col("l_returnflag") === "N").count() === 20L)
    assert(before.keySet.intersect(fileBytes(t).keySet).isEmpty)

    // a MERGE whose updates change nothing and inserts nothing leaves
    // every file byte-identical
    val same = fileBytes(t)
    (100L until 150L).map(k => (k, 1, "M")).toDF("k", "ln", "f")
      .createOrReplaceTempView("src_same")
    val p2 = run(
      """MERGE INTO mgn.db.shape t USING src_same s
        |ON t.l_orderkey = s.k AND t.l_linenumber = s.ln
        |WHEN MATCHED THEN UPDATE SET l_returnflag = s.f
        |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, l_returnflag, qty_c)
        |  VALUES (s.k, s.ln, s.f, 0)""".stripMargin)
    assert(native(p2).get.metrics("filesRewritten").value === 0L)
    assert(native(p2).get.metrics("rowsUpdated").value === 50L)
    assert(native(p2).get.metrics("rowsInserted").value === 0L)
    assert(fileBytes(t) === same)
  }

  test("the runs of a split file and a like-named file each keep their rows") {
    val s = spark
    import s.implicits._
    val t = dir("clash")
    // B.col (four row groups) beside merge-1a2b-B-1.col (one), the name an
    // earlier statement gives a file whose base name is B-1.col. One MERGE
    // rewrites both; at a 1-byte split size B.col splits into one run per
    // row group, and its run 1 and the other file need names of their own
    def place(rs: Range, name: String): Unit = {
      val tmp = Files.createTempDirectory("cole_mgn_clash").toString
      rs.map(i => (i.toLong, "b", i * 10L, 0.5)).toDF("id", "tag", "v", "d").coalesce(1)
        .write.format("cole").mode("overwrite").option("rowGroupSize", "100").save(tmp)
      val f = ColeIO.listStatus(tmp, conf).head.getPath
      Files.createDirectories(java.nio.file.Paths.get(t))
      Files.move(java.nio.file.Paths.get(f.toUri), java.nio.file.Paths.get(t, name))
    }
    place(0 until 400, "B.col")
    place(400 until 450, "merge-1a2b-B-1.col")
    source("src_clash", Seq(50L, 420L, 9000L).map(i => (java.lang.Long.valueOf(i), "m", 1L)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try assert(native(run(upsert("src_clash")("clash"))).isDefined)
    finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    val got = spark.table("mgn.db.clash")
    assert(got.count() === 451L)
    assert(got.filter(col("tag") === "m").select("id").as[Long].collect().sorted.toSeq ===
      Seq(50L, 420L, 9000L))
    assert(got.filter(col("tag") === "b").count() === 448L)
    assert(ColeIO.listStatus(t, conf).size === 6)
  }

  test("errors: a target row two source rows match fails as ReplaceData does") {
    source("src_card", Seq((java.lang.Long.valueOf(7L), "a", 1L),
      (java.lang.Long.valueOf(7L), "b", 2L), (java.lang.Long.valueOf(8000L), "c", 3L)))
    sameFailure("card", upsert("src_card"), "[MERGE_CARDINALITY_VIOLATION]")(plain)
    // duplicate keys that match nothing are both inserted
    source("src_dupnew", Seq((java.lang.Long.valueOf(8000L), "a", 1L),
      (java.lang.Long.valueOf(8000L), "b", 2L)))
    differential("dupnew", upsert("src_dupnew"))(plain)
    assert(spark.table("mgn.db.dupnew_n").filter(col("id") === 8000L).count() === 2L)
  }

  test("errors: ANSI overflow on the updated or the inserted side") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      source("src_ovf_u", Seq((java.lang.Long.valueOf(10L), "a", Long.MaxValue - 5L)))
      sameFailure("ovfu", upsert("src_ovf_u"), "[ARITHMETIC_OVERFLOW]")(plain)
      source("src_ovf_i", Seq((java.lang.Long.valueOf(10L), "a", 1L),
        (java.lang.Long.valueOf(9000L), "b", Long.MaxValue)))
      sameFailure("ovfi", t =>
        s"""MERGE INTO mgn.db.$t t USING src_ovf_i s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, tag, v, d) VALUES (s.id, s.tag, s.v + 1, 0.0)
           |""".stripMargin, "[ARITHMETIC_OVERFLOW]")(plain)
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("errors: a CHECK violation on the updated or the inserted side") {
    def checked(t: String): Unit = {
      plain(t)
      val name = t.substring(t.lastIndexOf('/') + 1)
      spark.sql(s"ALTER TABLE mgn.db.$name SET TBLPROPERTIES ('check.v_small' = 'v < 20000')")
    }
    source("src_chk_u", Seq((java.lang.Long.valueOf(1100L), "a", 10000L)))
    sameFailure("chku", upsert("src_chk_u"), "CHECK constraint")(checked)
    source("src_chk_i", Seq((java.lang.Long.valueOf(3L), "a", 1L),
      (java.lang.Long.valueOf(7000L), "b", 50000L)))
    sameFailure("chki", upsert("src_chk_i"), "CHECK constraint")(checked)
  }

  test("races: a concurrent writer re-runs the MERGE once, or is a loud no-op without retries") {
    val s = spark
    import s.implicits._
    val t = dir("race")
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
    ((0L until 900L).map(i => (i, s"r${i % 3}", 1L)) ++ Seq((5000L, "r2", 1L)))
      .toDF("id", "region", "d").createOrReplaceTempView("src_race")
    val merge =
      """MERGE INTO mgn.db.race t USING src_race s ON t.id = s.id AND t.region = s.region
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.d
        |WHEN NOT MATCHED THEN INSERT (id, region, v) VALUES (s.id, s.region, -1)
        |""".stripMargin
    val hc = s.sparkContext.hadoopConfiguration
    try {
      raceOnce()
      val v0 = versions.max
      assert(native(run(merge)).isDefined)
      val got = spark.table("mgn.db.race").select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length === 1201, "the inserted row lands once")
      got.foreach { case (id, v) =>
        val want = if (id == 5000L) -1L else if (id < 900) id + 1 else id
        assert(v === want, s"id $id changed more or less than once")
      }
      assert(versions.max === v0 + 1, "one statement, one version record")
      assert(lastOp("race") === "merge")
      assert(scratchDirs(t).isEmpty)

      // retries off: the conflict is loud and nothing is swapped
      hc.setInt(ColeDmlRetry.MaxRetriesKey, 0)
      raceOnce()
      val before = fileBytes(t)
      val e = intercept[Exception](spark.sql(merge))
      assert(ColeDmlRetry.isConflict(e), chain(e))
      assert(fileBytes(t) === before, "a rejected MERGE must leave every partition as it was")
      assert(versions.max === v0 + 1)
      assert(scratchDirs(t).isEmpty)
    } finally {
      ColeRewrite.raceWindow = () => ()
      hc.unset(ColeDmlRetry.MaxRetriesKey)
    }
  }

  test("a claim timeout drops the statement's scratch; vacuum sweeps stale .merge- directories") {
    val t = dir("claimed")
    plain(t)
    source("src_claimed", Seq((java.lang.Long.valueOf(5L), "a", 1L),
      (java.lang.Long.valueOf(7777L), "b", 2L)))
    val (fs, _) = ColeIO.resolve(t, conf)
    val files = ColeIO.listPartitioned(t, conf).map(_._1.getPath.toString)
    val hc = spark.sparkContext.hadoopConfiguration
    val wait = Option(hc.get(ColeClaims.WaitKey))
    hc.setLong(ColeClaims.WaitKey, 300L)
    val held = ColeClaims.acquire(fs, conf, t, files.map(ColeVersions.relOf(fs, t, _)), "test")
    try {
      val before = fileBytes(t)
      val e = intercept[Exception](spark.sql(upsert("src_claimed")("claimed")))
      assert(chain(e).contains("could not claim"), chain(e))
      assert(fileBytes(t) === before)
      assert(scratchDirs(t).isEmpty, s"scratch left behind: ${scratchDirs(t)}")
    } finally {
      held.release()
      wait.fold(hc.unset(ColeClaims.WaitKey))(hc.set(ColeClaims.WaitKey, _))
    }
    // a crash leaves its scratch: vacuum removes it once stale
    val stale = new java.io.File(s"$t/.merge-dead")
    assert(new java.io.File(stale, "region=x").mkdirs())
    stale.setLastModified(System.currentTimeMillis() - 3600000L)
    assert(ColeCompact.vacuum(t, conf, olderThanMs = 60000L) >= 1)
    assert(!stale.exists())
  }

  test("a tailing stream emits the rows a MERGE inserts exactly once, and not the updated row") {
    val s = spark
    import s.implicits._
    val t = dir("tail")
    (0 until 100).map(i => (i.toLong, s"t$i", i.toLong, 0.0)).toDF("id", "tag", "v", "d")
      .coalesce(1).write.format("cole").mode("overwrite").save(t)
    val cp = Files.createTempDirectory("cole_mgn_cp").toString
    val q = s.readStream.format("cole").load(t)
      .writeStream.format("memory").queryName("mgn_tail")
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      def ids = spark.table("mgn_tail").select("id").collect().map(_.getLong(0)).toSeq
      assert(ids.size === 100)
      Seq((5L, "u", 1L), (500L, "n", 2L), (501L, "n", 3L)).toDF("id", "tag", "v")
        .createOrReplaceTempView("src_tail")
      assert(native(run(upsert("src_tail")("tail"))).isDefined)
      q.processAllAvailable()
      assert(ids.count(_ == 500L) === 1 && ids.count(_ == 501L) === 1, ids.sorted.toString)
      // the updated row's replacement is a rewrite of rows already served
      assert(ids.count(_ == 5L) === 1)
      assert(ids.size === 102)
      spark.sql("INSERT INTO mgn.db.tail VALUES (700, 'i', 7, 0.0)")
      q.processAllAvailable()
      assert(ids.size === 103)
    } finally q.stop()
  }

  /** `sql` must plan ReplaceData and still apply. */
  private def fallsBack(sql: String): Unit = {
    val p = run(sql)
    assert(native(p).isEmpty, s"expected ReplaceData for: $sql\n$p")
    assert(p.collectFirst { case e: ColeDmlRetryExec => e }.isDefined, p.toString)
  }

  test("fallback matrix: every ineligible MERGE takes ReplaceData") {
    val s = spark
    import s.implicits._
    plain(dir("fm"))
    source("src_fm", (10L until 20L).map(i => (java.lang.Long.valueOf(i), "f", 1L)) ++
      Seq((java.lang.Long.valueOf(8888L), "f", 1L)))
    def count(t: String, c: org.apache.spark.sql.Column) = spark.table(s"mgn.db.$t").filter(c).count()
    // NOT MATCHED BY SOURCE
    fallsBack("""MERGE INTO mgn.db.fm t USING src_fm s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = 0
                |WHEN NOT MATCHED BY SOURCE AND t.id > 1195 THEN DELETE""".stripMargin)
    assert(count("fm", col("id") > 1195L) === 0L)
    // a DELETE action
    fallsBack("""MERGE INTO mgn.db.fm t USING src_fm s ON t.id = s.id
                |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(count("fm", col("id").between(10L, 19L)) === 0L)
    // conditional clauses
    fallsBack("""MERGE INTO mgn.db.fm t USING src_fm s ON t.id = s.id
                |WHEN MATCHED AND t.v > 0 THEN UPDATE SET v = 1""".stripMargin)
    fallsBack("""MERGE INTO mgn.db.fm t USING src_fm s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = 2
                |WHEN NOT MATCHED AND s.id > 9000 THEN INSERT (id, tag, v, d) VALUES (s.id, 'c', 0, 0.0)""".stripMargin)
    // a non-equi ON
    fallsBack("""MERGE INTO mgn.db.fm t USING src_fm s ON t.id = s.id + 100 OR t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = 3""".stripMargin)
    // a source-only ON conjunct under a NOT MATCHED clause: a source row
    // failing it is not matched and inserts
    fallsBack("""MERGE INTO mgn.db.fm t USING src_fm s ON t.id = s.id AND s.v > 0
                |WHEN MATCHED THEN UPDATE SET v = 3
                |WHEN NOT MATCHED THEN INSERT (id, tag, v, d) VALUES (s.id, 'n', 0, 0.0)""".stripMargin)
    assert(count("fm", col("v") === 3L) === 10L)
    // a source above the threshold, and the threshold off
    spark.conf.set(Threshold, "10")
    try fallsBack(upsert("src_fm")("fm")) finally spark.conf.unset(Threshold)
    viaReplaceData(fallsBack(upsert("src_fm")("fm")))
    // a subquery in the source (Spark rejects a non-deterministic one)
    fallsBack("""MERGE INTO mgn.db.fm t
                |USING (SELECT id, (SELECT max(v) FROM src_fm) AS m FROM src_fm) s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.m + 3""".stripMargin)
    assert(count("fm", col("v") === 4L) === 11L) // ids 10..19 and the inserted 8888
    // vector (merge-on-read) mode
    plain(dir("fv"))
    ColeDv.setMode(dir("fv"), conf, "vector")
    fallsBack(upsert("src_fm")("fv"))
    assert(count("fv", col("id") === 8888L) === 1L)
    // a branch write
    plain(dir("fw"))
    ColeVersions.enable(dir("fw"), conf)
    spark.sql("CALL mgn.system.create_branch('db.fw', 'b')")
    spark.conf.set(ColeRefs.WapBranchConfKey, "b")
    try fallsBack(upsert("src_fm")("fw"))
    finally spark.conf.unset(ColeRefs.WapBranchConfKey)
    // a clone
    plain(dir("fc_src"))
    ColeVersions.enable(dir("fc_src"), conf)
    spark.sql("CALL mgn.system.clone('db.fc_src', 'db.fc')")
    fallsBack(upsert("src_fm")("fc"))
    assert(count("fc", col("id") === 8888L) === 1L)
    // an assigned partition key
    (0 until 300).map(i => (i.toLong, s"r${i % 3}", i.toLong)).toDF("id", "region", "v")
      .write.format("cole").mode("overwrite").partitionBy("region").save(dir("fp"))
    fallsBack("""MERGE INTO mgn.db.fp t USING src_fm s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET region = 'moved'""".stripMargin)
    assert(count("fp", col("region") === "moved") === 10L)
    // an assigned bucket key
    (0 until 300).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:id").save(dir("fb"))
    fallsBack("""MERGE INTO mgn.db.fb t USING src_fm s ON t.v = s.id
                |WHEN MATCHED THEN UPDATE SET id = t.id + 1000""".stripMargin)
    assert(count("fb", col("id") >= 1000L) === 10L)
    // schema evolution adding a column
    plain(dir("fe"))
    Seq((5L, "e", 1L, "x")).toDF("id", "tag", "v", "extra").createOrReplaceTempView("src_fe")
    fallsBack("""MERGE WITH SCHEMA EVOLUTION INTO mgn.db.fe t USING src_fe s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("mgn.db.fe").filter(col("extra") === "x").count() === 1L)
  }
}
