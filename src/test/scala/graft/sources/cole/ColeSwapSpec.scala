package graft.sources.cole

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem that fails the first delete of a live data file
  * while [[ColeCrashFs.armed]]: every caller of the swap renames its new
  * files in before it deletes a replaced one, so the failure lands after
  * the renames and before the deletes — a crash inside the swap.
  */
class ColeCrashFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def delete(f: HPath, recursive: Boolean): Boolean = {
    if (f.getName.endsWith(".col") && !f.toUri.getPath.split('/').exists(_.startsWith(".")) &&
        ColeCrashFs.armed.compareAndSet(true, false))
      throw new java.io.IOException(s"injected crash before deleting $f")
    super.delete(f, recursive)
  }
}

object ColeCrashFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** [[ColeSwap]]: the one copy-on-write swap behind the native DML,
  * compaction, rebucket and the ReplaceData fallback. A crash between
  * its renames and its deletes recovers to exactly the table before or
  * after the statement; a ReplaceData rewrite keeps the bloom index; a
  * tailing stream sees a root-manifest swap as in flight.
  */
class ColeSwapSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_swap_wh").toString

  private lazy val spark: SparkSession = {
    // the native DML is planned by GraftExtensions' strategy: clear the
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
    s.conf.set("spark.sql.catalog.sw", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.sw.warehouse", warehouse)
    s
  }

  private def conf = ColeIO.driverConf()
  private def dir(name: String) = s"$warehouse/db/$name"

  private def rows(t: String): Seq[String] =
    spark.read.format("cole").load(t).select("id", "region", "v").collect()
      .map(_.toString).sorted.toSeq

  private def write(t: String, ids: Range, files: Int, mode: String = "overwrite",
      bucketBy: Option[String] = None, partitioned: Boolean = false): Unit = {
    val s = spark
    import s.implicits._
    var w = ids.map(i => (i.toLong, s"r${i % 3}", i.toLong * 10)).toDF("id", "region", "v")
      .repartition(files).write.format("cole").mode(mode)
    bucketBy.foreach(b => w = w.option("bucketBy", b))
    if (partitioned) w = w.partitionBy("region")
    w.save(t)
  }

  /** Runs `body` on a filesystem that crashes inside the swap, then the
    * recovery path; returns the table's rows before recovery.
    */
  private def crashThenRecover(t: String)(body: => Unit): Seq[String] = {
    spark.conf.set("fs.file.impl", classOf[ColeCrashFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    ColeCrashFs.armed.set(true)
    val e = try intercept[Throwable](body) finally {
      ColeCrashFs.armed.set(false)
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("injected crash")), e)
    val crashed = rows(t)
    val (fs, _) = ColeIO.resolve(t, conf)
    ColeSwap.recoverTable(fs, t, conf,
      ColeIO.listPartitioned(t, conf).map(_._1.getPath.getParent).distinct)
    crashed
  }

  private def beforeOrAfter(t: String, before: Seq[String], after: Seq[String]): Unit = {
    val got = rows(t)
    assert(got == before || got == after,
      s"recovered table is neither its before nor its after state: ${got.size} rows " +
        s"(before ${before.size}, after ${after.size}), ${got.diff(got.distinct).size} duplicates")
  }

  test("crash inside a native DELETE's swap recovers to before or after") {
    val t = dir("crash_delete")
    write(t, 0 until 300, files = 3)
    val before = rows(t)
    val crashed = crashThenRecover(t)(spark.sql("DELETE FROM sw.db.crash_delete WHERE id < 50"))
    assert(crashed.size > before.size, "the crash must land after the renames")
    beforeOrAfter(t, before, before.filterNot(_.matches("""\[([0-9]|[1-4][0-9]),.*""")))
  }

  test("crash inside compaction's swap recovers to before or after") {
    val t = dir("crash_compact")
    (0 until 4).foreach(k => write(t, k * 50 until k * 50 + 50, files = 1,
      mode = if (k == 0) "overwrite" else "append"))
    val before = rows(t)
    val crashed = crashThenRecover(t)(ColeCompact.compact(spark, t, targetBytes = 1L << 30))
    assert(crashed.size > before.size, "the crash must land after the renames")
    beforeOrAfter(t, before, before)
  }

  test("crash inside rebucket's swap recovers to before or after") {
    val t = dir("crash_rebucket")
    write(t, 0 until 200, files = 1, bucketBy = Some("2:id"))
    ColeBucket.evolve(t, conf, 4, Seq("id"))
    val before = rows(t)
    val crashed = crashThenRecover(t)(ColeRebucket.rebucket(spark, t))
    assert(crashed.size > before.size, "the crash must land after the renames")
    beforeOrAfter(t, before, before)
  }

  test("crash inside a ReplaceData UPDATE that moves rows across partitions recovers to before or after") {
    val t = dir("crash_replace")
    write(t, 0 until 300, files = 2, partitioned = true)
    val before = rows(t)
    // the partition key is not natively updatable: this plans ReplaceData
    val crashed = crashThenRecover(t)(
      spark.sql("UPDATE sw.db.crash_replace SET region = 'moved' WHERE id < 30"))
    assert(crashed.size > before.size, "the crash must land after the renames")
    val after = before.map { r =>
      val id = r.drop(1).takeWhile(_ != ',').toInt
      if (id < 30) r.replaceFirst(",r[0-9],", ",moved,") else r
    }.sorted
    beforeOrAfter(t, before, after)
  }

  test("a ReplaceData MERGE keeps the bloom index over the files it writes") {
    val s = spark
    import s.implicits._
    val t = dir("bloom")
    (0 until 4).foreach { k =>
      (k * 1000 until k * 1000 + 1000).map(i => (i.toLong, s"key_$i", 0L)).toDF("id", "k", "v")
        .coalesce(1).write.format("cole").mode(if (k == 0) "overwrite" else "append")
        .option("rowGroupSize", "250").save(t)
    }
    assert(ColeBloomIndex.build(t, Seq("k"), conf) === 4)
    // a lookup of an absent key skips every indexed row group each time
    // the scan plans
    def groups = ColeMetaCache.infos(t, conf).map(_.meta.rowGroups.size).sum.toLong
    def lookupSkips(): Long = {
      ColeBloomIndex.skippedRowGroups.set(0)
      assert(spark.read.format("cole").load(t).filter(col("k") === "absent").count() === 0L)
      ColeBloomIndex.skippedRowGroups.get()
    }
    val plannings = lookupSkips() / groups
    assert(plannings >= 1 && lookupSkips() === plannings * groups)
    (10L until 20L).map(i => (i, 1L)).toDF("id", "d").createOrReplaceTempView("bloom_src")
    // a conditional clause: not a native MERGE
    spark.sql("""MERGE INTO sw.db.bloom t USING bloom_src s ON t.id = s.id
                |WHEN MATCHED AND s.d > 0 THEN UPDATE SET v = 100""".stripMargin)
    val (fs, _) = ColeIO.resolve(t, conf)
    val live = ColeIO.listPartitioned(t, conf).map(_._1.getPath.toString)
    live.foreach(f => assert(fs.exists(new HPath(ColeBloomIndex.sidecarPath(f))),
      s"$f has no bloom sidecar"))
    assert(lookupSkips() === plannings * groups,
      "a point lookup must skip every row group of every file, rewritten ones included")
    assert(spark.read.format("cole").load(t).filter(col("k") === "key_15")
      .select("v").as[Long].collect().toSeq === Seq(100L))
  }

  test("a capped stream inside a rebucket's record-to-rename window serves every row once") {
    val s = spark
    import s.implicits._
    val t = Files.createTempDirectory("cole_swap_stream").toString
    val cp = Files.createTempDirectory("cole_swap_stream_cp").toString
    write(t, 0 until 100, files = 1, bucketBy = Some("4:id"))
    ColeBucket.evolve(t, conf, 8, Seq("id"))
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var q: org.apache.spark.sql.streaming.StreamingQuery = null
    // the stream starts while the root manifest is in flight: the record
    // is durable, the outputs are not renamed yet, and one input per
    // trigger leaves the others unserved when it first reads the record
    ColeSwap.betweenRecordAndRenameHook.set(() => {
      q = s.readStream.format("cole").option("maxFilesPerTrigger", "1").load(t)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("id").as[Long].collect().foreach(received.add); ()
        }
        .option("checkpointLocation", cp).start()
      q.processAllAvailable()
    })
    try assert(ColeRebucket.rebucket(s, t).filesRewritten === 4)
    finally ColeSwap.betweenRecordAndRenameHook.set(() => ())
    try {
      q.processAllAvailable()
      write(t, 100 until 120, files = 1, mode = "append")
      q.processAllAvailable()
    } finally q.stop()
    val ids = received.toArray.map(_.asInstanceOf[Long]).toSeq.sorted
    assert(ids === (0L until 120L), s"${ids.size} rows, ${ids.diff(ids.distinct).size} repeated")
  }
}
