package graft.sources.cole

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem that fails the first delete of a live data file
  * while [[ColeCrashFs.armed]], or the first rename of one away (a
  * versioned table retires a replaced file by renaming it): every caller
  * of the swap renames its new files in before it removes a replaced
  * one, so the failure lands after the renames and before the removals —
  * a crash inside the swap.
  */
class ColeCrashFs extends org.apache.hadoop.fs.LocalFileSystem {
  private def crashOn(f: HPath, what: String): Unit =
    if (f.getName.endsWith(".col") && !f.toUri.getPath.split('/').exists(_.startsWith(".")) &&
        ColeCrashFs.armed.compareAndSet(true, false))
      throw new java.io.IOException(s"injected crash before $what $f")

  override def delete(f: HPath, recursive: Boolean): Boolean = {
    crashOn(f, "deleting")
    super.delete(f, recursive)
  }

  override def rename(src: HPath, dst: HPath): Boolean = {
    crashOn(src, "retiring")
    super.rename(src, dst)
  }
}

object ColeCrashFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** [[ColeSwap]]: the one copy-on-write swap behind the native DML,
  * compaction, rebucket and the ReplaceData fallback. A crash between
  * its renames and its deletes recovers to exactly the table before or
  * after the statement — for every overwrite and `TRUNCATE TABLE` too,
  * on unversioned and versioned tables; a ReplaceData rewrite keeps the
  * bloom index; a tailing stream sees a root-manifest swap as in flight.
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

  // a path read of a table with no data file left fails to infer a schema
  private def rows(t: String): Seq[String] =
    if (ColeIO.listPartitioned(t, conf).isEmpty) Nil
    else spark.read.format("cole").load(t).select("id", "region", "v").collect()
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

  /** The rows [[write]] gives `ids`, as [[rows]] prints them. */
  private def rowsOf(ids: Range, region: Int => String = i => s"r${i % 3}"): Seq[String] =
    ids.map(i => s"[$i,${region(i)},${i * 10L}]").sorted

  /** One overwrite-shaped statement for the crash matrix: its name, the
    * table's layout, the statement and the table it leaves from `before`.
    */
  private case class Replace(name: String, partitioned: Boolean,
      run: String => Unit, after: Seq[String] => Seq[String],
      bucketBy: Option[String] = None)

  private val replaces = Seq(
    Replace("a truncating overwrite", partitioned = false,
      t => write(t, 1000 until 1100, files = 2), _ => rowsOf(1000 until 1100)),
    Replace("a truncating overwrite that re-lays the buckets out", partitioned = false,
      t => write(t, 1000 until 1100, files = 2, bucketBy = Some("8:id")),
      _ => rowsOf(1000 until 1100), bucketBy = Some("4:id")),
    Replace("a static-partition INSERT OVERWRITE", partitioned = true,
      t => spark.sql(s"INSERT OVERWRITE sw.db.${new HPath(t).getName} PARTITION (region = 'r1') " +
        "SELECT id, id * 10 AS v FROM range(1000, 1030)"),
      before => (before.filterNot(_.contains(",r1,")) ++ rowsOf(1000 until 1030, _ => "r1")).sorted),
    Replace("a dynamic partition overwrite", partitioned = true,
      t => {
        val s = spark
        import s.implicits._
        (1000 until 1030).map(i => (i.toLong, "r1", i * 10L)).toDF("id", "region", "v")
          .repartition(2).writeTo(s"sw.db.${new HPath(t).getName}").overwritePartitions()
      },
      before => (before.filterNot(_.contains(",r1,")) ++ rowsOf(1000 until 1030, _ => "r1")).sorted),
    Replace("TRUNCATE TABLE", partitioned = true,
      t => spark.sql(s"TRUNCATE TABLE sw.db.${new HPath(t).getName}"), _ => Nil))

  for ((r, i) <- replaces.zipWithIndex; versioned <- Seq(false, true)) {
    val kind = if (versioned) "versioned" else "unversioned"
    test(s"crash inside the swap of ${r.name} recovers to before or after ($kind)") {
      val t = dir(s"crash_replace_${i}_$kind")
      write(t, 0 until 300, files = 3, bucketBy = r.bucketBy, partitioned = r.partitioned)
      if (versioned) ColeVersions.enable(t, conf)
      val before = rows(t)
      val crashed = crashThenRecover(t)(r.run(t))
      if (r.after(before).isEmpty) assert(crashed == before, "no new file to rename in")
      else assert(crashed.size > before.size, "the crash must land after the renames")
      beforeOrAfter(t, before, r.after(before))
      bucketsDescribed(t)
    }
  }

  /** Every live bucketed file sits under the key of an era of the
    * `_bucketspec` history, and each of its rows hashes to its bucket
    * under that era's count.
    */
  private def bucketsDescribed(t: String): Unit = {
    val eras = ColeBucket.readHistory(t, conf).map(e => e.dirKey -> e.n).toMap
    ColeIO.listPartitioned(t, conf).map { case (st, pv) => (st.getPath.getParent, pv) }
      .distinct.foreach { case (d, pv) =>
        pv.filter(kv => ColeBucket.isBucketKey(kv._1)).foreach { case (k, b) =>
          assert(eras.contains(k), s"$d: no era of the bucket spec is keyed $k")
          spark.read.format("cole").load(d.toString).select("id").collect()
            .foreach(r => assert(ColeBucket.bucketOf(r.getLong(0), eras(k)).toString == b,
              s"${r.getLong(0)} does not hash to $k=$b under ${eras(k)} buckets"))
        }
      }
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
