package graft.sources.cole

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every overwrite writes its files invisibly and swaps them in at
  * commit ([[ColeSwap.replace]]), as `TRUNCATE TABLE` swaps the table's
  * files out: a failed overwrite leaves the table as it was, a
  * self-overwrite reads files that are still live, no sidecar outlives
  * its data file, a tailing stream serves the new rows once, and the
  * version log still names the statements.
  */
class ColeOverwriteSwapSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_ows_wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.ows", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.ows.warehouse", warehouse)
    s
  }

  private def conf = ColeIO.driverConf()
  private def dir(name: String) = s"$warehouse/db/$name"

  private def data(ids: Range): DataFrame =
    spark.range(ids.start, ids.end).select(col("id"),
      concat(lit("r"), (col("id") % 3).cast("string")).as("region"),
      concat(lit("key_"), col("id").cast("string")).as("k"))

  private def rows(t: String): Seq[String] =
    spark.read.format("cole").load(t).select("id", "region", "k").collect()
      .map(_.toString).sorted.toSeq

  private def seed(t: String, partitioned: Boolean = false): Unit = {
    val w = data(0 until 300).repartition(3).write.format("cole").mode("overwrite")
    (if (partitioned) w.partitionBy("region") else w).save(t)
  }

  /** A `.bloomidx` or `.dv` sidecar whose data file is gone. */
  private def orphanSidecars(t: String): Seq[String] = {
    val (fs, root) = ColeIO.resolve(t, conf)
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      Seq(".bloomidx", ".dv").find(p.getName.endsWith).foreach { ext =>
        val data = new HPath(p.toString.stripSuffix(ext))
        if (!p.toUri.getPath.contains(s"/${ColeVersions.DirName}/") && !fs.exists(data))
          out += p.toString
      }
    }
    out.result()
  }

  /** One NULL string among the rows: format v1 (these schemas' default)
    * rejects it inside the write task that receives it, after any
    * exchange the write requires.
    */
  private def failing(df: DataFrame): DataFrame =
    df.withColumn("k", when(col("id") === 1003L, lit(null).cast("string")).otherwise(col("k")))

  private def failsInWriteTask(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("does not support NULLs")), e)
  }

  test("a failed truncating or static-partition overwrite keeps every old row") {
    val t = dir("failed")
    seed(t)
    val before = rows(t)
    failsInWriteTask(failing(data(1000 until 1100))
      .write.format("cole").mode("overwrite").save(t))
    assert(rows(t) === before, "a failed truncating overwrite lost rows")
    val tp = dir("failed_part")
    seed(tp, partitioned = true)
    val beforePart = rows(tp)
    failing(data(1000 until 1100)).filter(col("region") === "r1").drop("region")
      .createOrReplaceTempView("failing_src")
    failsInWriteTask(spark.sql(
      "INSERT OVERWRITE ows.db.failed_part PARTITION (region = 'r1') SELECT id, k FROM failing_src"))
    assert(rows(tp) === beforePart, "a failed static-partition overwrite lost rows")
    assert(ColeIO.listPartitioned(tp, conf).nonEmpty)
  }

  test("a truncating overwrite re-lays the buckets out as a new era; a failed one keeps the layout") {
    val t = dir("relayout")
    data(0 until 300).write.format("cole").mode("overwrite").option("bucketBy", "4:id").save(t)
    val before = rows(t)
    failsInWriteTask(failing(data(1000 until 1100)).write.format("cole")
      .mode("overwrite").option("bucketBy", "8:id").save(t))
    assert(rows(t) === before, "a failed re-laying overwrite lost rows")
    assert(ColeBucket.readHistory(t, conf).map(e => (e.n, e.cols)) === Seq((4, Seq("id"))),
      "a failed overwrite changed the bucket layout")
    data(1000 until 1100).write.format("cole").mode("overwrite").option("bucketBy", "8:id").save(t)
    assert(ColeBucket.readSpec(t, conf) === Some((8, Seq("id"))))
    val live = ColeIO.listPartitioned(t, conf)
    assert(live.forall(_._2.map(_._1) == Seq(ColeBucket.dirKeyOf(1))), live.map(_._2))
    assert(rows(t) === data(1000 until 1100).collect().map(_.toString).sorted.toSeq)
    assert(spark.read.format("cole").load(t).filter(col("id") === 1042L).count() === 1L)
  }

  test("a self-overwrite leaves exactly the filtered rows") {
    val t = dir("self")
    seed(t)
    val kept = rows(t).filter(_.drop(1).takeWhile(_ != ',').toInt % 2 == 0)
    spark.read.format("cole").load(t).filter(col("id") % 2 === 0)
      .write.format("cole").mode("overwrite").save(t)
    assert(rows(t) === kept)
  }

  test("no bloom or deletion-vector sidecar outlives the files TRUNCATE or an overwrite removes") {
    def indexedWithVector(name: String): String = {
      val t = dir(name)
      seed(t)
      assert(ColeBloomIndex.build(t, Seq("k"), conf) === 3)
      spark.sql(s"CALL ows.system.delete_mode('db.$name', 'vector')")
      spark.sql(s"DELETE FROM ows.db.$name WHERE id < 10")
      val (fs, _) = ColeIO.resolve(t, conf)
      val files = ColeIO.listPartitioned(t, conf).map(_._1.getPath.toString)
      assert(files.exists(f => fs.exists(new HPath(ColeDv.sidecarPath(f)))), "no vector written")
      assert(files.forall(f => fs.exists(new HPath(ColeBloomIndex.sidecarPath(f)))))
      t
    }
    val truncated = indexedWithVector("sidecars_truncate")
    spark.sql("TRUNCATE TABLE ows.db.sidecars_truncate")
    assert(spark.table("ows.db.sidecars_truncate").count() === 0L)
    assert(orphanSidecars(truncated).isEmpty,
      s"TRUNCATE left sidecars: ${orphanSidecars(truncated)}")
    val overwritten = indexedWithVector("sidecars_overwrite")
    data(1000 until 1100).write.format("cole").mode("overwrite").save(overwritten)
    assert(spark.read.format("cole").load(overwritten).count() === 100L)
    assert(orphanSidecars(overwritten).isEmpty,
      s"a truncating overwrite left sidecars: ${orphanSidecars(overwritten)}")
  }

  test("a file-tailing stream serves an overwrite's rows exactly once") {
    val s = spark
    import s.implicits._
    val t = dir("stream")
    seed(t)
    val cp = Files.createTempDirectory("cole_ows_cp").toString
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("cole").load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("id").as[Long].collect().foreach(received.add); ()
      }
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      data(1000 until 1100).repartition(2).write.format("cole").mode("overwrite").save(t)
      q.processAllAvailable()
    } finally q.stop()
    val ids = received.toArray.map(_.asInstanceOf[Long]).toSeq.sorted
    assert(ids === (0L until 300L) ++ (1000L until 1100L),
      s"${ids.size} rows, ${ids.diff(ids.distinct).size} repeated")
  }

  test("a versioned table's history still reads overwrite and truncate") {
    val t = dir("hist")
    seed(t)
    ColeVersions.enable(t, conf)
    data(1000 until 1100).write.format("cole").mode("overwrite").save(t)
    spark.sql("TRUNCATE TABLE ows.db.hist")
    val ops = spark.sql("SELECT operation FROM ows.db.`hist$history` ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops.takeRight(2) === Seq("overwrite", "truncate"), ops)
    assert(spark.read.format("cole").option("versionAsOf", "2").load(t).count() === 100L)
    assert(spark.table("ows.db.hist").count() === 0L)
  }
}
