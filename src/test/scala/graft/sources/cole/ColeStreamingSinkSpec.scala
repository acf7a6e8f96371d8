package graft.sources.cole

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

final case class SinkRow(id: Long, grp: String, v: Long)
final case class EvoRow(id: Long, grp: String, v: Long, w: Option[Long])

/** Streaming (Append) writes into the COLE layout: per-epoch files land
  * atomically at epoch commit, replays converge on the same file names,
  * and the result reads back through the batch reader with pushdown
  * intact.
  */
class ColeStreamingSinkSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def rows(from: Int, until: Int): Seq[SinkRow] =
    (from until until).map(i => SinkRow(i.toLong, s"g${i % 3}", i.toLong * 2))

  test("append across micro-batches, read back via the batch reader") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_sink").toString
    val cp = Files.createTempDirectory("cole_stream_cp").toString
    val source = MemoryStream[SinkRow](spark)
    val q = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cp)
      .option("rowGroupSize", "64")
      .outputMode(OutputMode.Append).start()
    source.addData(rows(0, 100))
    q.processAllAvailable()
    source.addData(rows(100, 250))
    q.processAllAvailable()
    q.stop()

    val back = s.read.format("cole").load(dir)
    assert(back.count() === 250L)
    assert(back.agg(sum("v")).head.getLong(0) === (0 until 250).map(_ * 2L).sum)
    // epoch-deterministic finals, no leftover in-progress files
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("part-e0-")), s"epoch-0 file missing: ${names.toSeq}")
    assert(names.exists(_.startsWith("part-e1-")), s"epoch-1 file missing: ${names.toSeq}")
    assert(!names.exists(_.contains("inprogress")), s"tmp leaked: ${names.toSeq}")
    // filters still push down through files a streaming query wrote
    val filtered = back.filter(col("id") >= 200L)
    assert(filtered.count() === 50L)
    assert(!filtered.queryExecution.executedPlan.toString.contains("Filter "),
      "claimed numeric filter should leave no residual over streamed files")
  }

  test("writeStream.toTable into a DDL-created bucketed table: SPJ from epoch one") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("cole_totable_wh").toString
    s.conf.set("spark.sql.catalog.twh", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.twh.warehouse", wh)
    // the warehouse lifecycle: the table exists (bucketed) BEFORE any data
    spark.sql("CREATE TABLE twh.db.ingest (id BIGINT, grp STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    val cp = Files.createTempDirectory("cole_totable_cp").toString
    val source = MemoryStream[SinkRow](spark)
    val q = source.toDF().writeStream
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append)
      .toTable("twh.db.ingest")
    source.addData(rows(0, 300))
    q.processAllAvailable()

    // batch side, same catalog: bucketed on the same key
    (0 until 300 by 3).map(i => (i.toLong, s"m$i")).toDF("id2", "mtag")
      .write.format("cole").mode("overwrite").option("bucketBy", "4:id2")
      .save(s"$wh/db/dim")

    def assertSpj(expectRows: Long): Unit = {
      val olds = Seq("spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val a = spark.table("twh.db.ingest")
        val b = spark.table("twh.db.dim")
        val j = a.join(b, a("id") === b("id2"))
        j.collect()
        def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
          (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) 1 else 0) +
            p.children.map(shuffles).sum + (p match {
              case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                shuffles(ad.executedPlan)
              case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                shuffles(qs.plan)
              case _ => 0
            })
        assert(shuffles(j.queryExecution.executedPlan) === 0,
          s"streamed bucketed table must SPJ-join with zero Exchange:\n" +
            s"${j.queryExecution.executedPlan}")
        assert(j.count() === expectRows)
      } finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // epoch one already joins shuffle-free
    assertSpj(100L)
    // later epochs keep the layout (and the join stays exchange-free)
    source.addData(rows(300, 600))
    q.processAllAvailable()
    q.stop()
    assertSpj(100L)
    // every streamed row landed in its hash bucket
    for (b <- 0 until 4) {
      val ks = spark.read.format("cole").load(s"$wh/db/ingest/_bucket=$b")
        .select("id").collect().map(_.getLong(0))
      ks.foreach(k => assert(ColeBucket.bucketOf(k, 4) === b,
        s"streamed row $k in wrong bucket $b"))
    }
    assert(spark.table("twh.db.ingest").count() === 600L)
  }

  test("bucketed streaming sink: epochs land in the shuffle-free layout") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("cole_stream_bwh").toString
    s.conf.set("spark.sql.catalog.sbwh", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.sbwh.warehouse", wh)
    val dir = s"$wh/ingest"
    val cp = Files.createTempDirectory("cole_stream_bcp").toString
    val source = MemoryStream[SinkRow](spark)
    val q = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cp)
      .option("bucketBy", "4:id")
      .outputMode(OutputMode.Append).start()
    source.addData(rows(0, 300))
    q.processAllAvailable()
    source.addData(rows(300, 700))
    q.processAllAvailable()
    q.stop()

    // layout: sidecar + per-bucket dirs, every row in its hash bucket,
    // no leaked in-progress files
    assert(ColeBucket.readSpec(dir, ColeIO.driverConf()) === Some((4, Seq("id"))))
    for (b <- 0 until 4) {
      val d = new java.io.File(s"$dir/_bucket=$b")
      assert(d.isDirectory, s"bucket dir $b missing")
      assert(!d.listFiles().exists(_.getName.contains("inprogress")))
      spark.read.format("cole").load(d.toString).select("id").collect()
        .map(_.getLong(0))
        .foreach(k => assert(ColeBucket.bucketOf(k, 4) === b))
    }
    val back = s.read.format("cole").load(dir)
    assert(back.count() === 700)
    // the streamed table joins a batch-bucketed table with ZERO Exchange
    rows(0, 700).toDF().groupBy("id").agg(max("v").as("mv"))
      .write.format("cole").mode("overwrite").option("bucketBy", "4:id")
      .save(s"$wh/dims")
    val olds = "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("sbwh.ingest").join(spark.table("sbwh.dims"), "id")
      j.collect()
      def countEx(p: org.apache.spark.sql.execution.SparkPlan): Int =
        (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) 1 else 0) +
          p.children.map(countEx).sum + (p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              countEx(a.executedPlan)
            case qse: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              countEx(qse.plan)
            case _ => 0
          })
      assert(countEx(j.queryExecution.executedPlan) === 0,
        s"streamed bucketed table must SPJ with zero Exchange:\n${j.queryExecution.executedPlan}")
      assert(j.count() === 700)
    } finally olds._2 match {
      case Some(v) => spark.conf.set(olds._1, v)
      case None => spark.conf.unset(olds._1)
    }
  }

  test("epoch replay overwrites the same final names (no duplicates)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_replay").toString
    val data = rows(0, 50).toDF()
    val schema = data.schema
    val write = new ColeWriteBuilder(schema, dir, 64, ColeIO.driverConf())
      .build().toStreaming
    def runEpoch(epochId: Long, taskId: Long): Unit = {
      val factory = write.createStreamingWriterFactory(null)
      val w = factory.createWriter(0, taskId, epochId)
      data.queryExecution.toRdd.collect().foreach(w.write)
      val msg = w.commit()
      write.commit(epochId, Array(msg))
    }
    runEpoch(0L, 7L)
    val before = s.read.format("cole").load(dir).count()
    // the same epoch re-attempted by a different task (driver died before
    // checkpointing): must converge on the same file, not append a copy
    runEpoch(0L, 8L)
    val after = s.read.format("cole").load(dir)
    assert(before === 50L && after.count() === 50L,
      "replayed epoch duplicated rows")
    val names = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".col"))
    assert(names.length === 1 && names.head.startsWith("part-e0-"),
      s"replay produced extra files: ${names.toSeq}")
  }

  test("epoch replay converges in partitioned, bucketed and temporal+bucketed layouts") {
    val s = spark
    import s.implicits._
    val plain = rows(0, 60).toDF()
    // 60 rows two hours apart: five day directories
    val stamped = plain.withColumn("ts", timestamp_seconds(col("id") * 7200L))
    def colFiles(dir: String): Seq[String] = {
      val root = new java.io.File(dir).toPath
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString)
        .filter(n => n.endsWith(".col") || n.contains("inprogress")).toSeq.sorted
    }
    val layouts = Seq(
      ("partitioned", plain, (d: String) => new ColeWriteBuilder(plain.schema, d,
        16, ColeIO.driverConf(), partCols = Seq("grp"))),
      ("bucketed", plain, (d: String) => new ColeWriteBuilder(plain.schema, d,
        16, ColeIO.driverConf(), bucketSpec = Some((4, Seq("id"))))),
      ("temporal+bucketed", stamped, (d: String) => new ColeWriteBuilder(
        stamped.schema, d, 16, ColeIO.driverConf(),
        bucketSpec = Some((4, Seq("id"))),
        temporal = Some(ColeTemporal.Spec("days", "ts")))))
    layouts.foreach { case (layout, data, builder) =>
      val dir = Files.createTempDirectory("cole_stream_replay_layout").toString
      val write = builder(dir).build().toStreaming
      def runEpoch(epochId: Long, taskId: Long): Unit = {
        val factory = write.createStreamingWriterFactory(null)
        val w = factory.createWriter(0, taskId, epochId)
        data.queryExecution.toRdd.collect().foreach(w.write)
        write.commit(epochId, Array(w.commit()))
      }
      runEpoch(0L, 7L)
      val before = colFiles(dir)
      assert(s.read.format("cole").load(dir).count() === 60L, layout)
      runEpoch(0L, 8L)
      assert(colFiles(dir) === before, s"$layout: replay changed the file set")
      assert(s.read.format("cole").load(dir).count() === 60L,
        s"$layout: replayed epoch duplicated rows")
      assert(before.size > 1 && before.forall(n =>
        n.substring(n.lastIndexOf('/') + 1).startsWith("part-e0-p00000-")),
        s"$layout: ${before.mkString(", ")}")
    }
  }

  test("streamed appends follow the batch append's evolution rules") {
    val s = spark
    import s.implicits._
    // a column absent from every existing file, NULL on half the rows:
    // the batch append writes it (format v2 for the evolved table), and
    // the streamed append must land the same rows
    val evolved = (100 until 160).map(i =>
      EvoRow(i.toLong, s"g${i % 3}", i * 2L, if (i % 2 == 0) None else Some(i * 3L)))
    val batchDir = Files.createTempDirectory("cole_stream_evo_b").toString
    val streamDir = Files.createTempDirectory("cole_stream_evo_s").toString
    Seq(batchDir, streamDir).foreach(d =>
      rows(0, 100).toDF().coalesce(1).write.format("cole").mode("overwrite").save(d))
    evolved.toDF().coalesce(1).write.format("cole").mode("append").save(batchDir)
    val cp = Files.createTempDirectory("cole_stream_evo_cp").toString
    val source = MemoryStream[EvoRow](spark)
    val q = source.toDF().writeStream.format("cole")
      .option("path", streamDir).option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    source.addData(evolved)
    q.processAllAvailable()
    q.stop()
    val want = rows(0, 100).map(r => EvoRow(r.id, r.grp, r.v, None)) ++ evolved
    Seq(batchDir, streamDir).foreach { d =>
      val got = s.read.format("cole").load(d).select("id", "grp", "v", "w")
        .as[EvoRow].collect().sortBy(_.id).toSeq
      assert(got === want, d)
    }

    // a column named after a RENAME source: old files still store the
    // renamed column under that name, so batch and stream both refuse it
    val wh = Files.createTempDirectory("cole_stream_evo_wh").toString
    s.conf.set("spark.sql.catalog.sevo", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.sevo.warehouse", wh)
    val t = s"$wh/db/rn"
    rows(0, 100).toDF().coalesce(1).write.format("cole").mode("overwrite").save(t)
    spark.sql("ALTER TABLE sevo.db.rn RENAME COLUMN v TO vv")
    def refused(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains("stored name")))
    val batchErr = intercept[Exception] {
      rows(100, 110).toDF().write.format("cole").mode("append").save(t)
    }
    assert(refused(batchErr), batchErr.toString)
    val cp2 = Files.createTempDirectory("cole_stream_evo_cp2").toString
    val source2 = MemoryStream[SinkRow](spark)
    val q2 = source2.toDF().writeStream.format("cole")
      .option("path", t).option("checkpointLocation", cp2)
      .outputMode(OutputMode.Append).start()
    source2.addData(rows(100, 110))
    val streamErr = intercept[Exception](q2.processAllAvailable())
    try q2.stop() catch { case _: Exception => () }
    assert(refused(streamErr), streamErr.toString)
    assert(spark.table("sevo.db.rn").count() === 100L)
  }

  test("partitioned streaming write: key=value layout with partition pruning") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_part").toString
    val cp = Files.createTempDirectory("cole_stream_part_cp").toString
    val source = MemoryStream[SinkRow](spark)
    val q = source.toDF().writeStream.format("cole")
      .option("partitionBy", "grp") // writeStream.partitionBy never reaches V2 sinks
      .option("path", dir).option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    source.addData(rows(0, 120))
    q.processAllAvailable()
    source.addData(rows(120, 300))
    q.processAllAvailable()
    q.stop()

    // _cole_manifest is the sink's per-epoch commit log the streaming
    // source tails; data layout is the key=value directories
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(subdirs.toSeq === Seq("grp=g0", "grp=g1", "grp=g2"), s"layout: ${subdirs.toSeq}")
    val back = s.read.format("cole").load(dir)
    assert(back.count() === 300L)
    val one = back.filter(col("grp") === "g1")
    assert(one.count() === 100L)
    assert(one.select(sum("v")).head.getLong(0) ===
      (0 until 300).filter(_ % 3 == 1).map(_ * 2L).sum)
  }

  test("readStream picks up newly appended files per micro-batch") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_src").toString
    val cp = Files.createTempDirectory("cole_stream_src_cp").toString
    rows(0, 100).toDF().coalesce(2).write.format("cole").mode("append").save(dir)
    val q = s.readStream.format("cole").load(dir)
      .filter(col("id") % 2 === 0)
      .writeStream.format("memory").queryName("cole_src_out")
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(s.table("cole_src_out").count() === 50L)
    // new files appended by a BATCH writer form the next micro-batch
    rows(100, 300).toDF().coalesce(3).write.format("cole").mode("append").save(dir)
    q.processAllAvailable()
    q.stop()
    val out = s.table("cole_src_out")
    assert(out.count() === 150L)
    assert(out.agg(max("id")).head.getLong(0) === 298L)
    assert(out.select("id").as[Long].collect().toSet ===
      (0 until 300 by 2).map(_.toLong).toSet)
  }

  test("source restart resumes from the file log, offsets stay O(1)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_restart").toString
    val outDir = Files.createTempDirectory("cole_stream_restart_out").toString
    val cp = Files.createTempDirectory("cole_stream_restart_cp").toString
    rows(0, 100).toDF().coalesce(2).write.format("cole").mode("append").save(dir)
    def run(): Unit = {
      // memory/console sinks refuse checkpoint recovery — the cole sink
      // is itself restartable, so the round trip doubles as the harness
      val q = s.readStream.format("cole").load(dir)
        .writeStream.format("cole")
        .option("path", outDir).option("checkpointLocation", cp)
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    assert(s.read.format("cole").load(outDir).count() === 100L)
    // files arriving while the query is DOWN must form the first batch of
    // the restarted query, and already-processed files must not repeat
    rows(100, 250).toDF().coalesce(2).write.format("cole").mode("append").save(dir)
    run()
    val out = s.read.format("cole").load(outDir).select("id").as[Long].collect()
    assert(out.length === 250 && out.toSet === (0L until 250L).toSet,
      s"restart must append exactly the unseen files: got ${out.length} rows")
    // the checkpointed offsets are sequence numbers, not file lists:
    // every serialized offset stays a handful of bytes at any file count
    val offsetsDir = new java.io.File(cp, "offsets")
    val texts = offsetsDir.listFiles().filter(_.isFile).map(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath)))
    assert(texts.nonEmpty)
    texts.foreach(t => assert(!t.contains(".col"),
      s"offset log leaked file paths (O(files) offsets): $t"))
  }

  test("maxFilesPerTrigger drains a backlog over bounded micro-batches") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_rate").toString
    val cp = Files.createTempDirectory("cole_stream_rate_cp").toString
    // a 5-file backlog exists BEFORE the stream starts
    (0 until 5).foreach(i =>
      rows(i * 10, i * 10 + 10).toDF().coalesce(1)
        .write.format("cole").mode("append").save(dir))
    val q = s.readStream.format("cole")
      .option("maxFilesPerTrigger", "2").load(dir)
      .writeStream.format("memory").queryName("cole_rate_out")
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    // all rows arrive...
    assert(s.table("cole_rate_out").select("id").as[Long].collect().toSet ===
      (0L until 50L).toSet)
    // ...across ceil(5/2)=3 bounded batches, visible as 3 log entries
    val log = new java.io.File(cp, "sources/0/cole-file-log")
    assert(log.listFiles().count(_.getName.forall(_.isDigit)) === 3,
      s"expected 3 rate-limited admissions in ${log}")
  }

  test("sink-to-source round trip: epochs written become micro-batches read") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_rt").toString
    val cpW = Files.createTempDirectory("cole_stream_rt_cpw").toString
    val cpR = Files.createTempDirectory("cole_stream_rt_cpr").toString
    val source = MemoryStream[SinkRow](spark)
    val writer = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cpW)
      .outputMode(OutputMode.Append).start()
    source.addData(rows(0, 80))
    writer.processAllAvailable()
    val reader = s.readStream.format("cole").load(dir)
      .groupBy("grp").agg(sum("v").as("v_sum"))
      .writeStream.format("memory").queryName("cole_rt_out")
      .option("checkpointLocation", cpR)
      .outputMode(OutputMode.Complete).start()
    reader.processAllAvailable()
    source.addData(rows(80, 200))
    writer.processAllAvailable()
    reader.processAllAvailable()
    writer.stop(); reader.stop()
    val got = s.table("cole_rt_out").as[(String, Long)].collect().toMap
    val want = rows(0, 200).groupBy(_.grp).map { case (g, rs) => g -> rs.map(_.v).sum }
    assert(got === want)
  }

  test("Complete output mode is rejected") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_stream_complete").toString
    val cp = Files.createTempDirectory("cole_stream_complete_cp").toString
    val source = MemoryStream[SinkRow](spark)
    val agg = source.toDF().groupBy("grp").agg(sum("v").as("v_sum"))
    val ex = intercept[Exception] {
      val q = agg.writeStream.format("cole")
        .option("path", dir).option("checkpointLocation", cp)
        .outputMode(OutputMode.Complete).start()
      source.addData(rows(0, 10))
      q.processAllAvailable()
      q.stop()
    }
    assert(ex.toString.toLowerCase.contains("append") ||
      Option(ex.getCause).exists(_.toString.toLowerCase.contains("append")),
      s"unexpected error: $ex")
  }
}
