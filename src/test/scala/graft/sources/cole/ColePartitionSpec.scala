package graft.sources.cole

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hive-style partitioned `.col` tables: partitionBy writes route rows to
  * key=value directories; reads infer partition columns from the layout,
  * materialize them as per-file constants, and prune whole files from
  * partition predicates — statically at planning and dynamically from
  * join-produced runtime IN filters.
  */
class ColePartitionSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def freshDir() = Files.createTempDirectory("cole_part").toString

  test("partitionBy write produces key=value dirs; read round-trips") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val df = (0 until 10000)
      .map(i => (i.toLong, s"r-${i % 4}", i % 3, s"payload-$i"))
      .toDF("id", "region", "bucket", "payload")
    df.write.format("cole").mode("overwrite")
      .partitionBy("region", "bucket").save(dir)
    val top = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(top.toSet === (0 until 4).map(i => s"region=r-$i").toSet, top.toSeq)
    val back = spark.read.format("cole").load(dir)
    // partition columns come back appended, with their original types
    assert(back.columns.toSet === Set("id", "payload", "region", "bucket"))
    assert(back.schema("bucket").dataType === org.apache.spark.sql.types.IntegerType)
    assert(back.count() === 10000)
    assert(back.select("id", "region", "bucket", "payload").collect().map(_.toSeq).toSet ===
      df.collect().map(_.toSeq).toSet)
  }

  test("partition predicates prune whole files at planning") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0 until 8000).map(i => (i.toLong, s"k-${i % 8}"))
      .toDF("id", "part").write.format("cole").mode("overwrite")
      .partitionBy("part").save(dir)
    val schema = spark.read.format("cole").load(dir).schema
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new ColeScanBuilder(schema, dir, ColeIO.driverConf(), Set("part"))
      b.pushFilters(filters)
      b.build().asInstanceOf[ColeScan].planInputPartitions().length
    }
    val all = planned(Array.empty)
    assert(all >= 8, s"expected >=8 file partitions, got $all")
    assert(planned(Array(org.apache.spark.sql.sources.EqualTo("part", "k-3"))) * 8 <= all * 2,
      "EqualTo on the partition column should prune to ~1/8 of the files")
    assert(planned(Array(org.apache.spark.sql.sources.In("part", Array("k-1", "k-5")))) * 4 <= all,
      "IN on the partition column should prune to ~1/4 of the files")
    assert(planned(Array(org.apache.spark.sql.sources.EqualTo("part", "absent"))) === 0)
    // results stay exact through the public API
    val q = spark.read.format("cole").load(dir)
      .filter(col("part") === "k-3")
    assert(q.count() === 1000)
    assert(q.select(sum("id")).head().getLong(0) ===
      (0 until 8000).filter(_ % 8 == 3).map(_.toLong).sum)
  }

  test("numeric partition values: typed columns, range + IN pruning semantics") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0 until 6000).map(i => (i.toLong, (2020 + i % 3)))
      .toDF("id", "year").write.format("cole").mode("overwrite")
      .partitionBy("year").save(dir)
    val back = spark.read.format("cole").load(dir)
    assert(back.schema("year").dataType === org.apache.spark.sql.types.IntegerType)
    assert(back.filter(col("year") === 2021).count() === 2000)
    assert(back.filter(col("year") >= 2021).count() === 4000)
    assert(back.filter(col("year").isin(2020, 2022)).count() === 4000)
    assert(back.filter(col("year") =!= 2020).select(sum("id")).head().getLong(0) ===
      (0 until 6000).filter(i => i % 3 != 0).map(_.toLong).sum)
  }

  test("special characters in partition values escape and round-trip") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val vals = Seq("a/b", "x=y", "pct%20", "plain", "col:on")
    vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "k").write.format("cole").mode("overwrite")
      .partitionBy("k").save(dir)
    val back = spark.read.format("cole").load(dir)
    assert(back.select("k").distinct().collect().map(_.getString(0)).toSet === vals.toSet)
    assert(back.filter(col("k") === "a/b").count() === 1)
    assert(back.filter(col("k") === "x=y").select("id").head().getLong(0) === 1L)
  }

  test("aggregates on partitioned tables: pushes for data cols, falls back for part cols") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0 until 4000).map(i => (i.toLong, s"p-${i % 4}"))
      .toDF("v", "part").write.format("cole").mode("overwrite")
      .partitionBy("part").save(dir)
    val back = spark.read.format("cole").load(dir)
    // data-column aggregate with a partition filter: partition pruning +
    // aggregate pushdown compose
    val q = back.filter(col("part") === "p-2").agg(sum("v").as("s"), count(lit(1)).as("c"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(q.head() === org.apache.spark.sql.Row(
      (0 until 4000).filter(_ % 4 == 2).map(_.toLong).sum, 1000L))
    // grouping BY the partition column pushes: the key is a per-file
    // constant the reader emits without reading the group chunk
    val g = back.groupBy("part").agg(sum("v").as("s"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedGroupBy: [part]"),
      s"group-by partition column should push:\n${g.queryExecution.executedPlan}")
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      (0 until 4000).groupBy(i => s"p-${i % 4}")
        .map { case (k, is) => k -> is.map(_.toLong).sum })
    // AGGREGATING a partition column still falls back
    val m = back.groupBy("v").agg(min("part"))
    assert(!m.queryExecution.executedPlan.toString.contains("PushedAggregates"))
  }

  test("count-only group-by over partition columns is metadata-only") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0 until 6000).map(i => (i.toLong, s"g-${i % 6}"))
      .toDF("id", "g").write.format("cole").mode("overwrite")
      .partitionBy("g").save(dir)
    val q = spark.read.format("cole").load(dir).groupBy("g").count()
    assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      (0 until 6).map(i => s"g-$i" -> 1000L).toMap)
    // second run: footers are cached, keys are directory constants, counts
    // come from the planner's row counts — ZERO file opens end to end
    val before = ColeIO.opens.get()
    val again = spark.read.format("cole").load(dir).groupBy("g").count()
    assert(again.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      (0 until 6).map(i => s"g-$i" -> 1000L).toMap)
    assert(ColeIO.opens.get() === before,
      s"metadata-only group-by opened ${ColeIO.opens.get() - before} files")
  }

  /** Bytes read through the Hadoop `file` scheme while `f` runs. */
  private def fileBytesRead(f: => Unit): Long = {
    import scala.jdk.CollectionConverters._
    def total = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val before = total
    f
    total - before
  }

  /** A v2 table partitioned by `part` whose `v` holds nulls and
    * incompressible values, and the exact per-part (sum, min, max,
    * count(v)) the aggregate must return over `rows`.
    */
  private def valueTable(dir: String): Seq[(Long, Option[Long], String)] = {
    val s = spark
    import s.implicits._
    val rows = (0 until 200000).map { i =>
      (i.toLong, if (i % 17 == 0) None else Some((i.toLong * 0x9E3779B97F4A7C15L) >> 20),
        s"q-${i % 4}")
    }
    rows.toDF("id", "v", "part").write.format("cole").option("formatVersion", "2")
      .mode("overwrite").partitionBy("part").save(dir)
    rows
  }

  private def expectedByPart(rows: Seq[(Long, Option[Long], String)])
      : Map[String, (Long, Long, Long, Long)] =
    rows.groupBy(_._3).map { case (k, rs) =>
      val vs = rs.flatMap(_._2)
      k -> ((vs.sum, vs.min, vs.max, vs.size.toLong))
    }

  private def byPart(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Long, Long)] = {
    val q = df.groupBy("part").agg(sum("v"), min("v"), max("v"), count(col("v")))
    assert(q.queryExecution.executedPlan.toString.contains("PushedGroupBy: [part]"),
      s"group-by partition column should push:\n${q.queryExecution.executedPlan}")
    q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  test("GROUP BY a partition column answers SUM/MIN/MAX/COUNT(v) from footers") {
    val dir = freshDir()
    val rows = valueTable(dir)
    val expected = expectedByPart(rows)
    val back = spark.read.format("cole").load(dir)
    assert(byPart(back) === expected) // also warms the footer cache
    // every group key is a per-file constant, so each row group is one
    // group: row/null counts, page stats and the SUMS tail answer it and
    // no value chunk is read
    val valueChunkBytes = ColeIO.listPartitioned(dir, ColeIO.driverConf()).map { case (st, _) =>
      val r = new ColeFileReader(st.getPath.toString)
      try {
        val ci = r.meta.columns.indexWhere(_.name == "v")
        r.meta.rowGroups.map(_.chunks(ci).totalSize).sum
      } finally r.close()
    }.sum
    var got: Map[String, (Long, Long, Long, Long)] = null
    val read = fileBytesRead { got = byPart(back) }
    assert(got === expected)
    assert(read < valueChunkBytes,
      s"read $read bytes, the value chunks alone hold $valueChunkBytes")
  }

  test("GROUP BY a partition column stays exact under a deletion vector") {
    val wh = freshDir()
    spark.conf.set("spark.sql.catalog.pvw", "graft.sources.cole.ColeCatalog")
    spark.conf.set("spark.sql.catalog.pvw.warehouse", wh)
    val rows = valueTable(s"$wh/db/t")
    spark.sql("CALL pvw.system.delete_mode('db.t', 'vector')")
    spark.sql("DELETE FROM pvw.db.t WHERE id % 5 = 2")
    assert(byPart(spark.table("pvw.db.t")) === expectedByPart(rows.filter(_._1 % 5 != 2)))
  }

  test("append mode adds part files without clobbering existing data") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val a = (0 until 500).map(i => (i.toLong, s"g-${i % 2}")).toDF("id", "g")
    val b = (500 until 800).map(i => (i.toLong, s"g-${i % 2}")).toDF("id", "g")
    a.write.format("cole").mode("overwrite").partitionBy("g").save(dir)
    b.write.format("cole").mode("append").partitionBy("g").save(dir)
    val back = spark.read.format("cole").load(dir)
    assert(back.count() === 800)
    assert(back.agg(sum("id")).head().getLong(0) === (0L until 800L).sum)
    // flat append too
    val dir2 = freshDir()
    a.write.format("cole").mode("overwrite").save(dir2)
    b.write.format("cole").mode("append").save(dir2)
    assert(spark.read.format("cole").load(dir2).count() === 800)
  }

  test("dynamic partition pruning: a join's runtime IN filter prunes files") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0 until 8000).map(i => (i.toLong, s"k-${i % 8}"))
      .toDF("id", "part").write.format("cole").mode("overwrite")
      .partitionBy("part").save(dir)
    val schema = spark.read.format("cole").load(dir).schema
    val b = new ColeScanBuilder(schema, dir, ColeIO.driverConf(), Set("part"))
    val scan = b.build().asInstanceOf[ColeScan]
    val before = scan.planInputPartitions().length
    assert(scan.filterAttributes().map(_.fieldNames.head).contains("part"),
      "partition column must be offered for runtime filtering")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("part", Array("k-2", "k-6"))))
    // the key-grouped contract keeps one EMPTY partition per pruned key;
    // the pruning benefit is bytes-not-read, so count partitions that
    // still carry row groups
    val planned = scan.planInputPartitions()
    val after = planned.count(_.asInstanceOf[ColeInputPartition].rowGroups.nonEmpty)
    assert(after * 4 <= before, s"runtime IN kept $after of $before file partitions")
    assert(planned.map(_.asInstanceOf[ColeInputPartition].partValues.toSeq).toSet.size === 8,
      "partition-key set must survive runtime filtering (key-grouped contract)")
  }
}
