package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** [[ColePlan]]: one pruning decision behind the row scan, the
  * pushed-aggregate scan, the ReplaceData group scan and the native DML
  * classification. Over one table per layout and several predicate sets,
  * the four callers must agree: the two read scans plan the same (file,
  * row group) pairs, the group scan's candidates are the files
  * classification touches, and a file classified whole really matches on
  * every row.
  */
class ColePlanSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_plan_wh").toString

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.cpl", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.cpl.warehouse", warehouse)
    s
  }

  private def conf = ColeIO.driverConf()
  private def dir(name: String) = s"$warehouse/db/$name"

  private def ts(day: Int, hour: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d $hour%02d:00:00")

  /** The Spark twin of the claimed filters this spec uses. */
  private def column(f: Filter): Column = f match {
    case EqualTo(c, v) => col(c) === lit(v)
    case LessThan(c, v) => col(c) < lit(v)
    case GreaterThan(c, v) => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case In(c, vs) => col(c).isin(vs.toSeq: _*)
    case IsNotNull(c) => col(c).isNotNull
  }

  /** Writes `rows` per file as one file each (ids ascending). */
  private def writeFiles(t: String, files: Seq[Range], groupRows: Int): Unit = {
    val s = spark
    import s.implicits._
    files.zipWithIndex.foreach { case (ids, k) =>
      ids.map(i => (i.toLong, s"r${i % 3}", s"key_$i")).toDF("id", "region", "k")
        .coalesce(1).write.format("cole").mode(if (k == 0) "overwrite" else "append")
        .option("rowGroupSize", groupRows.toString).save(t)
    }
  }

  /** The four callers' decisions for `filters` over the table at `t`. */
  private def agree(t: String, groupCol: String, filters: Filter*): Unit = {
    val schema = spark.table(s"cpl.db.${t.split('/').last}").schema
    val infos = ColeMetaCache.infos(t, conf)
    val partCols = ColeMetaCache.partitionSchema(infos, ColePartEvolve.evolvedCols(t, conf))
      .map(_._1).filterNot(ColeTemporal.isLayoutKey).toSet & schema.fieldNames.toSet
    val preds = filters.toArray.flatMap(ColePredicate.fromFilter)
    assert(preds.length === filters.length, s"unconvertible filters in $filters")
    def pairs(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.map(_.asInstanceOf[ColeInputPartition])
        .flatMap(p => p.rowGroups.map(p.file -> _)).toSet
    val rowScan = pairs(new ColeScan(schema, schema, t, conf, filters.toArray,
      partCols = partCols).planInputPartitions())
    val aggScan = pairs(new ColeAggScan(t, conf, Seq(groupCol),
      Seq(ColeAggSpec("count_star", null)), new StructType(), preds,
      partCols).planInputPartitions())
    assert(rowScan === aggScan, s"row and aggregate scans disagree on $t for $filters")

    val op = new ColeRowLevelOperation(RowLevelOperation.Command.UPDATE, t,
      partCols.toSeq, conf)
    val builder = op.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[ColeGroupScanBuilder]
    builder.pushFilters(filters.toArray)
    builder.pruneColumns(schema)
    builder.build().toBatch.planInputPartitions()
    val candidates = op.plannedFiles.map(_._1).toSet
    val classified = ColeRewrite.classify(t, preds, conf)
    val touched = (classified.whole ++ classified.partial).map(_.path).toSet
    assert(candidates === touched, s"group scan and classification disagree on $t for $filters")

    val df = spark.read.format("cole").load(t)
    val cond = filters.map(column).foldLeft(lit(true))(_ && _)
    classified.whole.foreach { f =>
      assert(f.meta.rowGroups.indices.forall(rg => rowScan.contains(f.path -> rg)),
        s"${f.path} is whole but the row scan skips a row group")
      val inFile = df.filter(col(ColeUtil.FileMetaCol) === f.path)
      assert(inFile.filter(cond).count() === inFile.count(),
        s"${f.path} is whole for $filters but holds a row that fails them")
    }
  }

  test("plain table: the four callers agree") {
    val t = dir("plain")
    writeFiles(t, Seq(0 until 1000, 1000 until 2000, 2000 until 3000), 250)
    agree(t, "id")
    agree(t, "id", LessThan("id", 600L))
    agree(t, "id", GreaterThanOrEqual("id", 500L), LessThan("id", 1500L))
    agree(t, "id", EqualTo("id", 5000L))
    agree(t, "id", IsNotNull("id"), GreaterThan("id", 2900L))
    agree(t, "id", In("id", Array(10L, 2500L)))
  }

  test("identity partitioning mid evolve_partition: the four callers agree") {
    val s = spark
    import s.implicits._
    val t = dir("evolved")
    (0 until 300).map(i => (i.toLong, s"r${i % 3}", i.toLong * 10)).toDF("id", "region", "v")
      .coalesce(2).write.format("cole").mode("overwrite").option("rowGroupSize", "50").save(t)
    spark.sql("CALL cpl.system.evolve_partition('db.evolved', 'region')")
    (300 until 360).map(i => (i.toLong, s"r${i % 3}", i.toLong * 10)).toDF("id", "region", "v")
      .repartition(1).write.format("cole").mode("append").option("rowGroupSize", "50")
      .saveAsTable("cpl.db.evolved")
    assert(ColePartEvolve.dualCols(ColeMetaCache.infos(t, conf)) === Set("region"))
    agree(t, "id", EqualTo("region", "r1"))
    agree(t, "id", EqualTo("region", "r1"), GreaterThanOrEqual("id", 300L))
    agree(t, "id", LessThan("id", 100L))
    agree(t, "id", In("region", Array("r0", "r2")))
  }

  test("buckets across two eras: the four callers agree") {
    val s = spark
    import s.implicits._
    val t = dir("eras")
    (0 until 400).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1)
      .write.format("cole").mode("overwrite").option("bucketBy", "2:id").save(t)
    ColeBucket.evolve(t, conf, 4, Seq("id"))
    (400 until 800).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1)
      .write.format("cole").mode("append").save(t)
    agree(t, "id", EqualTo("id", 17L))
    agree(t, "id", EqualTo("id", 417L))
    agree(t, "id", In("id", Array(1L, 2L, 403L)))
    agree(t, "id", LessThan("id", 50L))
  }

  test("temporal + bucketed: the four callers agree, and DML plans only the touched days") {
    val s = spark
    import s.implicits._
    val t = dir("tb")
    (0 until 300).map(i => (i.toLong, i % 10, ts(i / 100, i % 24))).toDF("id", "key", "ts")
      .coalesce(1).write.format("cole").mode("overwrite")
      .option("partitionByTemporal", "days:ts").option("bucketBy", "4:key").save(t)
    val day1 = Seq(GreaterThanOrEqual("ts", ts(1, 0)), LessThan("ts", ts(2, 0)))
    agree(t, "key", day1: _*)
    agree(t, "key", day1 :+ EqualTo("key", 3): _*)
    agree(t, "key", EqualTo("key", 7))
    // the group scan and classification skip the other days' directories
    val touched = ColeRewrite.classify(t, day1.toArray.flatMap(ColePredicate.fromFilter), conf)
    val withRows = spark.read.format("cole").load(t)
      .filter(day1.map(column).reduce(_ && _))
      .select(ColeUtil.FileMetaCol).distinct().collect().map(_.getString(0)).toSet
    assert((touched.whole ++ touched.partial).map(_.path).toSet === withRows)
  }

  test("vector mode with a deletion vector: the four callers agree, dead files drop") {
    val t = dir("vec")
    writeFiles(t, Seq(0 until 1000, 1000 until 2000, 2000 until 3000), 250)
    spark.sql("CALL cpl.system.delete_mode('db.vec', 'vector')")
    spark.sql("DELETE FROM cpl.db.vec WHERE id < 1000")
    spark.sql("DELETE FROM cpl.db.vec WHERE id >= 1500 AND id < 1600")
    agree(t, "id")
    agree(t, "id", LessThan("id", 1200L))
    agree(t, "id", GreaterThanOrEqual("id", 1500L), LessThan("id", 1700L))
    // the first file's vector covers every row: no caller plans it
    val infos = ColeMetaCache.infos(t, conf)
    assert(infos.size === 3)
    assert(ColePlan.plan(t, conf, infos, None, Array.empty).files.size === 2)
  }

  test("added columns with and without an exists-default: the four callers agree") {
    val t = dir("added")
    writeFiles(t, Seq(0 until 100, 100 until 200), 50)
    spark.sql("ALTER TABLE cpl.db.added ADD COLUMN c_none INT")
    spark.sql("ALTER TABLE cpl.db.added ADD COLUMN c_def INT DEFAULT 5")
    spark.sql("INSERT INTO cpl.db.added SELECT id, 'r9', 'key', CAST(id AS INT), 9 " +
      "FROM range(200, 300, 1, 1)")
    agree(t, "id", GreaterThan("c_none", 0))
    agree(t, "id", EqualTo("c_def", 5))
    agree(t, "id", EqualTo("c_def", 9), LessThan("id", 250L))
    // an absent column prunes the file only without an exists-default
    def touched(p: ColePredicate): Int = {
      val c = ColeRewrite.classify(t, Array(p), conf)
      c.whole.size + c.partial.size
    }
    assert(touched(ColePredicate("c_none", "gt", 0L)) === 1)
    assert(touched(ColePredicate("c_def", "eq", 5L)) === 2)
  }

  test("bloom-indexed string column: the four callers agree") {
    val t = dir("bloomed")
    writeFiles(t, (0 until 4).map(k => k * 1000 until k * 1000 + 1000), 250)
    assert(ColeBloomIndex.build(t, Seq("k"), conf) === 4)
    agree(t, "id", EqualTo("k", "absent"))
    agree(t, "id", EqualTo("k", "key_1500"))
    agree(t, "id", In("k", Array("key_15", "key_3999")))
  }

  test("one count() of an absent-key lookup probes each row group's bloom once") {
    val t = dir("bloom_once")
    writeFiles(t, (0 until 4).map(k => k * 1000 until k * 1000 + 1000), 250)
    assert(ColeBloomIndex.build(t, Seq("k"), conf) === 4)
    val groups = ColeMetaCache.infos(t, conf).map(_.meta.rowGroups.size).sum.toLong
    assert(groups === 16L)
    spark.read.format("cole").load(t).filter(col("k") === "absent").count() // warm
    ColeBloomIndex.skippedRowGroups.set(0)
    assert(spark.read.format("cole").load(t).filter(col("k") === "absent").count() === 0L)
    assert(ColeBloomIndex.skippedRowGroups.get() === groups)
  }

  test("a ReplaceData MERGE keeps the table's row-group size") {
    val s = spark
    import s.implicits._
    val t = dir("rgsize")
    writeFiles(t, (0 until 4).map(k => k * 1000 until k * 1000 + 1000), 250)
    (10L until 20L).map(i => (i, 1L)).toDF("id", "d").createOrReplaceTempView("rgsize_src")
    val before = ColeMetaCache.infos(t, conf).map(_.path).toSet
    // a conditional clause: not a native MERGE
    spark.sql("""MERGE INTO cpl.db.rgsize t USING rgsize_src s ON t.id = s.id
                |WHEN MATCHED AND s.d > 0 THEN UPDATE SET region = 'm'""".stripMargin)
    val infos = ColeMetaCache.infos(t, conf)
    val replaced = infos.filterNot(i => before(i.path))
    assert(replaced.nonEmpty, "the MERGE rewrote no file")
    assert(infos.forall(_.meta.rowGroups.forall(_.numRows <= 250)),
      "a replacement file cut row groups above the table's 250 rows: " +
        replaced.map(_.meta.rowGroups.map(_.numRows).mkString(",")).mkString("; "))
    assert(spark.read.format("cole").load(t).filter(col("region") === "m").count() === 10L)
  }

  test("a runtime IN on a bucket column reads the buckets of every probed key") {
    val s = spark
    import s.implicits._
    val t = dir("rt_buckets")
    (0L until 4000L).map(i => (i, i * 2)).toDF("k", "v")
      .write.format("cole").mode("overwrite").option("bucketBy", "8:k").save(t)
    val schema = spark.read.format("cole").load(t).schema
    val scan = new ColeScanBuilder(schema, t, conf).build().asInstanceOf[ColeScan]
    scan.planInputPartitions()
    scan.filter(Array[Filter](In("k", Array(17L, 23L))))
    val read = scan.planInputPartitions().map(_.asInstanceOf[ColeInputPartition])
      .filter(_.rowGroups.nonEmpty).map(_.file).toSet
    val holding = spark.read.format("cole").load(t).filter(col("k").isin(17L, 23L))
      .select(ColeUtil.FileMetaCol).distinct().collect().map(_.getString(0)).toSet
    assert(holding.size === 2 && holding.subsetOf(read),
      s"the probed keys live in $holding, the runtime-filtered plan reads $read")
  }
}
