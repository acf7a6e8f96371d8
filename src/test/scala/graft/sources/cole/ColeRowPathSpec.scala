package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The row reader ([[ColeReaderFactory.createReader]], what the CDF stream
  * and row-level DML's hashing wrapper consume) against the columnar
  * reader, on every stored lane: INT32, INT64, narrow/long/wide decimals,
  * DOUBLE, dictionary and plain strings, BINARY and a float vector, all
  * with nulls, plus a partition column, `_cole_pos` and an added column
  * served from its exists-default — with and without a claimed filter and
  * a deletion vector. The copied rows must be identical, in order, and
  * the columnar reader's values must equal the rows the table was
  * written from: its batches are views over the decoded lanes, read
  * through the row group's selection vector.
  */
class ColeRowPathSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_rowpath_wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.rpw", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.rpw.warehouse", warehouse)
    s
  }

  private val n = 3000

  /** Every planned partition of `df`'s COLE scan, read both ways: the
    * scan's column names, then the row reader's and the columnar reader's
    * copied rows.
    */
  private def readBothWays(df: DataFrame): (Seq[String], Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no COLE batch scan in\n${df.queryExecution.sparkPlan}"))
    val types = scan.output.map(_.dataType)
    // binary and array values compare by content, not by reference
    def render(r: InternalRow): Seq[Any] = types.zipWithIndex.map { case (t, i) =>
      if (r.isNullAt(i)) null
      else r.get(i, t) match {
        case b: Array[Byte] => b.toSeq
        case a: ArrayData => a.toFloatArray().toSeq
        case v => v
      }
    }
    val batch = scan.scan.toBatch
    val factory = batch.createReaderFactory()
    val parts = batch.planInputPartitions().toSeq
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map(x => render(x.get().copy())).toList
      finally r.close()
    }
    val cols = parts.flatMap { p =>
      val r = factory.createColumnarReader(p)
      try Iterator.continually(r).takeWhile(_.next()).flatMap { b =>
        val it = b.get().rowIterator()
        Iterator.continually(it).takeWhile(_.hasNext).map(i => render(i.next().copy())).toList
      }.toList
      finally r.close()
    }
    (scan.output.map(_.name), rows, cols)
  }

  /** Row `i` as written, by column name; `p` is its partition value and
    * `extra` the added column's exists-default.
    */
  private def source(i: Int): Map[String, Any] = {
    def nul(k: Int, v: Any): Any = if (i % k == 0) null else v
    Map("id" -> i, "skey" -> s"k${i % 7}", "i32" -> nul(7, i),
      "i64" -> nul(5, i.toLong * 1000003L), "d9" -> nul(6, BigDecimal(s"${i / 100}.${i % 100}")),
      "d18" -> nul(8, BigDecimal(s"${i * 10000L}.1234")),
      "d25" -> nul(9, BigDecimal(s"${BigInt("123456789012345678") * (i % 1000)}.5")),
      "dbl" -> nul(4, i * 0.25), "sdict" -> nul(10, s"d${i % 5}"),
      "splain" -> nul(11, s"plain-$i-${i * 31}"),
      "bin" -> nul(12, Seq(i.toByte, (i >> 8).toByte)), "vec" -> nul(13, Seq(i.toFloat, -i.toFloat)),
      "p" -> s"p${i % 3}", "extra" -> 5)
  }

  test("row reader equals the columnar reader on every lane, filter and deletion vector") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/t"
    def nul[A](i: Int, k: Int, v: A): Option[A] = if (i % k == 0) None else Some(v)
    (0 until n).map { i =>
      (i, s"k${i % 7}", nul(i, 7, i), nul(i, 5, i.toLong * 1000003L),
        // decimals travel as strings: the tuple encoder's DECIMAL(38,18)
        // cannot hold the wide values
        nul(i, 6, s"${i / 100}.${i % 100}"), nul(i, 8, s"${i * 10000L}.1234"),
        nul(i, 9, s"${BigInt("123456789012345678") * (i % 1000)}.5"),
        nul(i, 4, i * 0.25), nul(i, 10, s"d${i % 5}"), nul(i, 11, s"plain-$i-${i * 31}"),
        nul(i, 12, Array[Byte](i.toByte, (i >> 8).toByte)),
        nul(i, 13, Array(i.toFloat, -i.toFloat)), s"p${i % 3}")
    }.toDF("id", "skey", "i32", "i64", "d9", "d18", "d25", "dbl", "sdict", "splain", "bin",
        "vec", "p")
      .select(col("id"), col("skey"), col("i32"), col("i64"), col("d9").cast("decimal(9,2)").as("d9"),
        col("d18").cast("decimal(18,4)").as("d18"), col("d25").cast("decimal(25,4)").as("d25"),
        col("dbl"), col("sdict"), col("splain"), col("bin"), col("vec"), col("p"))
      .coalesce(2).write.format("cole").option("formatVersion", "2")
      .option("rowGroupSize", "500").partitionBy("p").mode("overwrite").save(t)
    spark.sql("ALTER TABLE rpw.db.t ADD COLUMN extra INT DEFAULT 5")
    val dataCols = Seq("i32", "i64", "d9", "d18", "d25", "dbl", "sdict", "splain", "bin", "vec")
    def read: DataFrame = spark.table("rpw.db.t").select(col("*"), col("_cole_pos"))

    // the skey chunks must be all-DICTIONARY, so its reads take the
    // dictionary view
    val file = ColeIO.listPartitioned(t, ColeIO.driverConf()).head._1.getPath.toString
    val r = new ColeFileReader(file)
    try assert(r.readStringChunkDict(0, r.meta.columns.indexWhere(_.name == "skey")) != null,
      "skey is not dictionary-encoded")
    finally r.close()

    def check(df: DataFrame, keep: Int => Boolean, what: String): Unit = {
      val (names, rows, cols) = readBothWays(df)
      val expected = (0 until n).filter(keep)
      assert(rows.size === expected.size, s"$what: ${rows.size} rows")
      assert(rows == cols, s"$what: row and columnar readers diverge")
      // the columnar reader's values against the rows as written
      val id = names.indexOf("id")
      val got = cols.map { row =>
        names.zip(row).collect { case (c, v) if c != "_cole_pos" => c -> (v match {
          case d: Decimal => d.toBigDecimal
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        }) }.toMap
      }.sortBy(_("id").asInstanceOf[Int])
      assert(got.map(_("id")) === expected, s"$what: surviving ids")
      got.zip(expected).foreach { case (g, i) =>
        assert(g === source(i), s"$what: row $i read back wrong")
      }
      val extra = names.indexOf("extra")
      assert(rows.forall(_(extra) == 5), s"$what: exists-default not served")
      val pos = names.indexOf("_cole_pos")
      assert(rows.map(_(pos)).distinct.size > 1, s"$what: _cole_pos not per row")
      if (what == "plain") dataCols.foreach { c =>
        assert(rows.exists(_(names.indexOf(c)) == null), s"no NULL in $c")
      }
    }

    // i64 = i * 1000003 is NULL at every fifth row
    val big: Int => Boolean = i => i % 5 != 0 && i >= 500
    val deleted: Int => Boolean = i => i % 7 != 0 && i % 4 == 1
    check(read, _ => true, "plain")
    check(read.filter(col("i64") > 500000000L), big, "filtered")
    check(read.filter(col("skey") === "k3"), _ % 7 == 3, "dictionary filter")
    spark.sql("CALL rpw.system.delete_mode('db.t', 'vector')")
    spark.sql("DELETE FROM rpw.db.t WHERE i32 % 4 = 1")
    assert(read.filter(col("i32") % 4 === 1).count() === 0L)
    check(read, !deleted(_), "deletion vector")
    check(read.filter(col("i64") > 500000000L), i => big(i) && !deleted(i),
      "filtered, deletion vector")
    check(read.filter(col("skey") === "k3"), i => i % 7 == 3 && !deleted(i),
      "dictionary filter, deletion vector")
  }
}
