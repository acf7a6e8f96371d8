package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cole.ColeFormat._

/** v2 SUMS footer tail + the planning-time metadata fold (r14): an
  * unfiltered, ungrouped, vector-free global aggregate answers entirely
  * from the driver's cached footers — ONE task, zero data-file opens,
  * zero pages decoded. Pinned here:
  *   - the writer records per-chunk wrapped present-value sums for
  *     integral columns (and only those), bit-identical to what the page
  *     sweep accumulates (Long addition is associative mod 2^64);
  *   - round-trip: the recorded sums match manual sums, null rows are
  *     excluded, doubles/strings carry none;
  *   - the fold engages (spec-visible foldedPlans counter) and opens NO
  *     file once footers are cached;
  *   - every fallback stays correct: filtered aggs, grouped aggs,
  *     pre-extension (v1) files, deletion-vector tables (fold declines —
  *     a footer sum describes PHYSICAL rows), all-null columns, empty
  *     tables;
  *   - answers equal the unpushed computation exactly, including the
  *     narrow-decimal lane.
  */
class ColeFooterSumSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("cole_fsum_wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.fsw", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.fsw.warehouse", warehouse)
    s
  }

  private def conf = ColeIO.driverConf()

  test("writer records wrapped present-value sums per chunk; round-trip") {
    val dir = Files.createTempDirectory("fsum_rt").toString
    val f = s"$dir/t.col"
    val cols = Seq(
      ColeColumn("i", TInt32, Plain),
      ColeColumn("l", TInt64, Rle),
      ColeColumn("d", TDouble, Plain),
      ColeColumn("s", TString, Dict),
      ColeColumn("m", TDecimal(9, 2), Delta))
    val w = new ColeFileWriter(f, cols, conf) // TDouble column → v2
    val n = 1000
    val nulls = Array.tabulate(n)(_ % 7 == 0)
    def cd(ints: Array[Int] = null, longs: Array[Long] = null,
        strings: Array[Array[Byte]] = null, doubles: Array[Double] = null,
        nulls: Array[Boolean] = null) =
      ColumnData(ints, longs, strings, doubles, nulls)
    w.writeRowGroup(Seq(
      cd(ints = Array.tabulate(n)(i => i - 500), nulls = nulls),
      cd(longs = Array.tabulate(n)(i => Long.MaxValue - i)), // wraps
      cd(doubles = Array.tabulate(n)(_.toDouble)),
      cd(strings = Array.tabulate(n)(i => s"v${i % 5}".getBytes)),
      cd(longs = Array.tabulate(n)(i => i * 100L + 7))), n)
    w.writeRowGroup(Seq(
      cd(ints = Array.fill(n)(3)),
      cd(longs = Array.fill(n)(-2L)),
      cd(doubles = Array.fill(n)(1.5)),
      cd(strings = Array.fill(n)("x".getBytes)),
      cd(longs = Array.fill(n)(123L))), n)
    w.close()
    val meta = new ColeFileReader(f, conf).meta
    // int32 with nulls: sum over PRESENT values only
    val expI = (0 until n).filterNot(nulls).map(i => (i - 500).toLong).sum
    assert(meta.chunkSum(0, 0).contains(expI))
    assert(meta.chunkSum(1, 0).contains(3000L))
    // int64 whose true sum exceeds Long.MaxValue: recorded WRAPPED,
    // exactly what the sweep's Long accumulator would hold
    var wrapped = 0L
    (0 until n).foreach(i => wrapped += Long.MaxValue - i)
    assert(meta.chunkSum(0, 1).contains(wrapped))
    assert(meta.chunkSum(1, 1).contains(-2000L))
    // doubles and strings never carry sums
    assert(meta.chunkSum(0, 2).isEmpty && meta.chunkSum(0, 3).isEmpty)
    // narrow decimal: unscaled-domain sums
    assert(meta.chunkSum(0, 4).contains((0 until n).map(i => i * 100L + 7).sum))
    // the NDV tail coexists with the SUMS tail (both probed in order)
    assert(meta.ndvBounds.nonEmpty)
  }

  test("metadata fold: engages, opens no file, matches unpushed answers") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/fold"
    (0 until 5000).map(i => (i.toLong, i % 97, BigDecimal(i) / 100))
      .toDF("id", "v", "m")
      .withColumn("m", col("m").cast("decimal(12,2)"))
      .coalesce(3).write.format("cole").mode("append").save(t)
    def agged = spark.read.format("cole").load(t)
      .agg(sum("id"), min("id"), max("id"), sum("v"), count("v"),
        sum("m"), min("m"), max("m"), count(lit(1)))
    val expected = {
      val r = spark.read.format("cole").load(t).collect()
      (r.map(_.getLong(0)).sum, r.map(_.getInt(1).toLong).sum,
        r.map(x => x.getDecimal(2)).map(BigDecimal(_)).sum)
    }
    agged.head() // warm the footer cache (first plan reads footers)
    val folds0 = ColeAggFold.foldedPlans.get()
    val opens0 = ColeIO.opens.get()
    val row = agged.head()
    assert(ColeAggFold.foldedPlans.get() > folds0, "fold did not engage")
    assert(ColeIO.opens.get() == opens0,
      "metadata-folded aggregate opened a file")
    assert(row.getLong(0) == expected._1)
    assert(row.getLong(1) == 0L && row.getLong(2) == 4999L)
    assert(row.getLong(3) == expected._2)
    assert(row.getLong(4) == 5000L)
    assert(BigDecimal(row.getDecimal(5)) == expected._3)
    assert(BigDecimal(row.getDecimal(6)) == BigDecimal("0.00"))
    assert(BigDecimal(row.getDecimal(7)) == BigDecimal("49.99"))
    assert(row.getLong(8) == 5000L)
  }

  test("fold respects partition pruning exactly") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/foldpart"
    (0 until 300).map(i => (i.toLong, s"r${i % 3}"))
      .toDF("id", "region")
      .write.format("cole").option("formatVersion", "2")
      .partitionBy("region").mode("append").save(t)
    val q = spark.read.format("cole").load(t)
      .filter($"region" === "r1").agg(sum("id"), count(lit(1)))
    q.head()
    val folds0 = ColeAggFold.foldedPlans.get()
    val row = q.head()
    assert(ColeAggFold.foldedPlans.get() > folds0,
      "partition-pruned global agg should still fold")
    assert(row.getLong(0) == (0 until 300).filter(_ % 3 == 1).map(_.toLong).sum)
    assert(row.getLong(1) == 100L)
  }

  test("fallbacks stay correct: filtered, grouped, mixed with DML") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fsw.db")
    spark.sql("CREATE TABLE fsw.db.fb (id BIGINT, v INT) USING cole")
    spark.sql("INSERT INTO fsw.db.fb SELECT id, CAST(id % 13 AS INT) " +
      "FROM range(0, 2000)")
    val folds0 = ColeAggFold.foldedPlans.get()
    // filtered: data predicate → sweep path
    val f = spark.sql("SELECT sum(v) FROM fsw.db.fb WHERE id >= 1000").head()
    assert(f.getLong(0) == (1000 until 2000).map(_ % 13).sum.toLong)
    // grouped: per-key partials → sweep path
    val g = spark.sql(
      "SELECT v, sum(id) s FROM fsw.db.fb GROUP BY v ORDER BY v LIMIT 1").head()
    assert(g.getInt(0) == 0 && g.getLong(1) == (0 until 2000)
      .filter(_ % 13 == 0).map(_.toLong).sum)
    assert(ColeAggFold.foldedPlans.get() == folds0,
      "filtered/grouped aggregates must not fold")
    // row-level DML keeps the fold exact (rewritten files carry new sums)
    spark.sql("DELETE FROM fsw.db.fb WHERE id < 100")
    val d = spark.sql("SELECT sum(id), count(1) FROM fsw.db.fb").head()
    assert(d.getLong(0) == (100 until 2000).map(_.toLong).sum && d.getLong(1) == 1900L)
  }

  test("deletion-vector tables decline the fold and stay exact") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE fsw.db.dvt (id BIGINT, v INT) USING cole")
    spark.sql("INSERT INTO fsw.db.dvt SELECT id, CAST(id AS INT) FROM range(0, 500)")
    spark.sql("CALL fsw.system.delete_mode('db.dvt', 'vector')")
    spark.sql("DELETE FROM fsw.db.dvt WHERE id < 200")
    val folds0 = ColeAggFold.foldedPlans.get()
    val r = spark.sql("SELECT sum(v), count(1), min(id) FROM fsw.db.dvt").head()
    assert(ColeAggFold.foldedPlans.get() == folds0,
      "a vectored table must not answer from physical-row footer sums")
    assert(r.getLong(0) == (200 until 500).map(_.toLong).sum)
    assert(r.getLong(1) == 300L && r.getLong(2) == 200L)
  }

  test("pre-extension (v1) files fall back; all-null and empty lanes") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/v1t"
    (0 until 100).map(i => (i, i.toLong)).toDF("i", "l")
      .write.format("cole").option("formatVersion", "1").mode("append").save(t)
    val infos = ColeMetaCache.infos(t, conf)
    assert(infos.forall(_.meta.chunkSums.isEmpty), "v1 footer grew a tail")
    val r = spark.read.format("cole").load(t).agg(sum("l"), max("i")).head()
    assert(r.getLong(0) == 4950L && r.getInt(1) == 99)
    // all-null integral column: sum is NULL, count 0 — via the fold
    val tn = s"$warehouse/db/nulls"
    Seq.fill(50)((Option.empty[Long], 1)).toDF("l", "one")
      .write.format("cole").option("formatVersion", "2")
      .mode("append").save(tn)
    val q = spark.read.format("cole").load(tn).agg(sum("l"), count("l"))
    q.head()
    val folds0 = ColeAggFold.foldedPlans.get()
    val rn = q.head()
    assert(ColeAggFold.foldedPlans.get() > folds0)
    assert(rn.isNullAt(0) && rn.getLong(1) == 0L)
  }

  test("fold vs sweep differential: the cole_agg_fold query, both paths") {
    // the REAL driver query over the REAL sf0.01 fixture — the fold path
    // and the forced page-sweep path must emit byte-identical rows, not
    // merely each pass their own oracle (verdict r14 ask #1c). The sweep
    // is forced by the twin key's always-true claimed predicate
    // (`l_orderkey >= 0`), which routes every row group through a decode.
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/lineitem.parquet").isFile)
    val q = graft.SparkEntry.queries("cole_agg_fold")
    val sweep = graft.SparkEntry.queries("cole_agg_fold_sweep")
    def run(): org.apache.spark.sql.Row = q(spark, sfDir).head()
    run() // fixture write + footer-cache warm outside the measured paths
    val folds0 = ColeAggFold.foldedPlans.get()
    val folded = run()
    assert(ColeAggFold.foldedPlans.get() > folds0,
      "fold did not engage on the driver query")
    val folds1 = ColeAggFold.foldedPlans.get()
    val swept = sweep(spark, sfDir).head()
    assert(ColeAggFold.foldedPlans.get() == folds1, "the forced sweep folded")
    assert(folded == swept,
      s"fold/sweep divergence:\n  fold:  $folded\n  sweep: $swept")
  }

  test("STRB tail: string MIN/MAX folds metadata-only and matches the sweep") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/strb1"
    // multi-byte values pin the ordering contract: byte-wise unsigned
    // (UTF8String order) — 'z' (0x7A) sorts BELOW 'é' (0xC3 0xA9)
    val vals = Seq("kiwi", "apple", "zebra", "éclair", "mango",
      "apple2", null, "zz", null, "éx")
    vals.zipWithIndex.map { case (v, i) => (i.toLong, Option(v)) }
      .toDF("id", "s")
      .coalesce(1).write.format("cole").option("formatVersion", "2")
      .mode("overwrite").save(t)
    val q = spark.read.format("cole").load(t)
      .agg(min("s").as("mn"), max("s").as("mx"), count(col("s")).as("n"))
    q.head() // footer-cache warm
    val folds0 = ColeAggFold.foldedPlans.get()
    val opens0 = ColeIO.opens.get()
    val folded = q.head()
    assert(ColeAggFold.foldedPlans.get() > folds0,
      "string min/max did not fold")
    assert(ColeIO.opens.get() == opens0, "fold opened a data file")
    // an always-true claimed predicate forces the decode of every row
    // group (no fold, no evidence step)
    val folds1 = ColeAggFold.foldedPlans.get()
    val swept = spark.read.format("cole").load(t).filter(col("id") >= 0)
      .agg(min("s").as("mn"), max("s").as("mx"), count(col("s")).as("n")).head()
    assert(ColeAggFold.foldedPlans.get() == folds1, "the forced sweep folded")
    assert(folded == swept,
      s"string fold/sweep divergence:\n  fold:  $folded\n  sweep: $swept")
    assert(folded.getString(0) == "apple" && folded.getString(1) == "éx")
  }

  test("STRB tail: over-cap extremes decline chunk-wise; v1 declines") {
    val s = spark
    import s.implicits._
    // a 300-byte max value: the writer records no bounds for that chunk,
    // so the fold falls back to the sweep — and stays exact
    val big = "z" * 300
    val t = s"$warehouse/db/strb2"
    (Seq("alpha", big, "beta").zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("id", "s")
      .coalesce(1).write.format("cole").option("formatVersion", "2")
      .mode("overwrite").save(t)
    val q = spark.read.format("cole").load(t)
      .agg(min("s").as("mn"), max("s").as("mx"))
    q.head()
    val folds0 = ColeAggFold.foldedPlans.get()
    val r = q.head()
    assert(ColeAggFold.foldedPlans.get() == folds0,
      "over-cap string bounds must decline the fold")
    assert(r.getString(0) == "alpha" && r.getString(1) == big)
    // v1 files carry no tails at all: string min/max never folds there
    val t1 = s"$warehouse/db/strb3"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.format("cole").mode("overwrite").save(t1)
    val q1 = spark.read.format("cole").load(t1)
      .agg(min("s").as("mn"), max("s").as("mx"))
    q1.head()
    val folds1 = ColeAggFold.foldedPlans.get()
    assert(q1.head().getString(0) == "a")
    assert(ColeAggFold.foldedPlans.get() == folds1,
      "v1 string min/max must not fold")
    // all-null string column still folds: present counts are metadata
    val t2 = s"$warehouse/db/strb4"
    Seq.fill(20)((1L, Option.empty[String])).toDF("id", "s")
      .write.format("cole").option("formatVersion", "2")
      .mode("append").save(t2)
    val q2 = spark.read.format("cole").load(t2)
      .agg(min("s").as("mn"), count(col("s")).as("n"))
    q2.head()
    val folds2 = ColeAggFold.foldedPlans.get()
    val r2 = q2.head()
    assert(ColeAggFold.foldedPlans.get() > folds2,
      "all-null string min must fold from null counts")
    assert(r2.isNullAt(0) && r2.getLong(1) == 0L)
  }

  test("the cole_agg_fold_sweep bisection twin declines the fold and " +
      "matches the fold key row-for-row") {
    // the twin's always-true claimed predicate must route it through the
    // page sweep (preds non-empty → fold gate declines), and both driver
    // keys must emit the identical surfaced row — that's what makes the
    // next driver run a free bisection of the r14/r15 hash-red.
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/lineitem.parquet").isFile)
    val fold = graft.SparkEntry.queries("cole_agg_fold")
    val twin = graft.SparkEntry.queries("cole_agg_fold_sweep")
    val foldRow = fold(spark, sfDir).head() // fixture write + cache warm
    val folds0 = ColeAggFold.foldedPlans.get()
    val twinRow = twin(spark, sfDir).head()
    assert(ColeAggFold.foldedPlans.get() == folds0,
      "the sweep twin must NOT fold (its predicate has to force the sweep)")
    assert(foldRow == twinRow,
      s"fold/twin divergence:\n  fold: $foldRow\n  twin: $twinRow")
  }
}
