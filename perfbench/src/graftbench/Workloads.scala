package graftbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A benchmark workload. One set-up is `build()` followed by one warm-up
  * round; the timed window continues from the last set-up's state.
  */
trait Workload {
  def name: String
  def build(): Unit
  def round(i: Int): Seq[Op]
  /** Whole rounds the timed window runs at least, however long they take. */
  def minRounds: Int = 1
  /** Workload-specific end-to-end figures over the timed ops. */
  def extra(timed: Seq[OpRec]): Seq[(String, Double, String)] = Nil
  /** The COLE table the workload reads and writes, if it has one. */
  def table: Option[File]
  /** Figures recorded beside the metrics (sizes, counts). */
  def facts: Map[String, Any] = Map.empty

  protected def medianOf(recs: Seq[OpRec], names: Set[String]): Double =
    Stats.median(recs.filter(r => r.ok && names(r.name)).map(_.latencyMs))
}

object Workload {
  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** `cole_scan`: the reference's four operations plus a page-pruned id
  * range and a dictionary string filter over a table written by
  * `graft.Cli.write`. Every answer is checked against the same generator
  * expressions evaluated over `spark.range`, without COLE.
  */
final class ColeScan(spark: SparkSession, work: File, seed: Long, rows: Long)
    extends Workload {
  val name = "cole_scan"
  private val dir = new File(work, "cole_scan_table")
  private val rng = new Random(seed)
  private val rangeLen = 100000L

  /** The generator of `graft.Cli.write` for a directory target, restated
    * here so the expected answers never touch COLE.
    */
  private def generated(from: Long, until: Long): DataFrame = {
    val regions = array(lit("north"), lit("south"), lit("east"), lit("west"))
    val statuses = array(lit("active"), lit("pending"), lit("closed"))
    def h(salt: Int) = abs(xxhash64(col("id"), lit(seed), lit(salt)))
    spark.range(from, until).select(col("id"),
      (h(1) % 10001).as("value"),
      (h(2) % 5 + 1).cast("int").as("category"),
      element_at(regions, (h(3) % 4 + 1).cast("int")).as("region"),
      element_at(statuses, (h(4) % 3 + 1).cast("int")).as("status"))
  }

  /** The count plus one figure per column, so every column is decoded:
    * what a full scan returns to the caller without shipping every row
    * back to it. `count_if` over the strings keeps the aggregate from
    * being answered from footer statistics.
    */
  private val checksum = Seq(count(lit(1)).as("n"), sum(col("id")), sum(col("value")),
    sum(col("category")), count_if(col("region") === "north"),
    count_if(col("status") === "closed"))

  private def cole = spark.read.format("cole").load(dir.getPath)

  def build(): Unit = {
    Files.rm(dir)
    graft.Cli.write(spark, dir.getPath, rows, seed)
  }

  /** Computed at the first check, once the JVM is warm. */
  private lazy val expected: Map[String, Seq[Row]] = {
    val g = generated(0, rows)
    Map(
      "full_scan" -> g.agg(checksum.head, checksum.tail: _*).collect().toSeq,
      "filtered_scan" -> g.filter(col("value") > 5000)
        .agg(checksum.head, checksum.tail: _*).collect().toSeq,
      "agg_sum" -> g.agg(sum(col("value"))).collect().toSeq,
      "group_by" -> g.groupBy("region").agg(count(lit(1)), sum(col("value")))
        .orderBy("region").collect().toSeq,
      "status_filter" -> g.filter(col("status") === "closed")
        .agg(checksum.head, checksum.tail: _*).collect().toSeq)
  }

  private def q(n: String, df: () => DataFrame, agg: Boolean = false) =
    QueryOp(n, df, rows => Workload.mismatch(n, rows.toSeq, expected(n)), Seq(dir), agg)

  def round(i: Int): Seq[Op] = {
    val lo = (rng.nextDouble() * (rows - rangeLen)).toLong
    val pruned = QueryOp("pruned_scan",
      () => cole.filter(col("id").between(lo, lo + rangeLen - 1))
        .agg(checksum.head, checksum.tail: _*),
      got => Workload.mismatch("pruned_scan", got.toSeq,
        generated(lo, lo + rangeLen).agg(checksum.head, checksum.tail: _*).collect().toSeq),
      Seq(dir))
    rng.shuffle(Seq[Op](
      q("full_scan", () => cole.agg(checksum.head, checksum.tail: _*)),
      q("filtered_scan", () => cole.filter(col("value") > 5000)
        .agg(checksum.head, checksum.tail: _*)),
      q("agg_sum", () => cole.agg(sum(col("value"))), agg = true),
      q("group_by", () => cole.groupBy("region").agg(count(lit(1)), sum(col("value")))
        .orderBy("region"), agg = true),
      pruned,
      q("status_filter", () => cole.filter(col("status") === "closed")
        .agg(checksum.head, checksum.tail: _*))))
  }

  override def extra(t: Seq[OpRec]): Seq[(String, Double, String)] = Seq(
    ("full_scan_ms", medianOf(t, Set("full_scan")), "ms"),
    ("filtered_scan_ms", medianOf(t, Set("filtered_scan")), "ms"),
    ("agg_sum_ms", medianOf(t, Set("agg_sum")), "ms"),
    ("group_by_ms", medianOf(t, Set("group_by")), "ms"),
    ("pruned_scan_ms", medianOf(t, Set("pruned_scan")), "ms"))

  def table: Option[File] = Some(dir)
  override def facts: Map[String, Any] =
    Map("rows" -> rows, "table_bytes" -> Files.bytes(dir), "files" -> Files.dataFiles(dir).size)
}

/** `cole_dml`: UPDATE, DELETE, INSERT and MERGE beside a read-back, on a
  * catalog COLE table built from `lineitem`. Every readout is checked
  * against a replay, in this process, of the same statements over the fixture
  * rows.
  */
final class ColeDml(spark: SparkSession, work: File, seed: Long, sfDir: String)
    extends Workload {
  val name = "cole_dml"
  private val warehouse = new File(spark.conf.get("spark.sql.catalog.cole.warehouse"))
  private val fixture = new File(work, "cole_dml_fixture")
  private val rng = new Random(seed)
  private val keySpace = 150000L
  // 100 key slots of 1% each, in seeded order: every statement of a run
  // gets its own slot for the first 33 iterations
  private val slots = 100
  private val order = rng.shuffle((0 until slots).toVector)
  private var nextSlot = 0
  private var iteration = 0
  private var copies = 0
  private var ns = ""
  private def tableName = s"cole.$ns.li"
  private def tableDir = new File(warehouse, s"$ns/li")

  // the replay model: one entry per row
  private var keys: Array[Long] = Array.empty
  private var lines: Array[Int] = Array.empty
  private var flags: Array[String] = Array.empty
  private var qty: Array[Long] = Array.empty

  private def source: DataFrame = graft.Tables.lineitem(spark, sfDir)
    .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      org.apache.spark.sql.functions.round(col("l_quantity") * 100).cast(LongType).as("qty_c"))

  def build(): Unit = {
    Files.rm(fixture)
    source.write.format("cole").mode("overwrite").save(fixture.getPath)
    fresh()
  }

  // the replay's starting rows, read from the parquet source (not COLE)
  private val schema: StructType = source.schema
  private val base = {
    val rows = source.collect()
    (rows.map(_.getLong(0)), rows.map(_.getInt(1)), rows.map(_.getString(2)), rows.map(_.getLong(3)))
  }
  private val fixtureRows = base._1.length.toLong
  private def fixtureBytes = Files.dataFiles(fixture).values.sum

  /** A byte-identical copy of the fixture under a namespace of its own,
    * and the replay reset to the fixture rows. The timed window continues
    * on the last set-up's copy: the first iteration on a fresh copy runs
    * about twice as slow as later ones, and that cost is part of set-up.
    */
  private def fresh(): Unit = {
    copies += 1
    ns = s"dml$copies"
    Files.rm(new File(warehouse, ns))
    Files.copyTree(fixture, tableDir)
    keys = base._1.clone(); lines = base._2.clone()
    flags = base._3.clone(); qty = base._4.clone()
  }

  private def slot(): (Long, Long) = {
    val s = order(nextSlot % slots)
    nextSlot += 1
    val w = keySpace / slots
    (s * w, s * w + w)
  }

  private def view(name: String, rows: Seq[Row]): Unit = {
    val st = StructType(Seq(StructField("k", LongType), StructField("ln", IntegerType),
      StructField("f", StringType), StructField("d", LongType)))
    // one partition: a client's small batch arrives as one file
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), st).coalesce(1)
      .select(col("k").cast(schema("l_orderkey").dataType).as("k"),
        col("ln").cast(schema("l_linenumber").dataType).as("ln"),
        col("f"), col("d"))
      .createOrReplaceTempView(name)
  }

  private def keep(p: Int => Boolean): Unit = {
    val idx = keys.indices.filter(p)
    keys = idx.map(keys).toArray; lines = idx.map(lines).toArray
    flags = idx.map(flags).toArray; qty = idx.map(qty).toArray
  }
  private def append(rows: Seq[(Long, Int, String, Long)]): Unit = {
    keys ++= rows.map(_._1); lines ++= rows.map(_._2)
    flags ++= rows.map(_._3); qty ++= rows.map(_._4)
  }

  def round(i: Int): Seq[Op] = {
    iteration += 1
    val it = iteration
    val (ulo, uhi) = slot()
    val (dlo, dhi) = slot()
    val (mlo, mhi) = slot()
    val bump = 1 + rng.nextInt(100)
    val inserts = (0 until 500).map { j =>
      (10000000L + it * 1000L + j / 4, j % 4 + 1, "I", rng.nextInt(100000).toLong)
    }
    val mergeDelta = 1 + rng.nextInt(1000).toLong
    val mergeNew = (0 until 100).map(j => 20000000L + it * 1000L + j)
    val t = tableDir
    val update = DmlOp("update",
      s"UPDATE $tableName SET qty_c = qty_c + $bump, l_returnflag = 'U' " +
        s"WHERE l_orderkey >= $ulo AND l_orderkey < $uhi", t,
      () => {
        var n = 0L
        keys.indices.foreach { r =>
          if (keys(r) >= ulo && keys(r) < uhi) { qty(r) += bump; flags(r) = "U"; n += 1 }
        }
        n
      })
    val delete = DmlOp("delete",
      s"DELETE FROM $tableName WHERE l_orderkey >= $dlo AND l_orderkey < $dhi", t,
      () => {
        val before = keys.length
        keep(r => !(keys(r) >= dlo && keys(r) < dhi))
        (before - keys.length).toLong
      })
    val insert = DmlOp("insert",
      s"INSERT INTO $tableName SELECT k, ln, f, d FROM graftbench_ins", t,
      () => { append(inserts); inserts.size.toLong },
      () => view("graftbench_ins", inserts.map { case (k, l, f, d) => Row(k, l, f, d) }))
    var matched: Seq[Long] = Nil
    val merge = DmlOp("merge",
      s"""MERGE INTO $tableName t USING graftbench_src s
         |ON t.l_orderkey = s.k AND t.l_linenumber = s.ln
         |WHEN MATCHED THEN UPDATE SET qty_c = t.qty_c + s.d, l_returnflag = 'M'
         |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, l_returnflag, qty_c)
         |  VALUES (s.k, s.ln, 'N', s.d)""".stripMargin, t,
      () => {
        var n = 0L
        val ks = matched.toSet
        keys.indices.foreach { r =>
          if (lines(r) == 1 && ks(keys(r))) { qty(r) += mergeDelta; flags(r) = "M"; n += 1 }
        }
        append(mergeNew.map(k => (k, 1, "N", mergeDelta)))
        n + mergeNew.size
      },
      () => {
        matched = keys.indices.filter(r => keys(r) >= mlo && keys(r) < mhi && lines(r) == 1)
          .map(keys).distinct
        view("graftbench_src", (matched ++ mergeNew).map(k => Row(k, 1, "S", mergeDelta)))
      })
    val readout = QueryOp("readout",
      () => spark.table(tableName).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("qty_c").as("q"), sum("l_orderkey").as("k"),
          sum("l_linenumber").as("l"))
        .orderBy("l_returnflag"),
      got => Workload.mismatch("readout",
        got.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq, replayReadout()),
      Seq(t), aggregate = true)
    Seq(update, delete, insert, merge, readout)
  }

  private def replayReadout(): Seq[(String, Long, Long, Long, Long)] =
    keys.indices.groupBy(flags).toSeq.sortBy(_._1).map { case (f, idx) =>
      (f, idx.size.toLong, idx.map(qty).sum, idx.map(keys).sum, idx.map(lines(_).toLong).sum)
    }

  private def dmlNames = Set("update", "delete", "insert", "merge")

  override def extra(t: Seq[OpRec]): Seq[(String, Double, String)] = {
    val dml = t.filter(r => r.ok && dmlNames(r.name))
    val perRow = fixtureBytes.toDouble / math.max(fixtureRows, 1L)
    val changed = dml.map(_.rowsChanged).sum * perRow
    // a fresh write of the rows the table holds now
    val freshDir = new File(work, "cole_dml_fresh")
    Files.rm(freshDir)
    spark.table(tableName).write.format("cole").mode("overwrite").save(freshDir.getPath)
    val freshBytes = Files.bytes(freshDir).toDouble
    Files.rm(freshDir)
    val onDisk = Files.bytes(tableDir).toDouble
    Seq(
      ("dml_p50_ms", medianOf(t, dmlNames), "ms"),
      ("read_after_write_ms", medianOf(t, Set("readout")), "ms"),
      ("write_amp", if (changed > 0) dml.map(_.execBytesWritten).sum / changed else 0.0, "ratio"),
      ("space_amp", if (freshBytes > 0) onDisk / freshBytes else 0.0, "ratio"))
  }

  def table: Option[File] = Some(tableDir)
  override def facts: Map[String, Any] = Map("fixture_rows" -> fixtureRows,
    "fixture_bytes" -> fixtureBytes, "iterations" -> iteration,
    "table_files_at_end" -> Files.dataFiles(tableDir).size)
}

/** `spark_queries`: ten `graft.SparkEntry` keys over the sf0.1 parquet
  * tables, no COLE. Answers are checked against DuckDB's answers to the
  * keys' oracle SQL; the two approximate nearest-neighbour keys by their
  * recall@5 against `ann_bruteforce`.
  */
final class SparkQueries(spark: SparkSession, seed: Long, sfDir: String,
    oracle: Map[String, Digest.D]) extends Workload {
  val name = "spark_queries"
  private val rng = new Random(seed)
  val keys = Seq("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18", "ann_pq", "ann_ivfpq",
    "dedup_clusters", "events_funnel", "corpus_ngram_stats", "text_repetition")
  /** The recall@5 bounds `PipelineSpec` asserts for each key's default
    * parameters: ann_pq reranks exactly (0.8); ann_ivfpq probes 4 of 16
    * cells, so its recall is the cells' recall (0.3; 0.8 holds only when
    * every cell is probed).
    */
  private val minRecall = Map("ann_pq" -> 0.8, "ann_ivfpq" -> 0.3)
  private def annKeys = minRecall.keySet
  private val queries = graft.SparkEntry.queries
  private val inputs = Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
    "part", "events", "documents", "embeddings").map(t => new File(sfDir, s"$t.parquet"))

  def build(): Unit = ()
  /** One round is ten keys; two give every key a second, warmer sample. */
  override def minRounds: Int = 2

  /** The exact neighbours, themselves checked against DuckDB; computed
    * at the first check.
    */
  private lazy val exact: Set[(Long, Long)] = {
    val rows = queries("ann_bruteforce")(spark, sfDir).collect()
    val d = Digest.of(queries("ann_bruteforce")(spark, sfDir).schema, rows)
    oracle.get("ann_bruteforce").foreach { want =>
      require(d == want, s"ann_bruteforce disagrees with DuckDB: $d vs $want")
    }
    rows.map(r => (r.getAs[Number]("query_id").longValue,
      r.getAs[Number]("neighbor_id").longValue)).toSet
  }

  private def check(key: String, schema: StructType)(rows: Array[Row]): Option[String] =
    if (annKeys(key)) {
      val got = rows.map(r => (r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("neighbor_id").longValue)).toSet
      val recall = (exact & got).size.toDouble / math.max(exact.size, 1)
      val bound = minRecall(key)
      if (recall >= bound) None else Some(f"$key recall@5 $recall%.3f < $bound")
    } else oracle.get(key) match {
      case None => Some(s"$key has no oracle answer")
      case Some(want) => Workload.mismatch(key, Digest.of(schema, rows), want)
    }

  def round(i: Int): Seq[Op] = rng.shuffle(keys).map { k =>
    var schema: StructType = null
    QueryOp(k, () => { val df = queries(k)(spark, sfDir); schema = df.schema; df },
      rows => check(k, schema)(rows), inputs)
  }

  def table: Option[File] = None
}
