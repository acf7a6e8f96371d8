package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.cole.{ColeFileReader, ColeFileWriter, ColeIO, ColumnData}

/** L0 storage figures, taken by calling the COLE reader and writer
  * directly on one thread, and the comparison with the reference engine's
  * own `benchmark_results.json` on the in-repo `benchmark_data.col`.
  */
object Storage {
  private def conf = ColeIO.driverConf()

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Stored bytes of every chunk decoded, and the decode time in ms. */
  def decodeAll(path: String): (Long, Double) = {
    val r = new ColeFileReader(path, conf)
    try {
      var bytes = 0L
      val (_, ms) = timed {
        r.meta.rowGroups.indices.foreach { g =>
          r.meta.columns.indices.foreach { c =>
            r.readChunk(g, c)
            bytes += r.meta.rowGroups(g).chunks(c).totalSize
          }
        }
      }
      (bytes, ms)
    } finally r.close()
  }

  /** Decode MB/s, encode MB/s and the footer-open time of `files`. */
  def measure(files: Seq[File], scratch: File): Seq[(String, Double, String)] = {
    require(files.nonEmpty, "no COLE file to measure")
    val first = files.head.getPath
    val decode = (1 to 3).map { _ =>
      val (b, ms) = decodeAll(first); b / 1e6 / (ms / 1e3)
    }
    // encode: the first row groups of the same file (up to ~16 MB stored),
    // decoded once, written again into a scratch file
    val r = new ColeFileReader(first, conf)
    val (cols, groups) = try {
      var stored = 0L
      val gs = r.meta.rowGroups.indices.takeWhile { g =>
        val keep = stored < (16L << 20); stored += r.meta.rowGroups(g).chunks.map(_.totalSize).sum; keep
      }
      (r.meta.columns, gs.map { g =>
        (r.meta.columns.indices.map(c => r.readChunk(g, c)), r.meta.rowGroups(g).numRows)
      })
    } finally r.close()
    val out = new File(scratch, "encode.col")
    val encode = (1 to 3).map { _ =>
      out.delete()
      val (_, ms) = timed {
        val w = new ColeFileWriter(out.getPath, cols, conf)
        try groups.foreach { case (cd: Seq[ColumnData], n) => w.writeRowGroup(cd, n) }
        finally w.close()
      }
      out.length / 1e6 / (ms / 1e3)
    }
    out.delete()
    val opens = (1 to 40).map { i =>
      val f = files(i % files.size).getPath
      timed(new ColeFileReader(f, conf).close())._2
    }
    Seq(("storage.decode_mb_s", Stats.median(decode), "MB/s"),
      ("storage.encode_mb_s", Stats.median(encode), "MB/s"),
      ("storage.footer_open_ms", Stats.median(opens), "ms"))
  }

  /** `elapsed_ms` of the reference engine's Full Scan, Filtered Scan
    * (value > 50000), Aggregation (SUM) and Group By (region), from its
    * `benchmark_results.json`.
    */
  private val referenceMs = Map(
    "ref.full_scan_ratio" -> 57.7063,
    "ref.filtered_scan_ratio" -> 69.4517,
    "ref.agg_sum_ratio" -> 7.99192,
    "ref.group_by_ratio" -> 48.2197)
  private val referenceFullScanMbS = 237.99

  /** Decode ratio plus the four Spark operations on `benchmark_data.col`,
    * each as reference elapsed time over graft's median (above 1: graft
    * is faster). Answers are checked against an L0 decode of the file.
    * Returns the metrics and the number of failed checks.
    */
  def compare(spark: SparkSession, refFile: File): (Seq[(String, Double, String)], Int, Int) = {
    val path = refFile.getPath
    // the truth, from the storage layer
    val r = new ColeFileReader(path, conf)
    var n = 0L; var sumId = 0L; var sumValue = 0L; var sumScore = 0L
    var north = 0L; var hot = 0L; var hotIds = 0L
    val byRegion = scala.collection.mutable.TreeMap[String, (Long, Long)]()
    try {
      val names = r.meta.columns.map(_.name)
      def ix(c: String) = names.indexOf(c)
      r.meta.rowGroups.indices.foreach { g =>
        val id = r.readChunk(g, ix("id")).longs
        val v = r.readChunk(g, ix("value")).longs
        val score = r.readChunk(g, ix("score")).ints
        val reg = r.readChunk(g, ix("region")).strings
        id.indices.foreach { i =>
          n += 1; sumId += id(i); sumValue += v(i); sumScore += score(i)
          val region = new String(reg(i), UTF_8)
          if (region == "north") north += 1
          if (v(i) > 50000) { hot += 1; hotIds += id(i) }
          val (c0, s0) = byRegion.getOrElse(region, (0L, 0L))
          byRegion(region) = (c0 + 1, s0 + v(i))
        }
      }
    } finally r.close()
    val df = spark.read.format("cole").load(path)
    val ops = Seq(
      "ref.full_scan_ratio" -> (() => df.agg(count(lit(1)), sum("id"), sum("value"), sum("score"),
        count_if(col("region") === "north")).collect()
        .map(x => (0 to 4).map(x.getLong)).toSeq,
        Seq(Seq(n, sumId, sumValue, sumScore, north))),
      "ref.filtered_scan_ratio" -> (() => df.filter(col("value") > 50000)
        .agg(count(lit(1)), sum("id")).collect().map(x => Seq(x.getLong(0), x.getLong(1))).toSeq,
        Seq(Seq(hot, hotIds))),
      "ref.agg_sum_ratio" -> (() => df.agg(sum("value")).collect().map(x => Seq(x.getLong(0))).toSeq,
        Seq(Seq(sumValue))),
      "ref.group_by_ratio" -> (() => df.groupBy("region").agg(count(lit(1)), sum("value"))
        .orderBy("region").collect().map(x => Seq(x.getString(0), x.getLong(1), x.getLong(2))).toSeq,
        byRegion.toSeq.map { case (k, (c, s)) => Seq(k, c, s) }))
    var failed = 0
    var attempted = 0
    val ratios = ops.map { case (metric, (run, want)) =>
      val ms = (0 to 5).map { i =>
        attempted += 1
        val (got, t) = timed(run())
        if (got != want) {
          failed += 1
          System.err.println(s"[graftbench] $metric answer $got differs from the decode's $want")
        }
        t
      }.drop(1) // the first run warms the plan up
      (metric, referenceMs(metric) / Stats.median(ms), "ratio")
    }
    val decode = (1 to 3).map { _ => val (b, ms) = decodeAll(path); b / 1e6 / (ms / 1e3) }
    // the reference's filtered scan reports this many rows
    if (hot != 499767L) {
      failed += 1
      System.err.println(s"[graftbench] benchmark_data.col has $hot rows with value > 50000, not 499767")
    }
    (("ref.decode_ratio", Stats.median(decode) / referenceFullScanMbS, "ratio") +: ratios,
      failed, attempted + 1)
  }
}
