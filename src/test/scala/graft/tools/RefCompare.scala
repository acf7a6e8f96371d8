package graft.tools

import graft.Engine
import graft.sources.cole.{ColeFileReader, ColeIO}
import org.apache.spark.sql.functions._

/** Head-to-head vs the reference engine's own benchmark: the same four
  * operations through the COLE connector on the in-repo
  * `benchmark_data.col` (1M rows, the file the reference's bench suite
  * writes), after the single-thread L0 decode and encode rates per page
  * encoding.
  * `sbt "Test/runMain graft.tools.RefCompare [file]"`
  */
object RefCompare {
  def main(args: Array[String]): Unit = {
    val file = if (args.nonEmpty) args(0) else "benchmark_data.col"
    val spark = Engine.session(s"local[${Runtime.getRuntime.availableProcessors}]")
    val mb = new java.io.File(file).length() / 1e6
    def df = spark.read.format("cole").load(file)
    def bench(label: String, warm: Int = 2)(f: => Any): Unit = {
      (1 to warm).foreach(_ => f)
      // best-of-3: single measurements swing on GC pauses
      val ms = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.min
      println(f"[refcmp] $label%-28s ${ms}%8.1f ms  ${mb / (ms / 1000)}%8.1f MB/s")
    }
    println(f"[refcmp] file: $file ($mb%.1f MB)")
    decodeRates(file).foreach { case (label, mbs) =>
      println(f"[refcmp] decode $label%-21s ${mbs}%8.1f MB/s (1 thread)")
    }
    encodeRates(file).foreach { case (label, mbs) =>
      println(f"[refcmp] encode $label%-21s ${mbs}%8.1f MB/s (1 thread)")
    }
    bench("full scan (all cols)")(df.agg(sum("id"), sum("value"), sum("score"),
      count("region")).head())
    bench("filtered scan value>50000")(df.filter(col("value") > 50000)
      .agg(sum("id"), sum("value"), sum("score"), count("region")).head())
    bench("aggregation SUM(value)")(df.agg(sum("value")).head())
    bench("group by region")(df.groupBy("region")
      .agg(count(lit(1)), sum("value")).head())
    spark.stop()
  }

  /** Single-thread L0 decode rate (stored MB/s) of `file`, per page
    * encoding and for the whole file: every chunk is decoded once per pass
    * through a fresh reader, so the reader's row-group cache never serves
    * a repeat. Best of ten passes after two warm-up passes.
    */
  def decodeRates(file: String): Seq[(String, Double)] = {
    val conf = ColeIO.driverConf()
    val meta = { val r = new ColeFileReader(file, conf); try r.meta finally r.close() }
    val chunks = for (g <- meta.rowGroups.indices; c <- meta.columns.indices) yield (g, c)
    def encoding(g: Int, c: Int): String =
      meta.rowGroups(g).chunks(c).pages.map(_.encoding.toString.toUpperCase).distinct
        .mkString("+")
    def rate(sel: Seq[(Int, Int)]): Double = {
      val bytes = sel.map { case (g, c) => meta.rowGroups(g).chunks(c).totalSize }.sum
      val ns = (1 to 12).map { _ =>
        val r = new ColeFileReader(file, conf)
        try {
          val t0 = System.nanoTime()
          sel.foreach { case (g, c) => r.readChunk(g, c) }
          System.nanoTime() - t0
        } finally r.close()
      }.drop(2).min
      bytes / 1e6 / (ns / 1e9)
    }
    chunks.groupBy { case (g, c) => encoding(g, c) }.toSeq.sortBy(_._1)
      .map { case (e, sel) => e -> rate(sel) } :+ ("whole file" -> rate(chunks))
  }

  /** Single-thread L0 encode rate of `file`, per page encoding and for the
    * whole file: each chunk, decoded once up front, is re-encoded with its
    * own page encoding by the codec kernel the writer calls. The rate is
    * over the chunks' STORED bytes, so it reads against the decode rate.
    * Best of ten passes after two warm-up passes.
    */
  def encodeRates(file: String): Seq[(String, Double)] = {
    import graft.sources.cole.ColeCodec._
    import graft.sources.cole.ColeFormat._
    val r = new ColeFileReader(file, ColeIO.driverConf())
    val chunks = try {
      val meta = r.meta
      for (g <- meta.rowGroups.indices; c <- meta.columns.indices) yield {
        val cc = meta.rowGroups(g).chunks(c)
        val enc = cc.pages.head.encoding
        require(cc.pages.size == 1 && !cc.pages.exists(_.nullCount > 0),
          s"row group $g column $c: one dense page per chunk expected")
        (enc.toString.toUpperCase, meta.columns(c).colType, enc, r.readChunk(g, c),
          cc.totalSize)
      }
    } finally r.close()
    def encode(t: ColeType, e: Enc, cd: graft.sources.cole.ColumnData): Array[Byte] =
      (t, e) match {
        case (TInt32, Plain) => encodePlainInt(cd.ints)
        case (TInt32, Rle) => encodeRleInt(cd.ints)
        case (TInt32, Delta) => encodeDeltaInt(cd.ints)
        case (_, Plain) if cd.longs != null => encodePlainLong(cd.longs)
        case (_, Rle) => encodeRleLong(cd.longs)
        case (_, Delta) => encodeDeltaLong(cd.longs)
        case (TDouble, Plain) => encodePlainDouble(cd.doubles)
        case (_, Plain) => encodePlainStrings(cd.strings)
        case (_, Dict) => encodeDictStrings(cd.strings)
      }
    def rate(sel: Seq[(String, ColeType, Enc, graft.sources.cole.ColumnData, Long)]): Double = {
      val bytes = sel.map(_._5).sum
      val ns = (1 to 12).map { _ =>
        val t0 = System.nanoTime()
        sel.foreach { case (_, t, e, cd, _) => encode(t, e, cd) }
        System.nanoTime() - t0
      }.drop(2).min
      bytes / 1e6 / (ns / 1e9)
    }
    chunks.groupBy(_._1).toSeq.sortBy(_._1).map { case (e, sel) => e -> rate(sel) } :+
      ("whole file" -> rate(chunks))
  }
}

/** Same four operations at 20M rows (Spark's per-query floor amortized).
  * `sbt "Test/runMain graft.tools.RefCompareScaled"`
  */
object RefCompareScaled {
  def main(args: Array[String]): Unit = {
    val dir = "/tmp/graft_refcmp_20m"
    val spark = Engine.session("local[32]")
    if (!new java.io.File(dir).exists())
      graft.Cli.write(spark, dir, 20000000L, seed = 42L)
    val mb = new java.io.File(dir).listFiles().map(_.length()).sum / 1e6
    def df = spark.read.format("cole").load(dir)
    def bench(label: String, warm: Int = 2)(f: => Any): Unit = {
      (1 to warm).foreach(_ => f)
      // best-of-3: single measurements swing on GC pauses
      val ms = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.min
      println(f"[refcmp] $label%-28s ${ms}%8.1f ms  ${mb / (ms / 1000)}%8.1f MB/s")
    }
    println(f"[refcmp] dir: $dir ($mb%.1f MB, ${df.count()} rows)")
    bench("full scan (all cols)")(df.agg(sum("id"), sum("value"), sum("category"),
      count("region"), count("status")).head())
    bench("filtered scan value>5000")(df.filter(col("value") > 5000)
      .agg(sum("id"), sum("value"), count("region")).head())
    bench("aggregation SUM(value)")(df.agg(sum("value")).head())
    bench("group by region")(df.groupBy("region")
      .agg(count(lit(1)), sum("value")).head())
    // the same four ops over the ENGINE-NATIVE v2 layout (CRC-verified
    // pages + the SUMS footer tail): what a user of THIS engine gets on
    // tables it writes for itself — v1 above stays the byte-compatible
    // apples-to-apples row. SUM answers from the metadata fold here.
    val dir2 = dir + "_v2"
    if (!new java.io.File(dir2).exists())
      spark.read.format("cole").load(dir).write.format("cole")
        .option("formatVersion", "2").mode("overwrite").save(dir2)
    val mb2 = new java.io.File(dir2).listFiles().map(_.length()).sum / 1e6
    def df2 = spark.read.format("cole").load(dir2)
    def bench2(label: String, warm: Int = 2)(f: => Any): Unit = {
      (1 to warm).foreach(_ => f)
      val ms = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.min
      println(f"[refcmp] $label%-28s ${ms}%8.1f ms  ${mb2 / (ms / 1000)}%8.1f MB/s")
    }
    println(f"[refcmp] v2 dir: $dir2 ($mb2%.1f MB)")
    bench2("v2 full scan (all cols)")(df2.agg(sum("id"), sum("value"),
      sum("category"), count("region"), count("status")).head())
    bench2("v2 filtered value>5000")(df2.filter(col("value") > 5000)
      .agg(sum("id"), sum("value"), count("region")).head())
    bench2("v2 SUM(value) [fold]")(df2.agg(sum("value")).head())
    bench2("v2 group by region")(df2.groupBy("region")
      .agg(count(lit(1)), sum("value")).head())
    spark.stop()
  }
}

/** Stress scale: 100M rows (~1.6 GB). `Test/runMain graft.tools.RefCompareStress` */
object RefCompareStress {
  def main(args: Array[String]): Unit = {
    val dir = "/tmp/graft_refcmp_100m"
    val spark = Engine.session("local[32]")
    val t0 = System.nanoTime()
    if (!new java.io.File(dir).exists())
      graft.Cli.write(spark, dir, 100000000L, seed = 42L)
    println(f"[refcmp] write: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val mb = new java.io.File(dir).listFiles().map(_.length()).sum / 1e6
    def df = spark.read.format("cole").load(dir)
    def bench(label: String)(f: => Any): Unit = {
      f // warm
      // best-of-3: single measurements swing >2x on GC pauses at this heap churn
      val ms = (1 to 3).map { _ =>
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
      }.min
      println(f"[refcmp] $label%-28s ${ms}%8.1f ms  ${mb / (ms / 1000)}%8.1f MB/s")
    }
    println(f"[refcmp] dir: $dir ($mb%.1f MB, ${df.count()} rows)")
    bench("full scan (all cols)")(df.agg(sum("id"), sum("value"), sum("category"),
      count("region"), count("status")).head())
    bench("filtered scan value>5000")(df.filter(col("value") > 5000)
      .agg(sum("id"), sum("value"), count("region")).head())
    bench("aggregation SUM(value)")(df.agg(sum("value")).head())
    bench("group by region")(df.groupBy("region")
      .agg(count(lit(1)), sum("value")).head())
    spark.stop()
  }
}
