package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.io.Source

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * graftbench.Main --workload cole_scan|cole_dml|spark_queries --seed N
  *   --seconds S --trace 0|1 --master local[N] --work DIR --out FILE
  *   --sf DIR --ref FILE [--oracle FILE]
  * }}}
  *
  * One run: three set-ups (fixture build plus one warm-up round each; the
  * median is `setup_s`), then whole rounds of the workload's operations,
  * one at a time, until S seconds have passed. Every answer is checked. A
  * traced run traces every other op, so the tracing overhead is measured
  * on the same data in the same JVM.
  */
object Main {
  private val Setups = 3
  /** `cole_scan` table size: 4 files of 1M rows, about 64 MB. */
  private val ScanRows = 4000000L

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val sfDir = a("sf")

    val t00 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[graftbench] $what at ${(System.nanoTime() - t00) / 1e9}%.2f s")
    val spark = graft.Engine.session(master = a("master"))
    spark.sparkContext.setLogLevel("ERROR")
    val wl: Workload = workload match {
      case "cole_scan" => new ColeScan(spark, work, seed, ScanRows)
      case "cole_dml" => new ColeDml(spark, work, seed, sfDir)
      case "spark_queries" => new SparkQueries(spark, seed, sfDir, readOracle(new File(a("oracle"))))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runner = new Runner(spark, tracer)

    mark("session")
    // set-up, repeated: fixture build plus one warm-up round. Its time is
    // the system's work: the build plus the warm-up ops' latencies, not
    // the benchmark's own checking.
    var roundNo = 0
    val setupS = (1 to Setups).map { _ =>
      val t0 = System.nanoTime()
      wl.build()
      val buildS = (System.nanoTime() - t0) / 1e9
      roundNo += 1
      val warm = wl.round(roundNo).map(op => runner.run(op, roundNo, timed = false, traced = false))
      buildS + warm.map(_.latencyMs).sum / 1e3
    }
    mark("setups")

    // the timed window: whole rounds until the time is up. A traced run
    // traces every other op (alternating between rounds), so each op has
    // traced and untraced samples from the same stretch of the run.
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    val minRounds = if (trace) math.max(wl.minRounds, 2) else wl.minRounds
    var windowRounds = 0
    var liveFiles = Seq.empty[Int]
    while (elapsed < seconds || windowRounds < minRounds) {
      roundNo += 1
      windowRounds += 1
      val r = roundNo
      wl.round(r).zipWithIndex.foreach { case (op, j) =>
        val traced = trace && (j + r) % 2 == 0
        if (traced) tracer.foreach(_.attach())
        runner.run(op, r, timed = true, traced = traced)
        if (traced) tracer.foreach(_.detach())
      }
      if (trace) liveFiles :+= wl.table.map(Files.dataFiles(_).size).getOrElse(0)
    }
    val windowS = elapsed
    mark("window")

    // heap in use after a full collection at the end of the window; the
    // pauses let Spark's ContextCleaner drop what the first collection
    // released (shuffle and broadcast state of finished queries)
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.last

    val all = runner.recs.toSeq
    val timedRecs = all.filter(_.timed)
    val ok = timedRecs.filter(_.ok)
    val lat = ok.map(_.latencyMs)
    var attempted = all.size
    var failed = all.count(!_.ok)

    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("ops_per_s", ok.size / windowS, "ops/s"),
      ("latency_p50_ms", Stats.quantile(lat, 0.5), "ms"),
      ("latency_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("live_heap_mb", heapMb, "MB")) ++ wl.extra(timedRecs)

    var layer = Seq.empty[(String, Double, String)]
    tracer.foreach { tr =>
      val spanFile = new File(a("out").stripSuffix(".json") + ".spans.jsonl")
      layer ++= tr.finish(timedRecs, spanFile).toSeq.map { case (k, (v, u)) => (k, v, u) }
      layer :+= (("commit.live_files", Stats.mean(liveFiles.map(_.toDouble)), "count"))
      // L0, on this workload's COLE table (largest file first), or on the
      // in-repo reference file
      val ref = new File(a("ref"))
      val files = wl.table.map(t => Files.dataFiles(t).toSeq.sortBy(-_._2).map(f => new File(t, f._1)))
        .filter(_.nonEmpty).getOrElse(Seq(ref))
      layer ++= Storage.measure(files, work)
      val (refMetrics, refFailed, refAttempted) = Storage.compare(spark, ref)
      layer ++= refMetrics
      failed += refFailed
      attempted += refAttempted
      // tracing overhead: traced over untraced median latency, per op name
      val ratios = timedRecs.filter(_.ok).groupBy(_.name).toSeq.flatMap { case (_, rs) =>
        val (t, u) = rs.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(Stats.median(t.map(_.latencyMs)) / Stats.median(u.map(_.latencyMs)))
      }
      val overhead =
        if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size) - 1
      layer :+= (("trace.overhead_frac", overhead, "ratio"))
      layer :+= (("trace.spans", java.nio.file.Files.readAllLines(spanFile.toPath).size.toDouble,
        "count"))
    }

    // the result line carries the figures every workload reports; the
    // workload-specific ones are printed and kept in the result file
    val gated = Set("setup_s", "ops_per_s", "latency_p50_ms", "latency_p90_ms", "live_heap_mb")
    val metrics = (if (trace) layer else e2e.filter(m => gated(m._1))).map { case (k, v, u) =>
      k -> Map("value" -> v, "unit" -> u)
    }.toMap
    val errors = all.flatMap(r => r.error.map(e => s"${r.name} (${r.id}): $e")).take(20)
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics,
      "end_to_end" -> e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layer.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "samples" -> lat.size,
      "window_s" -> windowS,
      "window_rounds" -> windowRounds,
      "setup_runs_s" -> setupS,
      "setup_ops_ms" -> all.filter(!_.timed).groupBy(_.name).toSeq.sortBy(_._1).map {
        case (k, rs) => k -> rs.map(r => math.round(r.latencyMs))
      }.toMap,
      "errors" -> errors,
      "ops" -> timedRecs.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, rs) =>
        k -> Map("n" -> rs.size, "failed" -> rs.count(!_.ok),
          "p50_ms" -> Stats.median(rs.filter(_.ok).map(_.latencyMs)),
          "ms" -> rs.map(r => math.round(r.latencyMs)))
      }.toMap,
      "facts" -> wl.facts,
      "env" -> Map(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "master" -> spark.sparkContext.master,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
          .map(_.toString).filter(_.startsWith("-X")),
        "jdk" -> System.getProperty("java.version"),
        "jdk_vendor" -> System.getProperty("java.vendor"),
        "spark" -> spark.version,
        "warehouse" -> spark.conf.get("spark.sql.catalog.cole.warehouse"),
        "sf" -> sfDir))
    mark("metrics")
    Files.write(new File(a("out")), Json(result) + "\n")
    spark.stop()
  }

  /** `oracle.py` output: key, row count, column list, digest per line. */
  private def readOracle(f: File): Map[String, Digest.D] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val p = l.split("\t", -1)
      p(0) -> Digest.D(p(2).split(",").toSeq, p(1).toLong, p(3))
    }.toMap
    finally src.close()
  }
}

/** Writes every workload key's oracle SQL, one JSON object per line, for
  * `oracle.py` to answer with DuckDB.
  */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val keys = argv.drop(1).toSeq
    val sql = graft.SparkEntry.oracleSql
    Files.write(new File(argv(0)), keys.flatMap(k => sql.get(k).map(s =>
      Json(Map("key" -> k, "sql" -> s)))).mkString("", "\n", "\n"))
  }
}
