package graft

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * one JSON line. Each query runs one untimed warm-up plus three timed
  * runs and reports the fastest — steady-state, matching how the
  * reference benchmarks its scans (warmed loops), rather than charging
  * one-time plan compilation and JIT warmup to whichever query happens
  * to run first.
  *
  * The driver captures only the LAST ~2000 characters of stdout, and the
  * full per-query map no longer fits (108 queries × ~22 chars ≈ 2.4 KB —
  * r1/r2 shipped a truncated, unparseable line this way). So stdout
  * carries the total plus the SLOWEST queries that fit a 1700-char
  * budget — the informative end of the distribution — with `n` (queries
  * run) and `omitted` (fastest entries elided); the complete map, at
  * full precision with every timed run, goes to BENCH_LOCAL.json next
  * to the build for round-over-round variance analysis.
  */
object Bench {
  private val TimedRuns = 3
  /** stdout budget for the per-query map: the driver's tail capture is
    * 2000 chars and the trailing sbt "[success]" line costs ~90.
    */
  private val MapBudget = 1700

  /** Sweep the project's own accumulated /tmp scratch before measuring
    * (r12 — the r11 bench measured ~22k leftover per-session test dirs
    * costing ~10% wall on byte-identical code; make the mitigation
    * mechanical instead of a manual note). Only test-suite prefixes are
    * swept: never the bench's own fixture cache (/tmp/graft_cole),
    * scaling data (/tmp/graft_sf1), or the spark-/blockmgr-prefixed
    * dirs owned by live JVMs.
    */
  private def cleanScratch(): Unit = {
    val prefixes = Seq("cole_", "race_", "cli_write", "graft_cdf_",
      "graft_apply_", "apply_cp", "dbg_ndv")
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      x.delete()
    }
    Option(new java.io.File("/tmp").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .foreach { f =>
        if (prefixes.exists(f.getName.startsWith))
          try rm(f) catch { case _: Exception => () }
      }
  }

  /** Keys whose runs failed (best time -1.0), as a sorted JSON list. */
  private[graft] def failedJson(results: Map[String, Double]): String =
    results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The one-line stdout contract for per-key best times (-1.0 = failed).
    * Failed keys are listed under `failed` and left out of `total`.
    */
  private[graft] def summaryLine(results: Map[String, Double], sfDir: String): String = {
    val failed = failedJson(results)
    // slowest-first so anything elided by the budget is a fast query; the
    // failed list is never elided, so it comes out of the map's budget
    val sorted = results.toSeq.sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k + f"""":$v%.4f""" }
    val kept = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    for (e <- sorted if used + e.length + 1 <= MapBudget - failed.length) {
      kept += e; used += e.length + 1
    }
    val qs = kept.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size}%d,"omitted":${results.size - kept.size}%d,"failed":$failed%s,"full":"BENCH_LOCAL.json","queries":$qs%s,"sf":"$sfDir%s"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cleanScratch()
    val spark = Engine.session()
    // a failed run reads -1.0; the key then goes to `failed`, not the total
    def once(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          System.err.println(s"[bench-failed] $name: $e")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val runs = SparkEntry.queries.map { case (name, fn) =>
      // JMH-style inter-query hygiene: collect the previous queries' dead
      // broadcast/shuffle state (System.gc also fires Spark's weak-ref
      // ContextCleaner) so accumulated heap debt isn't charged to
      // whichever query the Map's hash order happens to place next —
      // observed as one arbitrary victim query measuring 3× slower in
      // the suite than in isolation.
      System.gc()
      // stderr marker BEFORE the runs: Spark's own warnings (e.g. "task
      // of very large size") land on stderr too, so the interleaving
      // attributes them to a query without touching the stdout contract
      System.err.println(s"[bench-query] $name")
      once(name, fn) // warm-up: plan compilation + codegen JIT, untimed
      name -> Seq.fill(TimedRuns)(once(name, fn))
    }
    val results = runs.map { case (name, ts) =>
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val line = summaryLine(results, sfDir)
    val fullQs = results.map { case (k, v) => "\"" + k + f"""":$v%.4f""" }
      .mkString("{", ",", "}")
    // full-precision artifact for round-over-round comparison
    val full = runs.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // DML write-amplification probe: the file counts of the mutable
    // fixture tables AFTER the bench loop. The no-op rewrite detection
    // (r9) makes re-run MERGE/UPDATE rewrite zero files, so these counts
    // must stay FLAT across bench runs — a regression (rewrite
    // amplification / fragmentation) surfaces here as a growing number.
    val dmlFiles: String = {
      def countCol(f: java.io.File): Int = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.count(c => c.isFile && c.getName.endsWith(".col")) +
          kids.filter(_.isDirectory).map(countCol).sum
      }
      val wh = new java.io.File("/tmp/graft_cole/warehouse")
      val tags = Seq("mrg", "updq", "del", "cfd")
      val entries = Option(wh.listFiles()).getOrElse(Array.empty)
        .filter(ns => ns.isDirectory &&
          tags.exists(t => ns.getName.contains(s"_${t}_")))
        .map(ns => "\"" + ns.getName + "\":" + countCol(ns))
      entries.sorted.mkString("{", ",", "}")
    }
    try {
      val w = new java.io.PrintWriter("BENCH_LOCAL.json")
      try w.println(
        s"""{"sf":"$sfDir","best":$fullQs,"failed":${failedJson(results)},"dmlFiles":$dmlFiles,"runs":$full}""")
      finally w.close()
    } catch { case _: Exception => () }
    println(line)
    spark.stop()
  }
}
