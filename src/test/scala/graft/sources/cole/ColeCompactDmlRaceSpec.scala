package graft.sources.cole

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Compaction vs concurrent row-level DML (r12): the rewrite claims its
  * input files for the whole read→swap window, so a DML commit can
  * never land in between and be silently UNDONE by the swap (the swap
  * would replace the DML's output with files rebuilt from the pre-DML
  * bytes it read — resurrected rows on a log-less table). A DML
  * attempted inside the window parks on the claims and, given a bounded
  * wait, rejects loudly with the table untouched; re-run after the
  * compact it applies cleanly.
  */
class ColeCompactDmlRaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    Files.createTempDirectory("cole_cmprace_wh").toString

  private var savedWait: Option[Option[String]] = None

  override def afterAll(): Unit = {
    savedWait.foreach { w =>
      val hc = spark.sparkContext.hadoopConfiguration
      w.fold(hc.unset(ColeClaims.WaitKey))(hc.set(ColeClaims.WaitKey, _))
    }
    super.afterAll()
  }

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // bounded claim wait so the in-window DML attempt rejects in ms; the
    // context is shared with later suites, so afterAll restores it
    val hc = s.sparkContext.hadoopConfiguration
    savedWait = Some(Option(hc.get(ColeClaims.WaitKey)))
    hc.setLong(ColeClaims.WaitKey, 400L)
    s.conf.set("spark.sql.catalog.cr", "graft.sources.cole.ColeCatalog")
    s.conf.set("spark.sql.catalog.cr.warehouse", warehouse)
    s
  }

  test("a DML landing inside compaction's read->swap window parks on the claims and rejects loudly") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/c1"
    // several small files so compact genuinely rewrites
    (0 until 4).foreach { b =>
      (0 until 500).map(i => ((b * 500 + i).toLong, 0L)).toDF("id", "v")
        .coalesce(1).write.format("cole")
        .mode(if (b == 0) "overwrite" else "append").save(t)
    }
    val before = s.table("cr.db.c1").collect().map(_.toSeq).toSet
    @volatile var outcome: String = "not-run"
    ColeSwap.betweenRecordAndRenameHook.set(() => {
      // inside compact's claim window: record durable, outputs not yet
      // renamed, input claims HELD. The UPDATE's commit must fail to
      // claim within its bounded wait and reject loudly.
      try {
        spark.sql("UPDATE cr.db.c1 SET v = 77 WHERE id % 7 = 0")
        outcome = "committed"
      } catch {
        case e: Throwable =>
          def chain(x: Throwable): Seq[String] =
            if (x == null) Seq.empty
            else Option(x.getMessage).toSeq ++ chain(x.getCause)
          outcome = chain(e).mkString(" | ")
      }
    })
    val stats =
      try ColeCompact.compact(spark, t, targetBytes = 1L << 30)
      finally ColeSwap.betweenRecordAndRenameHook.set(() => ())
    assert(stats.compactedDirs === 1, s"compact must have run: $stats")
    assert(outcome.contains("could not claim") ||
      outcome.contains("held by a concurrent committer"),
      s"in-window DML must reject on the compaction claims, got: $outcome")
    // the swap undid nothing (there was nothing to undo) and lost nothing
    assert(s.table("cr.db.c1").collect().map(_.toSeq).toSet === before)
    // after compaction releases, the same DML applies cleanly
    spark.sql("UPDATE cr.db.c1 SET v = 77 WHERE id % 7 = 0")
    val got = s.table("cr.db.c1").collect()
    assert(got.count(r => r.getLong(1) == 77L) ===
      (0 until 2000).count(_ % 7 == 0))
    assert(got.length === 2000)
  }

  test("a held claim on an input blocks the rewrite loudly; the uncontended rerun compacts") {
    val s = spark
    import s.implicits._
    val t = s"$warehouse/db/c2"
    (0 until 3).foreach { b =>
      (0 until 300).map(i => ((b * 300 + i).toLong, 0L)).toDF("id", "v")
        .coalesce(1).write.format("cole")
        .mode(if (b == 0) "overwrite" else "append").save(t)
    }
    // hold a claim on ONE input file, as a concurrent committer would
    val conf = ColeIO.driverConf()
    val (fs, _) = ColeIO.resolve(t, conf)
    val first = ColeIO.listPartitioned(t, conf).head._1.getPath.toString
    val held = ColeClaims.acquire(fs, conf, t,
      Seq(ColeVersions.relOf(fs, t, first)), "test-committer")
    try {
      // compact cannot claim the directory within its bounded wait: the
      // acquisition itself throws (the same loud contention posture as
      // DML) — the directory is never rewritten from a contended state
      val e = intercept[IllegalStateException] {
        ColeCompact.compact(spark, t, targetBytes = 1L << 30)
      }
      assert(e.getMessage.contains("held by a concurrent committer"))
      assert(ColeIO.listPartitioned(t, conf).size === 3,
        "contended directory must be untouched")
    } finally held.release()
    // uncontended: compacts normally
    val stats = ColeCompact.compact(spark, t, targetBytes = 1L << 30)
    assert(stats.compactedDirs === 1)
    assert(s.read.format("cole").load(t).count() === 900)
  }
}
