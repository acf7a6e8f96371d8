package graft.sources.cole

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic interleavings of the streaming source with offline
  * compaction — the two r9 hazards, pinned:
  *
  *  1. REPLAY race: `latestOffset()` used to refresh compaction records
  *     BEFORE listing the data dir, so a trigger straddling a compaction
  *     (records listed just before the record write, data listed just
  *     after the output rename) admitted the output recordless and
  *     replayed every already-served row. Fixed by listing order (data
  *     first, records second): any output the data listing can see has
  *     its record on disk by the time the records refresh runs, because
  *     ColeCompact writes the record before renaming. Both halves of the
  *     window are injected here via test seams.
  *
  *  2. LOSS hazard: `effectivelySeen` skipped a compaction output when
  *     ANY input was seen. A stream mid-backlog that races a compaction
  *     lost the unserved inputs' rows forever (the swap deleted them;
  *     the output holding their only copy was skipped). Fixed: skip only
  *     when EVERY input was served, otherwise admit — duplicates of the
  *     served part are the documented transient-duplication posture.
  */
class ColeStreamCompactRaceSpec extends AnyFunSuite {
  import ColeStreamManifestSpec.SinkRow

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def rows(from: Int, until: Int): Seq[SinkRow] =
    (from until until).map(i => SinkRow(i.toLong, s"g${i % 3}", i.toLong * 2))

  test("trigger injected between record write and output rename does not replay") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_race_rename").toString
    val cp = Files.createTempDirectory("cole_race_rename_cp").toString
    (0 until 4).foreach(k =>
      rows(k * 25, k * 25 + 25).toDF().coalesce(1)
        .write.format("cole").mode("append").save(dir))
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val q = s.readStream.format("cole").load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          received.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(received.get() === 100L)

    // the seam fires with the compaction record DURABLE but the outputs
    // NOT yet renamed — run live triggers inside that exact window
    ColeSwap.betweenRecordAndRenameHook.set(() => q.processAllAvailable())
    try {
      val stats = ColeCompact.compact(s, dir, targetBytes = 1L << 30)
      assert(stats.filesAfter === 1 && stats.filesBefore === 4)
    } finally ColeSwap.betweenRecordAndRenameHook.set(() => ())
    q.processAllAvailable()
    assert(received.get() === 100L,
      "a trigger inside the record-write→rename window replayed compacted rows")

    // fresh appends still flow afterwards
    rows(100, 120).toDF().coalesce(1).write.format("cole").mode("append").save(dir)
    q.processAllAvailable()
    assert(received.get() === 120L)
    q.stop()
  }

  test("full compaction injected between data listing and records refresh does not replay") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_race_listing").toString
    val cp = Files.createTempDirectory("cole_race_listing_cp").toString
    (0 until 4).foreach(k =>
      rows(k * 25, k * 25 + 25).toDF().coalesce(1)
        .write.format("cole").mode("append").save(dir))
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val q = s.readStream.format("cole").load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          received.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(received.get() === 100L)

    // inject a WHOLE offline compaction (record write + renames + input
    // deletes) between the trigger's data-dir listing and its records
    // refresh: the listing missed the outputs, the refresh must still
    // see the record, and no later trigger may admit recordless
    val fired = new AtomicBoolean(false)
    ColeMicroBatchStream.betweenListingsHook.set(() =>
      if (fired.compareAndSet(false, true)) {
        val stats = ColeCompact.compact(s, dir, targetBytes = 1L << 30)
        assert(stats.filesAfter === 1 && stats.filesBefore === 4)
      })
    try {
      q.processAllAvailable()
      q.processAllAvailable()
    } finally ColeMicroBatchStream.betweenListingsHook.set(() => ())
    assert(fired.get(), "interleaving hook never fired")
    assert(received.get() === 100L,
      "a compaction between the two listings replayed already-served rows")
    rows(100, 110).toDF().coalesce(1).write.format("cole").mode("append").save(dir)
    q.processAllAvailable()
    assert(received.get() === 110L)
    q.stop()
  }

  test("compaction mid-backlog: unserved inputs' rows arrive via the output (no loss)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_race_backlog").toString
    val cp = Files.createTempDirectory("cole_race_backlog_cp").toString
    // serve the first 2 files, then stop — a mid-backlog checkpoint
    (0 until 2).foreach(k =>
      rows(k * 25, k * 25 + 25).toDF().coalesce(1)
        .write.format("cole").mode("append").save(dir))
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start() = s.readStream.format("cole").load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("id").collect().foreach(r => ids.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    q1.processAllAvailable()
    assert(ids.size === 50)
    q1.stop()

    // two more files land and the table compacts 4→1 while the stream is
    // down: the originals of the unserved rows are GONE — only the
    // compaction output holds them
    (2 until 4).foreach(k =>
      rows(k * 25, k * 25 + 25).toDF().coalesce(1)
        .write.format("cole").mode("append").save(dir))
    val stats = ColeCompact.compact(s, dir, targetBytes = 1L << 30)
    assert(stats.filesAfter === 1 && stats.filesBefore === 4)

    // restart: the output's inputs are only PARTIALLY seen → it must be
    // ADMITTED. Every distinct row arrives (rows 0-49 may duplicate —
    // the documented transient posture; loss of 50-99 is the bug)
    val q2 = start()
    q2.processAllAvailable()
    assert(ids.asScala == (0L until 100L).toSet,
      s"lost rows under mid-backlog compaction: got ${ids.size} distinct ids")
    q2.stop()
  }

  test("manifest tailing with a trigger cap carries excess candidates (no loss)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = Files.createTempDirectory("cole_carry_cap").toString
    val cpW = Files.createTempDirectory("cole_carry_cap_cpw").toString
    val cpR = Files.createTempDirectory("cole_carry_cap_cpr").toString
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SinkRow]
    val writer = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cpW)
      .outputMode(OutputMode.Append).start()
    source.addData(rows(0, 10)); writer.processAllAvailable()

    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = s.readStream.format("cole")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          received.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cpR)
      .outputMode(OutputMode.Append).start()
    reader.processAllAvailable()
    assert(received.get() === 10L)

    // three epochs land before the reader triggers again: one trigger's
    // candidates() consumes all three manifest entries but the cap
    // admits one file — the others must CARRY to later triggers, not
    // vanish with the consumed entries
    (1 to 3).foreach { k =>
      source.addData(rows(k * 10, k * 10 + 10)); writer.processAllAvailable()
    }
    reader.processAllAvailable()
    assert(received.get() === 40L,
      s"capped manifest tailing dropped candidates: got ${received.get()} of 40 rows")
    writer.stop(); reader.stop()
  }
}
