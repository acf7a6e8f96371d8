package graft.sources.cole

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The streaming source versus a compaction swap that CRASHED after its
  * record went durable but before any output was renamed into place —
  * the window `ColeSwap.betweenRecordAndRenameHook` marks. Two
  * hazards, both fixed by deferring the carry-set handover until the
  * outputs actually exist (`pendingSwaps`):
  *
  *  1. ROW LOSS: acting on the record at READ time dropped the unserved
  *     inputs from the carry-over immediately. If the swap then rolled
  *     back (recover() keeps the inputs, deletes the partial outputs),
  *     a manifest-mode stream never re-lists the inputs and the outputs
  *     never arrive — the rows were silently skipped for the life of
  *     the stream.
  *
  *  2. ADMISSION STARVATION: the per-trigger cap used to apply BEFORE
  *     the existence filter. Phantom outputs ('compact-…' sorts early in
  *     the TreeSet) could occupy every slot of every trigger, emitting
  *     empty batches forever while real files starved behind them.
  */
class ColeStreamSwapRollbackSpec extends AnyFunSuite {
  import ColeStreamManifestSpec.SinkRow

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def rows(from: Int, until: Int): Seq[SinkRow] =
    (from until until).map(i => SinkRow(i.toLong, s"g${i % 3}", i.toLong * 2))

  test("crashed swap (record durable, no renames) neither loses rows nor starves admission; rollback recovery is clean") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = Files.createTempDirectory("cole_swap_rb").toString
    val cpW = Files.createTempDirectory("cole_swap_rb_cpw").toString
    val cpR = Files.createTempDirectory("cole_swap_rb_cpr").toString

    // manifest-mode table: 4 sink epochs = 4 files + 4 manifest entries
    val source = MemoryStream[SinkRow]
    val writer = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cpW)
      .outputMode(OutputMode.Append).start()
    (0 until 4).foreach { k =>
      source.addData(rows(k * 25, k * 25 + 25)); writer.processAllAvailable()
    }
    writer.stop()

    // craft the crash: manifest + table-level compaction record on disk,
    // zero outputs renamed — byte-for-byte the state a kill between
    // writeCompactionRecord and the first rename leaves behind
    val conf = ColeIO.driverConf()
    val (fs, root) = ColeIO.resolve(dir, conf)
    val ins = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".col"))
      .map(st => fs.makeQualified(st.getPath).toString).sorted
    assert(ins.size === 4)
    val stamp = "deadbeef"
    val outs = (0 until 2).map(i =>
      fs.makeQualified(new HPath(root, s"compact-$stamp-$i.col")).toString)
    ColeSwap.writeManifest(fs, new HPath(dir),
      ins.map(p => "old:" + new HPath(p).getName) ++
        outs.map(p => "new:" + new HPath(p).getName))
    ColeSwap.writeCompactionRecord(fs, dir, stamp, outs, ins)

    // a capped reader starting AFTER the crash: the warm-up listing and
    // the record arrive in the same trigger, with every input unserved.
    // Phantom outputs sort before the epoch files — with the cap applied
    // before existence filtering they would occupy both slots forever.
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = s.readStream.format("cole")
      .option("maxFilesPerTrigger", "2").load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          received.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cpR)
      .outputMode(OutputMode.Append).start()
    reader.processAllAvailable()
    assert(received.get() === 100L,
      s"crashed-swap window lost rows: served ${received.get()} of 100")

    // roll the swap back (what the next compact() pass does first) —
    // inputs stay, manifest goes; the stream must neither replay nor
    // later resurrect the phantom outputs
    ColeSwap.recover(fs, new HPath(dir), dir, ColeIO.driverConf())
    reader.processAllAvailable()
    assert(received.get() === 100L, "rollback recovery replayed rows")

    // fresh epochs still flow afterwards
    val writer2 = source.toDF().writeStream.format("cole")
      .option("path", dir).option("checkpointLocation", cpW)
      .outputMode(OutputMode.Append).start()
    source.addData(rows(100, 120)); writer2.processAllAvailable(); writer2.stop()
    reader.processAllAvailable()
    assert(received.get() === 120L, "admission starved after rollback")
    reader.stop()
  }

  test("swap that completes while pending confirms: inputs hand over to outputs without replay") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_swap_ok").toString
    val cp = Files.createTempDirectory("cole_swap_ok_cp").toString
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

    // a live trigger inside the record→rename window sees the record as
    // PENDING (outputs missing, manifest present) and must keep waiting,
    // not misclassify it as rolled back; the post-swap trigger confirms
    ColeSwap.betweenRecordAndRenameHook.set(() => q.processAllAvailable())
    try {
      val stats = ColeCompact.compact(s, dir, targetBytes = 1L << 30)
      assert(stats.filesAfter === 1 && stats.filesBefore === 4)
    } finally ColeSwap.betweenRecordAndRenameHook.set(() => ())
    q.processAllAvailable()
    assert(received.get() === 100L,
      "pending-swap confirmation replayed compacted rows")
    rows(100, 110).toDF().coalesce(1).write.format("cole").mode("append").save(dir)
    q.processAllAvailable()
    assert(received.get() === 110L)
    q.stop()
  }
}
