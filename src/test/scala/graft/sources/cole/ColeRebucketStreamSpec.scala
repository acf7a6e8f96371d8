package graft.sources.cole

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Rebucket vs the rest of the world (r13):
  *
  *  - a TAILING STREAM must not re-emit rows a rebucket rewrote — the
  *    swap's compaction record covers the outputs exactly like offline
  *    compaction's (record durable before any rename), and appends after
  *    the rewrite keep flowing;
  *  - an INTERRUPTED swap (crash between manifest and completion)
  *    resolves at recover(root): forward when every output landed
  *    (delete the olds — the duplication window closes), backward
  *    otherwise (drop partial outputs; the olds are the only complete
  *    copy) — with the root-manifest RELATIVE paths the multi-directory
  *    rebucket swap introduced.
  */
class ColeRebucketStreamSpec extends AnyFunSuite {
  import ColeStreamManifestSpec.SinkRow

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def rows(from: Int, until: Int): Seq[SinkRow] =
    (from until until).map(i => SinkRow(i.toLong, s"g${i % 3}", i.toLong * 2))

  test("tailing stream across evolve_bucket + rebucket: no re-emission, appends keep flowing") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cole_rebucket_stream").toString
    val cp = Files.createTempDirectory("cole_rebucket_stream_cp").toString
    rows(0, 100).toDF().coalesce(1).write.format("cole").mode("overwrite")
      .option("bucketBy", "4:id").save(dir)
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val q = s.readStream.format("cole").load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          received.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(received.get() === 100L)
      // evolve + append: the stream serves the new era's files normally
      ColeBucket.evolve(dir, ColeIO.driverConf(), 8, Seq("id"))
      rows(100, 120).toDF().coalesce(1).write.format("cole").mode("append")
        .save(dir)
      q.processAllAvailable()
      assert(received.get() === 120L)
      // rebucket rewrites the era-0 files; its compaction record must
      // keep the stream from re-emitting their (already served) rows
      val st = ColeRebucket.rebucket(s, dir)
      assert(st.filesRewritten > 0)
      q.processAllAvailable()
      assert(received.get() === 120L,
        "stream re-emitted rows a rebucket rewrote")
      // fresh appends still flow afterwards
      rows(120, 150).toDF().coalesce(1).write.format("cole").mode("append")
        .save(dir)
      q.processAllAvailable()
      assert(received.get() === 150L)
    } finally q.stop()
    // and the table itself is exact
    assert(s.read.format("cole").load(dir).count() === 150L)
  }

  test("interrupted rebucket swap resolves at recover(root): forward when complete, backward when partial") {
    val s = spark
    import s.implicits._
    val conf = ColeIO.driverConf()
    val dir = Files.createTempDirectory("cole_rebucket_crash").toString
    rows(0, 100).toDF().coalesce(1).write.format("cole").mode("overwrite")
      .option("bucketBy", "2:id").save(dir)
    val (fs, root) = ColeIO.resolve(dir, conf)
    val before = s.read.format("cole").load(dir).count()
    val olds = ColeMetaCache.infos(dir, conf)
      .map(i => ColeVersions.relOf(fs, dir, i.path))
    assert(olds.nonEmpty && olds.forall(_.startsWith("_bucket=")))

    // BACKWARD: manifest written, only SOME outputs renamed in — the
    // olds are the only complete copy; recover must drop the partials
    val partialNew = "_bucket1=0/rebucket-crash-part-a.col"
    fs.mkdirs(new HPath(dir, "_bucket1=0"))
    org.apache.hadoop.fs.FileUtil.copy(fs, new HPath(dir, olds.head),
      fs, new HPath(dir, partialNew), false, true, fs.getConf)
    ColeSwap.writeManifest(fs, root,
      olds.map("old:" + _) ++ Seq("new:" + partialNew,
        "new:_bucket1=1/rebucket-crash-part-b.col")) // b never landed
    ColeSwap.recover(fs, root, dir, conf)
    assert(!fs.exists(new HPath(dir, partialNew)),
      "roll-back must drop the partial outputs")
    assert(olds.forall(r => fs.exists(new HPath(dir, r))),
      "roll-back must keep every old file")
    assert(!fs.exists(ColeSwap.manifestPath(root)))
    assert(s.read.format("cole").load(dir).count() === before)

    // FORWARD: every output landed — recover deletes the listed olds
    // and the duplication window closes
    val newA = "_bucket1=0/rebucket-done-part-a.col"
    org.apache.hadoop.fs.FileUtil.copy(fs, new HPath(dir, olds.head),
      fs, new HPath(dir, newA), false, true, fs.getConf)
    // forward-roll deletes ONLY the listed olds: list just the one the
    // copy duplicates, so row counts stay exact afterwards
    ColeSwap.writeManifest(fs, root,
      Seq("old:" + olds.head, "new:" + newA))
    ColeSwap.recover(fs, root, dir, conf)
    assert(fs.exists(new HPath(dir, newA)))
    assert(!fs.exists(new HPath(dir, olds.head)),
      "roll-forward must delete the replaced old file")
    assert(!fs.exists(ColeSwap.manifestPath(root)))
    assert(s.read.format("cole").load(dir).count() === before)
  }
}
