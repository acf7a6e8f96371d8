package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One operation of a workload. A query op hands its DataFrame to the
  * runner, which forces `executedPlan` and then `collect()`s; a DML op
  * runs one SQL statement. `check` returns an error message when the
  * answer is wrong.
  */
sealed trait Op {
  def name: String
  /** Table directories the op reads, for the bytes-read ratio. */
  def tables: Seq[File]
}

final case class QueryOp(name: String, df: () => DataFrame,
    check: Array[Row] => Option[String], tables: Seq[File] = Nil,
    aggregate: Boolean = false) extends Op

/** `table` is the COLE table the statement changes; `applied` is called
  * after the statement succeeds and returns the rows it changed according
  * to the workload's replay.
  */
final case class DmlOp(name: String, sql: String, table: File,
    applied: () => Long, before: () => Unit = () => ()) extends Op {
  def tables: Seq[File] = Seq(table)
}

/** Hadoop `FileSystem` statistics of the `file` scheme. Executors run in
  * this JVM in local mode, so these count every COLE read/write.
  */
object FsStats {
  def read(): (Long, Long) = {
    var r = 0L; var w = 0L
    val it = org.apache.hadoop.fs.FileSystem.getAllStatistics.iterator()
    while (it.hasNext) {
      val s = it.next()
      if (s.getScheme == "file") { r += s.getBytesRead; w += s.getBytesWritten }
    }
    (r, w)
  }
}

/** Everything recorded about one executed op. Layer fields stay at their
  * defaults on untraced ops.
  */
final class OpRec(val id: String, val name: String, val kind: String,
    val traced: Boolean, val timed: Boolean) {
  var startMs = 0.0
  var latencyMs = 0.0
  var error: Option[String] = None
  def ok: Boolean = error.isEmpty
  var planMs = 0.0
  var verifyMs = 0.0
  var planBytesRead = 0L
  var execBytesRead = 0L
  var execBytesWritten = 0L
  var tableBytes = 0L
  var aggregate = false
  var hasColeScan = false
  var colePartitions = 0
  var scanRowsOut = 0L
  var qes: List[QueryExecution] = Nil
  var filesAdded = 0
  var filesRemoved = 0
  var liveBefore = 0
  var rowsChanged = 0L
}

object PlanFacts extends AdaptiveSparkPlanHelper {
  def isCole(b: BatchScanExec): Boolean =
    b.scan.getClass.getName.startsWith("graft.sources.cole")

  /** COLE scan present, its input partitions, and rows out of every scan. */
  def of(plan: SparkPlan): (Boolean, Int, Long) = {
    val cole = collect(plan) { case b: BatchScanExec if isCole(b) => b }
    val parts = cole.map(_.inputPartitions.size).sum
    val rows = collect(plan) {
      case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case f: FileSourceScanExec => f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    (cole.nonEmpty, parts, rows)
  }
}

/** Runs ops one after another (a closed loop with one client) and keeps
  * their records. With a tracer, every op is a root span with `plan`,
  * `execute` and `verify` children and its layer facts are captured.
  */
final class Runner(spark: SparkSession, tracer: Option[Tracer]) {
  val recs = ArrayBuffer[OpRec]()
  private var seq = 0

  def run(op: Op, round: Int, timed: Boolean, traced: Boolean): OpRec = {
    seq += 1
    val t = if (traced) tracer else None
    val rec = new OpRec(f"op$seq%05d", op.name,
      op match { case _: QueryOp => "query"; case _: DmlOp => "dml" },
      t.isDefined, timed)
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, rec.id)
    rec.startMs = Tracer.nowMs()
    t.foreach { _ =>
      rec.tableBytes = op.tables.map(Files.bytes).sum
    }
    op match {
      case q: QueryOp => runQuery(q, rec, t)
      case d: DmlOp => runDml(d, rec, t)
    }
    sc.setLocalProperty(Tracer.OpKey, null)
    t.foreach(_.span(rec.id, rec.id, None, "op", rec.startMs,
      rec.startMs + rec.latencyMs + rec.verifyMs,
      Map("op" -> rec.name, "round" -> round, "ok" -> rec.ok)))
    recs += rec
    rec
  }

  private def runQuery(q: QueryOp, rec: OpRec, t: Option[Tracer]): Unit = {
    rec.aggregate = q.aggregate
    var rows: Array[Row] = null
    var df: DataFrame = null
    val t0 = System.nanoTime()
    val fs0 = FsStats.read()
    try {
      df = q.df()
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val fs1 = FsStats.read()
      rows = df.collect()
      val t2 = System.nanoTime()
      val fs2 = FsStats.read()
      rec.planMs = (t1 - t0) / 1e6
      rec.latencyMs = (t2 - t0) / 1e6
      rec.planBytesRead = fs1._1 - fs0._1
      rec.execBytesRead = fs2._1 - fs1._1
      rec.execBytesWritten = fs2._2 - fs1._2
    } catch {
      case e: Exception =>
        rec.latencyMs = (System.nanoTime() - t0) / 1e6
        rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val v0 = System.nanoTime()
    if (rows != null) {
      rec.error = try q.check(rows) catch {
        case e: Exception => Some(s"check failed: $e".take(300))
      }
    }
    rec.verifyMs = (System.nanoTime() - v0) / 1e6
    t.foreach { tr =>
      if (df != null) {
        rec.qes = List(df.queryExecution)
        if (rows != null) {
          val (cole, parts, out) = PlanFacts.of(df.queryExecution.executedPlan)
          rec.hasColeScan = cole; rec.colePartitions = parts; rec.scanRowsOut = out
        }
      }
      tr.span(rec.id + ".plan", rec.id, Some(rec.id), "plan", rec.startMs,
        rec.startMs + rec.planMs, Map("fs_bytes_read" -> rec.planBytesRead))
      tr.span(rec.id + ".execute", rec.id, Some(rec.id), "execute",
        rec.startMs + rec.planMs, rec.startMs + rec.latencyMs,
        Map("fs_bytes_read" -> rec.execBytesRead, "action" -> "collect"))
      tr.span(rec.id + ".verify", rec.id, Some(rec.id), "verify",
        rec.startMs + rec.latencyMs, rec.startMs + rec.latencyMs + rec.verifyMs,
        Map("ok" -> rec.ok))
    }
  }

  private def runDml(d: DmlOp, rec: OpRec, t: Option[Tracer]): Unit = {
    d.before()
    val files0 = if (t.isDefined) Files.dataFiles(d.table) else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val fs0 = FsStats.read()
    var done = false
    try {
      val res = spark.sql(d.sql)
      done = true
      val t1 = System.nanoTime()
      val fs1 = FsStats.read()
      rec.latencyMs = (t1 - t0) / 1e6
      rec.execBytesRead = fs1._1 - fs0._1
      rec.execBytesWritten = fs1._2 - fs0._2
      if (t.isDefined) rec.qes = List(res.queryExecution)
    } catch {
      case e: Exception =>
        rec.latencyMs = (System.nanoTime() - t0) / 1e6
        rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val v0 = System.nanoTime()
    // the statement itself returns nothing to check: its effect is
    // checked by the readout that follows it against the replay
    if (done) rec.rowsChanged = d.applied()
    rec.verifyMs = (System.nanoTime() - v0) / 1e6
    t.foreach { tr =>
      val files1 = Files.dataFiles(d.table)
      rec.liveBefore = files0.size
      rec.filesAdded = (files1.keySet -- files0.keySet).size
      rec.filesRemoved = (files0.keySet -- files1.keySet).size
      tr.span(rec.id + ".plan", rec.id, Some(rec.id), "plan", rec.startMs,
        rec.startMs, Map("note" -> "a DML statement plans inside its execution"))
      tr.span(rec.id + ".execute", rec.id, Some(rec.id), "execute",
        rec.startMs, rec.startMs + rec.latencyMs,
        Map("fs_bytes_read" -> rec.execBytesRead,
          "fs_bytes_written" -> rec.execBytesWritten,
          "files_added" -> rec.filesAdded, "files_removed" -> rec.filesRemoved,
          "action" -> "sql"))
      tr.span(rec.id + ".verify", rec.id, Some(rec.id), "verify",
        rec.startMs + rec.latencyMs, rec.startMs + rec.latencyMs + rec.verifyMs,
        Map("rows_changed" -> rec.rowsChanged))
    }
  }
}
