package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Job-local property that links Spark jobs to the op that ran them. */
  val OpKey = "graftbench.op"
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanoTime resolution, on the
    * same axis as the listener's event times.
    */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6
}

/** In-memory spans plus the two Spark listeners of the traced run. Only a
  * traced run constructs one, and the listeners are attached only while a
  * traced op runs.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: String, trace: String, parent: Option[String],
      name: String, startMs: Double, endMs: Double, attrs: Map[String, Any])

  final class StageRec(val id: Int) {
    var op: String = null
    var job = -1
    var startMs = 0.0
    var endMs = 0.0
    var readsTable = false
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  final class JobRec(val id: Int, val op: String, val startMs: Double,
      val stages: Seq[Int]) {
    var endMs = 0.0
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val stageOp = mutable.HashMap[Int, (String, Int)]()
  private val qes = mutable.ArrayBuffer[(QueryExecution, Double)]()
  @volatile private var events = 0L

  def span(id: String, trace: String, parent: Option[String], name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any]): Unit =
    synchronized { spans += Span(id, trace, parent, name, startMs, endMs, attrs) }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val op = Option(e.properties).map(_.getProperty(Tracer.OpKey)).orNull
      if (op != null) {
        jobs(e.jobId) = new JobRec(e.jobId, op, e.time.toDouble, e.stageIds)
        e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      events += 1
      stageOp.get(e.stageId).foreach { case (op, job) =>
        val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        s.op = op; s.job = job
        s.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      events += 1
      val info = e.stageInfo
      stageOp.get(info.stageId).foreach { case (op, job) =>
        val s = stages.getOrElseUpdate(info.stageId, new StageRec(info.stageId))
        s.op = op; s.job = job
        s.startMs = info.submissionTime.getOrElse(0L).toDouble
        s.endMs = info.completionTime.getOrElse(0L).toDouble
        s.readsTable = info.rddInfos.exists(r =>
          r.name == "DataSourceRDD" || r.name == "FileScanRDD" ||
            r.scope.exists(sc => sc.name.startsWith("BatchScan") || sc.name.startsWith("Scan ")))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        events += 1
        val start = qe.tracker.phases.values.map(_.startTimeMs).minOption
        start.foreach(s => qes += ((qe, s.toDouble)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Wait until the listener bus has been quiet for a moment, so every
    * event of the op just run has been delivered before the listeners go.
    */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var last = -1L
    while (events != last && System.nanoTime() < deadline) {
      last = events
      Thread.sleep(100)
    }
  }

  /** Planning phases of every QueryExecution an op ran, its own plus the
    * nested ones a DML statement executes (attributed by start time).
    */
  private def phases(rec: OpRec, endMs: Double): Map[String, Double] = {
    val nested = qes.collect { case (qe, s) if s >= rec.startMs - 1 && s <= endMs => qe }
    val all = (rec.qes ++ nested).foldLeft(List.empty[QueryExecution]) { (acc, q) =>
      if (acc.exists(_ eq q)) acc else q :: acc
    }
    val sums = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    all.foreach(_.tracker.phases.foreach { case (k, p) => sums(k) += p.durationMs.toDouble })
    sums.toMap
  }

  /** The per-layer metrics over the traced ops in `recs`, and the span
    * file (one JSON object per line, with self times).
    */
  def finish(recs: Seq[OpRec], spanFile: File): Map[String, (Double, String)] = synchronized {
    val traced = recs.filter(_.traced)
    val byOp = traced.map(r => r.id -> r).toMap
    val n = math.max(traced.size, 1).toDouble
    val endOf = traced.map(r => r.id -> (r.startMs + r.latencyMs + r.verifyMs)).toMap
    val ph = traced.map(r => r.id -> phases(r, endOf(r.id))).toMap
    def perOp(f: OpRec => Double) = traced.map(f).sum / n

    // listener spans: jobs under the plan or execute span they started
    // in, stages under their job
    jobs.values.filter(j => byOp.contains(j.op)).foreach { j =>
      val r = byOp(j.op)
      val phase = if (j.startMs < r.startMs + r.planMs) "plan" else "execute"
      span(s"${j.op}.job${j.id}", j.op, Some(s"${j.op}.$phase"), "job", j.startMs, j.endMs,
        Map("job_id" -> j.id))
    }
    stages.values.filter(s => byOp.contains(s.op)).foreach { s =>
      span(s"${s.op}.stage${s.id}", s.op, Some(s"${s.op}.job${s.job}"), "stage",
        s.startMs, s.endMs, Map("stage_id" -> s.id, "tasks" -> s.taskMs.size,
          "run_ms" -> s.runMs, "reads_table" -> s.readsTable))
    }
    writeSpans(spanFile)

    val opJobs = jobs.values.filter(j => byOp.contains(j.op)).groupBy(_.op)
    val opStages = stages.values.filter(s => byOp.contains(s.op)).groupBy(_.op)
    def stageSum(f: StageRec => Double) = opStages.values.flatten.map(f).sum / n
    val jobWall = opJobs.values.flatten.map(j => j.endMs - j.startMs).sum
    val critical = opJobs.values.flatten.map { j =>
      j.stages.flatMap(stages.get).map(s => if (s.taskMs.isEmpty) 0L else s.taskMs.max).sum.toDouble
    }.sum
    val skews = opStages.values.flatMap { ss =>
      val longest = ss.filter(_.taskMs.nonEmpty).maxByOption(s => s.endMs - s.startMs)
      longest.map { s =>
        val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
        if (med > 0) s.taskMs.max / med else 1.0
      }
    }.toSeq
    val aggs = traced.filter(r => r.aggregate && r.ok)
    val dml = traced.filter(_.kind == "dml")
    val nDml = math.max(dml.size, 1).toDouble
    val tableBytes = traced.map(_.tableBytes).sum.toDouble
    Map(
      "planning.analysis_ms" -> (perOp(r => ph(r.id).getOrElse("analysis", 0.0)), "ms"),
      "planning.optimization_ms" -> (perOp(r => ph(r.id).getOrElse("optimization", 0.0)), "ms"),
      "planning.physical_ms" -> (perOp(r => ph(r.id).getOrElse("planning", 0.0)), "ms"),
      "planning.bytes_read" -> (perOp(_.planBytesRead.toDouble), "bytes"),
      "planning.partitions" -> (perOp(_.colePartitions.toDouble), "count"),
      "planning.folded_frac" -> (
        if (aggs.isEmpty) 0.0 else aggs.count(!_.hasColeScan).toDouble / aggs.size, "ratio"),
      "scan.bytes_read" -> (perOp(_.execBytesRead.toDouble), "bytes"),
      "scan.read_frac" -> (
        if (tableBytes <= 0) 0.0 else traced.map(_.execBytesRead).sum / tableBytes, "ratio"),
      "scan.rows_out" -> (perOp(_.scanRowsOut.toDouble), "rows"),
      "scan.task_ms" -> (stageSum(s => if (s.readsTable) s.runMs.toDouble else 0.0), "ms"),
      "spark.jobs" -> (opJobs.values.map(_.size).sum / n, "count"),
      "spark.stages" -> (opStages.values.map(_.size).sum / n, "count"),
      "spark.tasks" -> (stageSum(_.taskMs.size.toDouble), "count"),
      "spark.exec_ms" -> (jobWall / n, "ms"),
      "spark.task_cpu_ms" -> (stageSum(_.cpuNs / 1e6), "ms"),
      "spark.gc_ms" -> (stageSum(_.gcMs.toDouble), "ms"),
      "spark.sched_wait_ms" -> (math.max(0.0, jobWall - critical) / n, "ms"),
      "spark.shuffle_write_bytes" -> (stageSum(_.shuffleWrite.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> (stageSum(_.shuffleRead.toDouble), "bytes"),
      "spark.spill_bytes" -> (stageSum(_.spill.toDouble), "bytes"),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.mean(skews), "ratio"),
      "commit.bytes_written" -> (dml.map(_.execBytesWritten.toDouble).sum / nDml, "bytes"),
      "commit.bytes_read" -> (dml.map(_.execBytesRead.toDouble).sum / nDml, "bytes"),
      "commit.files_added" -> (dml.map(_.filesAdded.toDouble).sum / nDml, "count"),
      "commit.files_removed" -> (dml.map(_.filesRemoved.toDouble).sum / nDml, "count"),
      "commit.rewritten_frac" -> (
        if (dml.isEmpty) 0.0
        else Stats.mean(dml.map(r => if (r.liveBefore == 0) 0.0 else r.filesRemoved.toDouble / r.liveBefore)),
        "ratio"),
      "commit.rows_changed" -> (dml.map(_.rowsChanged.toDouble).sum / nDml, "rows"),
    )
  }

  private def writeSpans(f: File): Unit = {
    // self time: a span's duration minus the union of its children's
    // intervals (children may overlap, e.g. concurrent stages)
    val kids = spans.groupBy(_.parent)
    val lines = spans.sortBy(_.startMs).map { s =>
      val iv = kids.getOrElse(Some(s.id), Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0.0; var hi = Double.MinValue
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += b - a; hi = b }
        else if (b > hi) { covered += b - hi; hi = b }
      }
      val dur = s.endMs - s.startMs
      Json(Map("span_id" -> s.id, "op_id" -> s.trace, "parent_id" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_ms" -> dur,
        "self_ms" -> math.max(0.0, dur - covered), "attrs" -> s.attrs))
    }
    Files.write(f, lines.mkString("", "\n", "\n"))
  }
}
