package graft.sources.cole

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReplaceData, WriteDelta}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec

/** Operation-level auto-retry for overlapping row-level DML (r13).
  *
  * The claims protocol ([[ColeClaims]]) serializes overlapping
  * committers, but the LOSER's replacement rows were computed from the
  * pre-winner bytes — its (len, mtime) check rejects loudly and the user
  * had to re-run the statement by hand. The retry closes that last
  * manual step: on a conflict abort the SAME logical operation is
  * re-planned against the new snapshot and re-executed, bounded by
  * `graft.cole.dml.maxRetries`, before the loud reject surfaces.
  *
  * Why re-planning is safe: a conflict abort happens BEFORE any mutation
  * (the replacement is still dotted-invisible and rolled back; the
  * connector's swap never started), so re-execution starts from a clean
  * table. Re-planning is EXACT because physical planning re-runs the
  * whole pipeline: the group scan re-lists the table (fresh
  * ColeMetaCache.infos), the runtime group filter re-evaluates, and
  * recordPlanned re-records the authoritative snapshot — nothing from
  * the failed attempt survives (its scan-fingerprint accumulator is
  * reset between attempts so no-op detection never sees stale slices).
  *
  * Mechanics: [[ColeDmlRetryStrategy]] (injected by GraftExtensions)
  * intercepts the logical `ReplaceData` / `WriteDelta` of a COLE
  * row-level operation and plans it as [[ColeDmlRetryExec]], which
  * executes the logical through a fresh nested QueryExecution per
  * attempt — a thread-local suppression flag keeps the strategy from
  * intercepting its own re-executions. An eligible UPDATE or MERGE plans
  * its native exec ([[ColeUpdateExec]], [[ColeMergeExec]]) as the child
  * instead, and each attempt re-runs it: it re-classifies from a fresh
  * listing. The condition-driven DELETE paths ([[ColeDelete]]) are
  * self-contained in the connector and
  * retry through [[ColeDmlRetry.withRetries]] directly; their
  * re-execution re-classifies from a fresh listing, and the idempotent
  * condition makes a retry after a PARTIAL multi-directory failure heal
  * the remainder instead of double-applying.
  *
  * A genuinely unsatisfiable conflict (a writer that keeps winning) still
  * rejects loudly after the bounded attempts — same message, same
  * untouched-table guarantee as before.
  */
object ColeDmlRetry {

  /** Bounded re-executions per statement; 0 disables auto-retry. */
  val MaxRetriesKey = "graft.cole.dml.maxRetries"
  val DefaultMaxRetries = 3

  /** Conflict re-executions performed — spec-visible. */
  val retries = new AtomicLong(0)

  /** Statements that ran through [[ColeDmlRetryExec]] — spec-visible
    * (proves the strategy is on the DML path, not silently bypassed).
    */
  val executions = new AtomicLong(0)

  // the strategy must not intercept the retry exec's own re-executions
  private val replanning = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private[cole] def isReplanning: Boolean = replanning.get()
  private[cole] def suppressed[T](body: => T): T = {
    replanning.set(true)
    try body finally replanning.set(false)
  }

  /** Marks a ReplaceData/WriteDelta the strategy already wrapped, so the
    * SAME planner pass's planLater() plans the vanilla exec under it —
    * attempt 0 then executes a SINGLE-planned delegate (no second
    * optimizer run on the no-conflict path); only an actual conflict
    * pays a full re-plan.
    */
  private[cole] val PlannedTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean](
      "coleDmlRetryPlanned")

  /** True when `t` (or any cause) is the connector's loud
    * concurrent-write rejection — the only failure a retry can fix.
    */
  def isConflict(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      if (cur.getMessage != null &&
        cur.getMessage.contains("concurrent write detected")) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** The bounded conflict loop of every row-level statement: `body`,
    * given the attempt index (0 first), must re-plan from scratch on
    * every invocation and be idempotent on a partially-applied state.
    */
  def withRetries[T](conf: Configuration)(body: Int => T): T = {
    val max = conf.getInt(MaxRetriesKey, DefaultMaxRetries)
    var attempt = 0
    while (true) {
      try return body(attempt)
      catch {
        case e: Throwable if isConflict(e) && attempt < max =>
          attempt += 1
          retries.incrementAndGet()
          Thread.sleep(25L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Plans a COLE `ReplaceData` / `WriteDelta` as the retrying command.
  * Injected via `GraftExtensions` (sessions built without the extensions
  * keep the r12 behavior: loud reject, manual re-run).
  */
class ColeDmlRetryStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case rd: ReplaceData
        if rd.operation.isInstanceOf[ColeRowLevelOperation] &&
          rd.getTagValue(ColeDmlRetry.PlannedTag).isEmpty &&
          !ColeDmlRetry.isReplanning =>
      rd.setTagValue(ColeDmlRetry.PlannedTag, true)
      val op = rd.operation.asInstanceOf[ColeRowLevelOperation]
      // an eligible UPDATE or MERGE runs as a native columnar file rewrite
      val native = ColeUpdate.plan(rd, op).orElse(ColeMerge.plan(rd, op))
      Seq(ColeDmlRetryExec(rd, op, native.getOrElse(planLater(rd))))
    case wd: WriteDelta
        if wd.operation.isInstanceOf[ColeRowLevelOperation] &&
          wd.getTagValue(ColeDmlRetry.PlannedTag).isEmpty &&
          !ColeDmlRetry.isReplanning =>
      wd.setTagValue(ColeDmlRetry.PlannedTag, true)
      Seq(ColeDmlRetryExec(wd,
        wd.operation.asInstanceOf[ColeRowLevelOperation], planLater(wd)))
    case _ => Nil
  }
}

/** Executes the row-level command: attempt 0 runs `child` — the vanilla
  * exec planned in the SAME planner pass (zero extra planning on the
  * no-conflict path) — and each conflict abort re-plans the logical
  * through a fresh nested QueryExecution (bounded). A native
  * [[ColeNativeDmlExec]] child re-runs itself instead.
  */
case class ColeDmlRetryExec(logical: LogicalPlan, op: ColeRowLevelOperation,
    child: SparkPlan)
    extends V2CommandExec with org.apache.spark.sql.execution.UnaryExecNode {

  override def output: Seq[Attribute] = Nil

  override protected def withNewChildInternal(newChild: SparkPlan)
      : ColeDmlRetryExec = copy(child = newChild)

  override def run(): Seq[InternalRow] = {
    ColeDmlRetry.executions.incrementAndGet()
    val sess = session
    ColeDmlRetry.withRetries(sess.sessionState.newHadoopConf()) { attempt =>
      // the failed attempt's scan fingerprints must not feed the
      // re-execution's no-op rewrite detection
      if (attempt > 0) Option(op.scanAcc).foreach(_.reset())
      child match {
        case native: ColeNativeDmlExec => native.attempt()
        case _ if attempt == 0 => child.executeCollect()
        case _ => ColeDmlRetry.suppressed {
          // commandExecuted forces the command eagerly through the
          // standard path: fresh optimization, fresh physical plan,
          // fresh scan listing — a true re-plan, not a job re-run
          sess.sessionState.executePlan(logical).commandExecuted
        }
      }
    }
    Nil
  }
}
