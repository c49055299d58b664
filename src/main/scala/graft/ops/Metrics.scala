package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** One completed action's execution profile, read from the physical
  * plan's own metrics. */
final case class QueryMetric(
    action: String,
    durationMs: Long,
    scanRows: Long,
    shuffleBytes: Long,
    failed: Boolean)

/** Pipeline observability: a QueryExecutionListener that profiles every
  * completed action from the executed plan's metrics — rows scanned at
  * the sources and bytes through shuffle exchanges, the two numbers a
  * 100 TB operator actually watches (is pruning working? which stage
  * moves the data?). Passive: reads the metrics Spark already
  * maintains, adds no instrumentation to the hot path.
  *
  * {{{
  *   val m = GraftMetrics.install(spark)
  *   // ... run pipeline ...
  *   m.snapshot.foreach(println)   // or m.clear() between stages
  * }}}
  */
final class GraftMetrics private () extends QueryExecutionListener {

  private val buf = new ConcurrentLinkedQueue[QueryMetric]

  /** The final physical tree: AQE hides the live plan behind
    * AdaptiveSparkPlanExec; unwrap it (and any nested adaptive
    * subtrees) so metric collection sees the executed operators. */
  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    // materialized AQE stages are leaves wrapping their real subtree
    case q: QueryStageExec => q +: unwrap(q.plan)
    // a reused exchange POINTS at a subtree that executed once and
    // shares its metric objects — descending would double-count it
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(unwrap)
  }

  private def metricSum(plans: Seq[SparkPlan], nodeContains: String,
      metricKeys: Set[String]): Long =
    plans.filter(_.nodeName.contains(nodeContains))
      .flatMap(_.metrics.collect {
        case (k, m) if metricKeys(k) => math.max(0L, m.value)
      })
      .sum

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val plans = unwrap(qe.executedPlan)
    buf.add(QueryMetric(
      action = funcName,
      durationMs = durationNs / 1000000L,
      scanRows = metricSum(plans, "Scan", Set("numOutputRows")),
      // shuffleBytesWritten alone: it exists only on shuffle exchanges
      // (broadcast exchanges carry dataSize, which is not shuffle
      // volume), and summing dataSize too would count each shuffle
      // roughly twice
      shuffleBytes = metricSum(plans, "Exchange",
        Set("shuffleBytesWritten")),
      failed = false)): Unit
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit =
    buf.add(QueryMetric(funcName, 0L, 0L, 0L, failed = true)): Unit

  def snapshot: Seq[QueryMetric] = buf.iterator().asScala.toSeq

  def clear(): Unit = buf.clear()
}

object GraftMetrics {
  /** Install a fresh listener on the session and return it. */
  def install(spark: SparkSession): GraftMetrics = {
    val m = new GraftMetrics
    spark.listenerManager.register(m)
    m
  }

  def uninstall(spark: SparkSession, m: GraftMetrics): Unit =
    spark.listenerManager.unregister(m)
}

/** Spark jobs, stages and tasks started on a session, in total and per
  * phase, and the generated classes compiled meanwhile. The phase is
  * what a job's reader would call it: its `spark.job.description` when
  * set, else its short call site. `compiles` / `compileMs` are the
  * JVM-wide janino compiles (driver and, in local mode, executor
  * tasks) and their time; a compile that hits the codegen cache is not
  * counted. */
final case class JobCounts(jobs: Int, stages: Int, tasks: Int,
    phases: Map[String, Int], compiles: Long = 0L, compileMs: Long = 0L) {

  /** The counts started since `before` (a read of the same listener);
    * phases without a new job are dropped. */
  def -(before: JobCounts): JobCounts =
    JobCounts(jobs - before.jobs, stages - before.stages,
      tasks - before.tasks,
      phases.map { case (p, n) => p -> (n - before.phases.getOrElse(p, 0)) }
        .filter(_._2 > 0),
      compiles - before.compiles, compileMs - before.compileMs)
}

/** THE job counter: the one `SparkListener` behind every job, stage and
  * task count in graft (Bench's per-run detail, StressMain's growth
  * rows, `graft.Profile`, the job-count pins in the tests). Counts are
  * taken at job start, so a job's stages include any it skips on reused
  * shuffle output, as Spark's own UI counts them.
  *
  * The scheduler posts job events asynchronously; [[read]] drains the
  * listener bus first, so a read right after an action includes every
  * job that action started.
  *
  * {{{
  *   val (out, counts) = JobStats.during(spark)(df.count())
  *   counts.phases.foreach(println)   // jobs per named phase
  * }}}
  */
final class JobStats private (spark: SparkSession) extends SparkListener {

  private val jobs = new AtomicInteger
  private val stages = new AtomicInteger
  private val tasks = new AtomicInteger
  private val byPhase = new ConcurrentHashMap[String, AtomicInteger]
  private val compiled0 = JobStats.compiled()
  // the compile counters are JVM-wide, so close() freezes them
  @volatile private var compiledAtClose: Option[(Long, Long)] = None

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(): Unit
    stages.addAndGet(j.stageInfos.size): Unit
    tasks.addAndGet(j.stageInfos.map(_.numTasks).sum): Unit
    byPhase.computeIfAbsent(JobStats.phaseOf(j.properties),
      _ => new AtomicInteger).incrementAndGet(): Unit
  }

  /** Everything counted since [[JobStats.install]]. */
  def read(): JobCounts = {
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val (compiles, compileNs) = compiledAtClose.getOrElse(JobStats.compiled())
    JobCounts(jobs.get, stages.get, tasks.get,
      byPhase.asScala.map { case (p, n) => p -> n.get }.toMap,
      compiles - compiled0._1, (compileNs - compiled0._2) / 1000000L)
  }

  /** Stop counting. Drains first, so every job started before the call
    * is counted and none started after it. */
  def close(): Unit = {
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    if (compiledAtClose.isEmpty) compiledAtClose = Some(JobStats.compiled())
  }
}

object JobStats {
  /** Install a fresh counter on the session's SparkContext. */
  def install(spark: SparkSession): JobStats = {
    val s = new JobStats(spark)
    spark.sparkContext.addSparkListener(s)
    s
  }

  /** Generated classes compiled in this JVM so far, and their total
    * compile time in ns. */
  private def compiled(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)

  /** `body`'s value and the jobs it started. */
  def during[T](spark: SparkSession)(body: => T): (T, JobCounts) = {
    val s = install(spark)
    try {
      val before = s.read()
      val out = body
      (out, s.read() - before)
    } finally s.close()
  }

  /** A job's phase: its description, else its short call site. The
    * streaming engine describes every micro-batch job `… batch = N`, so
    * those are bucketed as `[stream-machinery]` by call site instead of
    * one row per batch. Whitespace is collapsed and the name capped at
    * 110 chars so a multi-line description stays one histogram row. */
  def phaseOf(props: java.util.Properties): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.short").getOrElse("?")
    (prop("spark.job.description") match {
      case Some(d) if d.contains("batch = ") => s"[stream-machinery] $site"
      case Some(d) => d
      case None => site
    }).replaceAll("\\s+", " ").take(110)
  }
}

/** One micro-batch's progress snapshot. */
final case class BatchProgress(
    queryName: String,
    batchId: Long,
    inputRows: Long,
    processedRowsPerSecond: Double,
    stateRows: Long,
    watermark: String)

/** Streaming twin of [[GraftMetrics]]: per-micro-batch progress —
  * input volume, throughput, stateful-operator state size, and the
  * event-time watermark. State size is the number to alarm on in a
  * long-running streaming pipeline (a watermark that stops advancing
  * shows up here as monotonically growing stateRows).
  */
final class GraftStreamingMetrics private ()
    extends org.apache.spark.sql.streaming.StreamingQueryListener {

  import org.apache.spark.sql.streaming.StreamingQueryListener._

  private val buf = new ConcurrentLinkedQueue[BatchProgress]

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    buf.add(BatchProgress(
      queryName = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      inputRows = p.numInputRows,
      processedRowsPerSecond = p.processedRowsPerSecond,
      stateRows = p.stateOperators.map(_.numRowsTotal).sum,
      watermark = Option(p.eventTime.get("watermark")).getOrElse(""))): Unit
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  def snapshot: Seq[BatchProgress] = buf.iterator().asScala.toSeq

  def clear(): Unit = buf.clear()
}

object GraftStreamingMetrics {
  def install(spark: SparkSession): GraftStreamingMetrics = {
    val m = new GraftStreamingMetrics
    spark.streams.addListener(m)
    m
  }

  def uninstall(spark: SparkSession, m: GraftStreamingMetrics): Unit =
    spark.streams.removeListener(m)
}

/** Row-level pipeline gate via `Dataset.observe` — the user-facing
  * metrics face next to the listeners above: named aggregates attached
  * to a frame are computed DURING the action (inside the same pass,
  * zero extra jobs) and read back after it completes. This is how a
  * production writer publishes "rows written / nulls seen / value
  * total" counters without a second scan — at 100 TB the second scan
  * IS the cost, and a separate `.count()` can silently diverge from
  * what the action actually wrote (retries, concurrent updates).
  */
object ObservedGate {

  /** Run `action` over `df` with the given named metric aggregates
    * attached; returns the observed metric map once the action
    * finishes. Metrics must be aggregate expressions over the frame's
    * columns (Spark's observe contract).
    *
    * CONTRACT — the action MUST execute a Spark action on the frame it
    * is handed (the observed frame), not on the original `df`:
    * `Observation.get` blocks until the observed plan runs, so acting
    * on anything else deadlocks the caller. Ordering below is
    * load-bearing: `action(...)` runs BEFORE `obs.get`, so an action
    * that throws propagates to the caller instead of parking on a get
    * that can never complete — do not reorder (r12 ADVICE). */
  def run(df: org.apache.spark.sql.DataFrame, gateName: String,
      metrics: Seq[org.apache.spark.sql.Column])(
      action: org.apache.spark.sql.DataFrame => Unit)
      : Map[String, Any] = {
    require(metrics.nonEmpty, "ObservedGate.run: no metrics")
    val obs = org.apache.spark.sql.Observation(gateName)
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    action(observed)
    obs.get
  }
}
