package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** A traced interval on the driver's wall clock (epoch milliseconds).
  * `op` names the execution, stream, batch or round it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: String) {
  def ms: Long = end - start
}

object Intervals {
  /** Length covered by the union of half-open intervals. */
  def union(xs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var cs = 0L
    var ce = Long.MinValue
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (ce == Long.MinValue || s > ce) {
        if (ce != Long.MinValue) total += ce - cs
        cs = s; ce = e
      } else if (e > ce) ce = e
    }
    if (ce != Long.MinValue) total += ce - cs
    total
  }

  /** Length of `xs` covered inside [lo, hi). */
  def unionWithin(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long =
    union(xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}

/** A Spark job as seen by the listener bus. */
final case class JobRec(id: Int, desc: String, start: Long, end: Long)

/** Job spans plus task metrics summed over every finished task. */
final class JobListener extends SparkListener {
  private val starts = mutable.LinkedHashMap.empty[Int, (String, Long)]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    starts(e.jobId) = (desc, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (d, t) =>
      done += JobRec(e.jobId, d, t, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val getting =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      // the scheduler-delay formula of Spark's own stage page
      schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobs: Seq[JobRec] = synchronized(done.sortBy(_.start).toSeq)
}

/** Catalyst analysis, optimization and planning time of every action. */
final class PlanListener extends QueryExecutionListener {
  var planMs = 0L
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Spans kept in memory and written out when the benchmark ends. The
  * benchmark's own spans around public calls are the parents; Spark jobs
  * and streaming progress entries are attached as their children. The
  * listeners are attached around each traced operation only. An untraced
  * tracer (`on = false`) records nothing and attaches nothing. */
final class Tracer(val on: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val jobListener = new JobListener
  private val planListener = new PlanListener
  private var codegen0 = 0L
  private var codegenNs = 0L
  private var heapPeakB = 0L

  def now: Long = System.currentTimeMillis()

  /** Record a span; returns its id, the `parent` of its children. */
  def record(name: String, start: Long, end: Long, op: String,
      parent: Int = -1): Int =
    if (!on) -1
    else {
      nextId += 1
      buf += Span(nextId, name, start, end, parent, op)
      nextId
    }

  /** Trace `body`: listeners attached before it and, once the listener
    * bus has delivered its events, detached after it. */
  def around[A](spark: SparkSession)(body: => A): A =
    if (!on) body
    else {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      codegen0 = CodeGenerator.compileTime
      heapPools.foreach(_.resetPeakUsage())
      try body
      finally {
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
        codegenNs += CodeGenerator.compileTime - codegen0
        heapPeakB = math.max(heapPeakB, heapPools.map(_.getPeakUsage.getUsed).sum)
      }
    }

  /** Turn the jobs seen into child spans of the benchmark's spans; call
    * once, after the benchmark recorded its own. */
  def finish(): Unit = if (on) {
    val parents = buf.toSeq
    jobs.foreach { j =>
      // innermost benchmark span open when the job started
      val p = parents.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => (s.ms, -s.start)).headOption
      record("job: " + (if (j.desc.isEmpty) "-" else j.desc), j.start,
        j.end, p.fold("")(_.op), p.fold(-1)(_.id))
    }
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq

  def jobs: Seq[JobRec] = jobListener.jobs
  def named(name: String): Seq[Span] = buf.filter(_.name == name).toSeq

  /** Self time: duration minus the part its child spans cover. */
  def selfMs(s: Span): Long = {
    val kids = buf.filter(_.parent == s.id).map(k => (k.start, k.end))
    s.ms - Intervals.unionWithin(kids, s.start, s.end)
  }

  /** Share of `top`'s wall time covered by the spans `leaf` selects. */
  def coverage(top: Seq[Span], leaf: Span => Boolean): Double = {
    val wall = top.map(_.ms).sum.toDouble
    val cov = top.map { t =>
      Intervals.unionWithin(buf.filter(leaf).map(s => (s.start, s.end)),
        t.start, t.end)
    }.sum
    if (wall <= 0) 0.0 else cov / wall
  }

  /** The layers every workload reports, per operation. `top` are the
    * closed-loop operations' spans; `perOp` is the count divided by. */
  def sparkLayers(top: Seq[Span], perOp: Int): Seq[Metric] = {
    val n = math.max(1, perOp).toDouble
    val l = jobListener
    val jobIv = jobs.map(j => (j.start, j.end))
    val inJobs = top.map(t => Intervals.unionWithin(jobIv, t.start, t.end)).sum
    val wall = top.map(_.ms).sum
    val mb = 1024.0 * 1024.0
    Seq(
      Metric("spark.jobs", jobs.size / n, "count"),
      Metric("spark.stages", l.stages / n, "count"),
      Metric("spark.tasks", l.tasks / n, "count"),
      Metric("spark.driver_gap_s", (wall - inJobs) / 1000.0 / n, "s"),
      Metric("spark.plan_s", planListener.planMs / 1000.0 / n, "s"),
      Metric("spark.codegen_s", codegenNs / 1e9 / n, "s"),
      Metric("spark.task_run_s", l.runMs / 1000.0 / n, "s"),
      Metric("spark.task_cpu_s", l.cpuNs / 1e9 / n, "s"),
      Metric("spark.sched_delay_s", l.schedMs / 1000.0 / n, "s"),
      Metric("spark.gc_s", l.gcMs / 1000.0 / n, "s"),
      Metric("spark.shuffle_read_mb", l.shuffleReadB / mb / n, "MB"),
      Metric("spark.shuffle_write_mb", l.shuffleWriteB / mb / n, "MB"),
      Metric("spark.spill_mb", l.spillB / mb / n, "MB"),
      Metric("jvm.heap_peak_mb", heapPeakB / mb, "MB"))
  }

  def write(path: Path, meta: Seq[(String, String)]): Unit = {
    Files.createDirectories(path.getParent)
    val rows = buf.sortBy(s => (s.start, s.id)).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${Json.str(s.op)},""" +
        s""""parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end},""" +
        s""""self_ms":${selfMs(s)}}"""
    }
    val head = meta.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    Files.writeString(path, s"{${head.mkString(",")},\"spans\":[\n" +
      rows.mkString(",\n") + "\n]}\n", StandardCharsets.UTF_8): Unit
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
