package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One measured pass of a workload over fresh state. */
trait Phase {
  /** One closed-loop operation; false when its inputs are used up. */
  def step(): Boolean

  /** Per-operation wall times behind `op_s`, in seconds. */
  def opSeconds: Seq[Double]

  /** `op_s` and `items_per_s` of this pass. */
  def endToEnd: Seq[Metric]

  /** Per-layer metrics of a traced pass; finishes the tracer. */
  def layers(tr: Tracer): Seq[Metric]

  /** Check every output of the pass: (checked, wrong). */
  def verify(): (Int, Int)
}

trait Workload {
  /** Write every input file of the run. Called before any timing. */
  def generate(): Unit

  /** Set-up round `r`'s untimed warm-up on seed-derived inputs of its
    * own, over state the rounds share: `Main.warmOps(r, jitOps)`
    * operations. */
  def warmup(spark: SparkSession, r: Int): Unit

  def phase(spark: SparkSession, name: String, tr: Tracer): Phase
}

/** Benchmark entry point: builds the session, warms up, runs one closed-loop
  * pass for `--seconds`, checks the outputs and prints one JSON line.
  * With `--trace 1` a second, traced pass alternates with the first, one
  * operation each in turn, and the per-layer metrics come from it.
  *
  * {{{
  *   perfbench.Main --workload curate_stream --seed 1 --seconds 10
  *     --trace 0 --work <scratch dir> [--spans <file>]
  * }}}
  */
object Main {

  /** Set-up rounds; `setup_s` is their median. */
  val SetupRounds = 3

  /** Indices of the warm-up operations of set-up round `r`: the first
    * round also brings the JIT to steady state with `jitOps` operations,
    * the later rounds run one each. */
  def warmOps(r: Int, jitOps: Int): Range =
    if (r == 0) 0 until jitOps else (jitOps + r - 1) until (jitOps + r)

  def warmInputs(jitOps: Int): Int = jitOps + SetupRounds - 1

  /** Every per-layer metric. A layer a workload leaves idle reads 0. */
  val Layers: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.plan_s" -> "s", "spark.codegen_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.sched_delay_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "jvm.heap_peak_mb" -> "MB",
    "workflow.datagen_s" -> "s", "workflow.train_s" -> "s",
    "workflow.validate_s" -> "s", "workflow.predict_s" -> "s",
    "registry.state_bytes" -> "bytes",
    "ext.gate_shingle_s" -> "s", "ext.history_join_s" -> "s",
    "ext.pairs_s" -> "s", "ext.cc_s" -> "s", "ext.kept_sink_s" -> "s",
    "ext.fold_publish_s" -> "s", "ext.compaction_s" -> "s",
    "ext.cc_driver_batches" -> "count", "ext.index_mb" -> "MB",
    "ext.rejected_frac" -> "ratio",
    "connector.append_s" -> "s", "connector.offset_s" -> "s",
    "connector.getbatch_s" -> "s", "connector.offset_bytes" -> "bytes",
    "connector.segments" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.query_start_s" -> "s",
    "trace.coverage_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val wl: Workload = name match {
      case "workflow_retrain" => new WorkflowRetrain(seed, work)
      case "curate_stream" => new CurateStream(seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.generate()

    var spark: SparkSession = null
    val sessionS = new Array[Double](SetupRounds)
    val setup = (0 until SetupRounds).map { r =>
      val clock = HostSteal.start()
      if (spark != null) spark.stop()
      spark = graft.GraftSession.get(cores)
      sessionS(r) = clock.wallSeconds
      wl.warmup(spark, r)
      clock.netSeconds
    }
    log(f"set-up rounds: ${setup.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"session builds ${sessionS.map(s => f"$s%.2f").mkString(" ")} s")

    // with tracing, untraced and traced operations alternate, so both
    // passes see the same JVM warmth and each gets `seconds`
    val timed = wl.phase(spark, "timed", new Tracer(false))
    val tr = new Tracer(traced)
    val passes = (timed -> new Tracer(false)) +:
      (if (traced) Seq(wl.phase(spark, "traced", tr) -> tr) else Nil)
    val (n, errors) = loop(spark, passes, seconds * passes.size)
    var attempted = errors
    var failed = errors
    passes.foreach { case (p, t) =>
      val (c, w) = checked(p)
      attempted += c
      failed += w
      log(s"${if (t.on) "traced" else "timed"} pass: $c checked, $w wrong; " +
        s"op_s ${p.opSeconds.map(x => f"$x%.3f").mkString(" ")}")
    }
    log(s"$n operations per pass, $errors errors")

    val metrics =
      if (!traced) Metric("setup_s", Stats.median(setup), "s") +: timed.endToEnd
      else {
        val pass = passes(1)._1
        val overhead =
          if (timed.opSeconds.isEmpty || pass.opSeconds.isEmpty) 0.0
          else Stats.median(pass.opSeconds) / Stats.median(timed.opSeconds) - 1
        val got = (pass.layers(tr) :+ Metric("trace.overhead_frac", overhead,
          "ratio")).map(m => m.name -> m).toMap
        a.get("spans").foreach(p => tr.write(Paths.get(p),
          Seq("workload" -> name, "seed" -> seed.toString)))
        require(got.keySet.subsetOf(Layers.map(_._1).toSet),
          s"unlisted layer metrics: ${got.keySet -- Layers.map(_._1)}")
        Layers.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
      }
    spark.stop()

    val ms = metrics.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }

  /** Closed loop: one operation of each pass in turn until `seconds`
    * pass; an operation that throws ends the loop. (rounds, errors) */
  private def loop(spark: SparkSession, passes: Seq[(Phase, Tracer)],
      seconds: Double): (Int, Int) = {
    val t0 = System.nanoTime
    var n = 0
    try {
      while ((System.nanoTime - t0) / 1e9 < seconds &&
          passes.forall { case (p, t) => t.around(spark)(p.step()) })
        n += 1
      (n, 0)
    } catch {
      case e: Exception =>
        log(s"operation $n failed: $e")
        e.printStackTrace()
        (n, 1)
    }
  }

  private def checked(p: Phase): (Int, Int) =
    try p.verify()
    catch {
      case e: Exception =>
        log(s"output check failed: $e")
        e.printStackTrace()
        (1, 1)
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def dirSize(p: Path): Long = {
    val f = p.toFile
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).fold(0L)(_.map(c => dirSize(c.toPath)).sum)
  }
}
