package graft

import org.apache.spark.sql.SparkSession

/** One place for the session configuration every graft entry point
  * needs: UTC timestamps (oracle comparability), AQE on (runtime
  * re-planning / skew handling), nanos-as-long (legacy testdata stored
  * events.ts as TIMESTAMP(NANOS), which Spark 4 has no timestamp type
  * for and reads as long; current testdata is timestamp[us] and
  * Tables.normalize re-derives the canonical long-nanos column), shuffle
  * partitions sized to the core count (local mode; a cluster deployment
  * overrides to ~2-3× total cores and lets AQE coalesce), a 4000-entry
  * codegen class cache, artifact isolation off (so every session and
  * every streaming query's cloned session share one executor class
  * loader, and a generated class compiles once per JVM), and graft's
  * SQL functions registered. The codegen cache size and AQE's
  * `parallelismFirst` (left at Spark's default, `true`) are no longer
  * env-switchable: no test or bench row set either dial.
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      // override for scale experiments: at N× data a cluster raises
      // partition count with the data; fixed-at-cores is the local default
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default whole-stage-codegen class cache holds 100 entries —
      // a 113-query interleaved bench pass thrashes it, so every run of
      // every key RE-COMPILES its generated code (~0.3-2 s/key, measured
      // uniform inflation when the r8 bench went pass-interleaved).
      // Sized for the whole suite's stages; class metadata is a few MB,
      // noise against the JVM heap. A production session with a bounded
      // query set wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // CodeGenerator.cache is keyed by (class loader, code). With
      // artifact isolation on (Spark's default) every session tags its
      // jobs with its own artifact UUID and the executor builds a fresh
      // isolated class loader per UUID; every streaming query runs on a
      // cloned session with a new UUID, so each query start recompiled
      // every class its tasks use, byte-identical to ones already
      // cached (curate_stream: 50 classes, 968 ms, in one timed stream;
      // 74 distinct classes compiled 313 times per run). graft adds no
      // artifacts (no addArtifact / addJar / ADD JAR, no Spark Connect),
      // so isolation buys nothing: off, every query shares one executor
      // class loader and hits the JVM-wide cache. Read at session
      // creation only; cloned streaming sessions copy it.
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Silence the benign `WindowExec: No Partition Defined` warning in
    * HARNESS mains only (Bench/Verify/StressMain — r15 verdict #7).
    * The suite's four unpartitioned windows are all value-domain- or
    * k-bounded by construction (Quality KS cumulative, Dedup span
    * windows, Embeddings quantile frame, Corpus tercile cumulative —
    * each documented at its site and pinned in PlanSpec), so the
    * warning fires 100+ times per gate run on frames of a few hundred
    * rows and buries the log tail a REAL corpus-sized unpartitioned
    * window would need to surface in. Deliberately NOT called from
    * [[get]]: a user session keeps Spark's warning; the harness's
    * regression guard is PlanSpec's bounded-window pins, not the log.
    * Package-level (log4j2 hierarchy) because Spark's Logging trait
    * names loggers by concrete class. */
  def muteBenignGlobalWindowWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

  /** Build (or reuse) the session and register graft's SQL functions. */
  def get(cores: Int): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    // whole-plan optimizer extensions — registered always, and since
    // r15 ENABLED ambiently by default: SOAK_r14's paired A/B
    // adjudicated the rules-on posture safe (geomean ratio 0.96, no key
    // loses beyond noise, 197/197 oracle-green ambient, 12/12 intended
    // plan matches, zero unintended), so the real deployment posture
    // IS the default posture
    graft.plans.RangeJoinRewrite.ensureRegistered(s)
    graft.plans.TopKRewrite.ensureRegistered(s)
    // default, not force: getOrCreate can return a REUSED session on
    // which the user already set EnabledConf=false — the per-session
    // kill switch — and an unconditional set would silently revert
    // that opt-out on the next get() (r15 review). Only an UNSET conf
    // receives the default.
    Seq(plans.RangeJoinRewrite.EnabledConf,
        plans.TopKRewrite.EnabledConf).foreach { k =>
      if (s.conf.getOption(k).isEmpty) s.conf.set(k, "true")
    }
    s
  }

  /** The opt-in optimizer-rewrite confs. Harness mains that run MANY
    * queries over one session (Bench/Verify) unset these before each
    * query, so a key that opts in (range_join_auto, topk_cosine_auto)
    * cannot silently change the PLANS of every later key with a
    * matching shape — medians must measure one plan per key, and a
    * dev subset run must measure the same plan as the full suite
    * (the code-review finding on round-11's conf leak: results stayed
    * correct — both rewrites are semantics-preserving — but the bench
    * comparison became apples-to-oranges). A normal user session
    * keeps them as ordinary session confs.
    */
  val queryScopedConfs: Seq[String] = Seq(
    graft.plans.RangeJoinRewrite.BinConf,
    graft.plans.RangeJoinRewrite.EnabledConf,
    graft.plans.RangeJoinRewrite.MaxCellsConf,
    graft.plans.TopKRewrite.EnabledConf,
    graft.plans.TopKRewrite.MaxKConf)

  def resetQueryConfs(s: SparkSession): Unit =
    queryScopedConfs.foreach(s.conf.unset)

  /** Per-key conf policy for the harness mains (Bench/Verify/Profile):
    * reset the TUNING confs (bin width, max-k, max-cells) per key so a
    * key that tunes a rewrite cannot change the plans later keys measure,
    * then restore the AMBIENT posture — rules-ON since r15 (see
    * [[get]]; the real `spark.sql.extensions` deployment shape, where
    * every matching plan in the suite must take either a correct
    * rewrite or a safe skip path — SOAK_r14 measured exactly that,
    * 197/197 green).
    */
  def applyQueryConfPolicy(s: SparkSession): Unit = {
    resetQueryConfs(s)
    s.conf.set(plans.RangeJoinRewrite.EnabledConf, "true")
    s.conf.set(plans.TopKRewrite.EnabledConf, "true")
  }

  /** Set `confs`, build the DataFrame, FORCE its optimization while
    * they are set, then restore every conf to its prior value (unset
    * if absent) — on exception too. The optimizer runs at ACTION time,
    * not at DataFrame-build time, so a library function that merely
    * set a rewrite conf around plan construction would either not fire
    * the rewrite at all or have to leave the conf set, permanently
    * changing the plans of every later matching query in the caller's
    * session (round-11 verdict #2/punch #4). Instead: optimize eagerly
    * under the conf and return the OPTIMIZED plan re-wrapped as a
    * DataFrame — the rewrite is baked into the returned plan (each
    * later action re-plans it through a fresh QueryExecution, and both
    * graft rewrites are idempotent no-ops on their own output), while
    * the session's ambient confs are exactly what they were.
    */
  def withScopedConfs(s: SparkSession, confs: (String, String)*)(
      body: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = body
      org.apache.spark.sql.graftbridge.DataFrameBridge
        .ofRows(s, df.queryExecution.optimizedPlan)
    } finally saved.foreach { case (k, prior) =>
      prior.fold(s.conf.unset(k))(v => s.conf.set(k, v))
    }
  }

  /** Drop everything any query cached and didn't free — SQL cache and
    * persistent RDDs (incl. localCheckpoint blocks). Multi-query
    * sessions (Bench/Verify/StressMain) call this between queries so
    * leaked blocks cannot accumulate GC pressure across the session
    * (the round-3 bench tail inflated up to 30× from exactly that).
    */
  def dropAllCaches(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
