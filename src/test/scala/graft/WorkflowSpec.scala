package graft

import graft.registry.Stage
import graft.workflow.{BatchTrainPredict => BTP, Events}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

class WorkflowSpec extends SparkSpec {

  /** Iris-shaped rows from the embeddings table: 4 leading dims, 3 labels. */
  private def irisRows = Tables(spark, sf, "embeddings").select(
    element_at(col("embedding"), 1).cast(FloatType).as("sl"),
    element_at(col("embedding"), 2).cast(FloatType).as("sw"),
    element_at(col("embedding"), 3).cast(FloatType).as("pl"),
    element_at(col("embedding"), 4).cast(FloatType).as("pw"),
    (col("label") % 3).cast(FloatType).as("type"),
    col("vec_id"))

  private def mkFixtures(base: String): BTP.Config = {
    Work.clean(base)
    val emb = irisRows
    emb.filter(col("vec_id") % 5 =!= 0).drop("vec_id")
      .write.mode("overwrite").csv(s"$base/train_csv")
    emb.filter(col("vec_id") % 5 === 0).drop("vec_id")
      .write.mode("overwrite").csv(s"$base/test_csv")
    BTP.Config(s"$base/train_csv", s"$base/test_csv", s"$base/wf")
  }

  /** Driver-side k-NN accuracy of a saved model on the test CSV:
    * neighbours by (distance, rid), votes by (count desc, label asc). */
  private def bruteForceAccuracy(modelDir: String, testCsv: String): Double = {
    val (refsDf, k) = graft.ml.Knn.load(spark, modelDir)
    val refs = refsDf.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val tests = BTP.csvScan(spark, testCsv).collect().map(r =>
      (Array.tabulate(4)(i => r.getFloat(i).toDouble), r.getFloat(4).toInt))
    val correct = tests.count { case (q, y) =>
      val top = refs.map { case (rid, v, label) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { val d = q(i) - v(i); s += d * d; i += 1 }
        (s, rid, label)
      }.sortBy(t => (t._1, t._2)).take(k)
      top.groupBy(_._3).toSeq.map { case (l, n) => (-n.size, l) }.min._2 == y
    }
    correct.toDouble / tests.length
  }

  private def validationScratch(): Set[String] =
    Option(new java.io.File(Work.dir).list()).toSet.flatten
      .filter(_.startsWith("mat_wf_validation_"))

  test("golden run: all four jobs cascade; one version ends DEPLOYED") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_golden")
    val wf = BTP.runOnce(spark, cfg)
    assert(wf.ranJobs == Seq("datagen", "train", "validate", "predict"))
    val versions = wf.registry.modelVersions(cfg.modelName)
    assert(versions.map(_.stage) == Seq(Stage.Deployed))
    // predict output: one FLOAT column, one row per test row, labels 0/1/2
    val preds = spark.read
      .schema(StructType(Seq(StructField("prediction", FloatType))))
      .csv(cfg.predictOut)
    val nTest = BTP.csvScan(spark, cfg.testCsv).count()
    assert(preds.count() == nTest)
    val labels = preds.select("prediction").distinct()
      .collect().map(_.getFloat(0)).toSet
    assert(labels.subsetOf(Set(0f, 1f, 2f)))
  }

  test("second execution: champion-challenger promotes new, deprecates old") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_cc")
    BTP.runOnce(spark, cfg)
    // second execution re-trains on the same data: equal score, and
    // new >= deployed promotes the challenger (processor.py:188-198)
    val wf2 = BTP.runOnce(spark, cfg)
    val versions = wf2.registry.modelVersions(cfg.modelName)
    assert(versions.map(v => v.version -> v.stage) ==
      Seq(1 -> Stage.Deprecated, 2 -> Stage.Deployed))
    // both scores appended to the artifact file (processor.py:184-187)
    val artifact = Files.readString(
      Paths.get(s"${cfg.workdir}/${cfg.artifactName}.txt"))
    assert(artifact.linesIterator.size == 2)
    assert(artifact.contains("deployed model version: 1"))
    assert(artifact.contains("generated model version: 2"))
  }

  test("challenger loses: v1 stays DEPLOYED, v2 GENERATED, predict skipped") {
    val base = s"${Work.dir}/test_wf_lose"
    val cfg = mkFixtures(base)
    BTP.runOnce(spark, cfg)
    // second execution trains on label-permuted rows: a worse model
    irisRows.filter(col("vec_id") % 5 =!= 0)
      .select(col("sl"), col("sw"), col("pl"), col("pw"),
        ((col("type") + 1) % 3).cast(FloatType).as("type"))
      .write.mode("overwrite").csv(s"$base/train_permuted_csv")
    val wf2 = BTP.runOnce(spark, cfg.copy(trainCsv = s"$base/train_permuted_csv"))
    val versions = wf2.registry.modelVersions(cfg.modelName)
    assert(versions.map(v => v.version -> v.stage) ==
      Seq(1 -> Stage.Deployed, 2 -> Stage.Generated))
    assert(!wf2.ranJobs.contains("predict"), s"ran ${wf2.ranJobs}")
    // both scores are exact k-vote accuracies of each model
    val Seq(v1, v2) = versions.map(v => bruteForceAccuracy(v.path, cfg.testCsv))
    assert(v2 < v1, s"permuted model must lose: $v2 vs $v1")
    val artifact = Files.readString(
      Paths.get(s"${cfg.workdir}/${cfg.artifactName}.txt"))
    assert(artifact.linesIterator.toSeq == Seq(
      s"deployed model version: 1 scores: $v1",
      s"generated model version: 2 scores: $v2"))
  }

  test("champion-challenger validate runs one scoring query: at most 6 jobs, no scratch left") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_jobs")
    BTP.runOnce(spark, cfg)
    val wf = new graft.workflow.Workflow(spark, cfg.workdir)
    val jobs = graft.ops.JobStats.install(spark)
    // subscribed before build(): each handler runs before the job its
    // event starts, so the two reads bracket validate exactly
    var start, end = -1
    wf.bus.subscribe(Events.ModelGenerated)(_ => start = jobs.read().jobs)
    wf.bus.subscribe(Events.ModelValidated)(_ => end = jobs.read().jobs)
    BTP.build(wf, cfg)
    val scratchBefore = validationScratch()
    try wf.run(Seq("datagen")) finally jobs.close()
    assert(start >= 0 && end >= start, s"validate not bracketed: $start, $end")
    assert(end - start <= 6, s"validate ran ${end - start} Spark jobs")
    assert(validationScratch() -- scratchBefore == Set.empty)
  }

  test("validate names the model when it has no GENERATED version") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_nogen")
    val wf = new graft.workflow.Workflow(spark, cfg.workdir)
    BTP.build(wf, cfg)
    val e = intercept[RuntimeException](
      wf.bus.publish(Events.ModelGenerated, cfg.modelName))
    assert(e.getMessage.contains(s"'${cfg.modelName}'"), e.getMessage)
  }

  test("predict fires only after DEPLOYED despite VALIDATED firing first") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_order")
    val wf = BTP.runOnce(spark, cfg)
    val log = wf.bus.log.map(_._1)
    val iValidated = log.indexOf(Events.ModelValidated)
    val iDeployed = log.indexOf(Events.ModelDeployed)
    assert(iValidated >= 0 && iDeployed >= 0 && iValidated < iDeployed)
    // yet predict observed the DEPLOYED stage (it succeeded) — queued
    // bus drains VALIDATED only after validate set DEPLOYED
    assert(wf.ranJobs.last == "predict")
  }

  test("statement set defers inserts and shares a twice-inserted scan") {
    import graft.workflow.StatementSet
    val ss = new StatementSet
    val df = Tables(spark, sf, "nation")
    var order = List.empty[String]
    ss.addInsert(df) { d => order ::= s"a:${d.count()}" }
    ss.addInsert(df) { d =>
      order ::= s"b:${d.count()}:cached=${d.storageLevel.useMemory}"
    }
    assert(order.isEmpty, "inserts must not run before execute()")
    ss.execute()
    assert(order.reverse == List("a:25", "b:25:cached=true"),
      s"got $order") // shared frame persisted across the fan-out
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "shared frame must be unpersisted after execute()")
  }

  test("processors resolve dataset metadata from the registry by name") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_ds")
    val wf = BTP.runOnce(spark, cfg)
    // build() registered the five datasets; sources/sinks resolved them
    val names = Seq("train_csv", "test_csv", "train_stream",
      "predict_stream", "predict_sink")
    names.foreach(n => assert(wf.registry.getDataset(n).isDefined, n))
    assert(wf.registry.getDataset("train_stream").get.uri == "scope/train-stream")
    assert(wf.registry.getDataset("predict_sink").get.uri == cfg.predictOut)
  }

  test("registry state survives reload from disk") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_reload")
    val wf = BTP.runOnce(spark, cfg)
    val fresh = new graft.registry.Registry(cfg.workdir, new graft.workflow.EventBus)
    assert(fresh.modelVersions(cfg.modelName) ==
      wf.registry.modelVersions(cfg.modelName))
    assert(fresh.getArtifactByName(cfg.artifactName).isDefined)
    assert(fresh.getDataset("nonexistent").isEmpty)
  }

  test("stopAll halts control-edge cascading; run() re-arms (stop_all analog)") {
    val cfg = mkFixtures(s"${Work.dir}/test_wf_stop")
    val wf = new graft.workflow.Workflow(spark, cfg.workdir)
    BTP.build(wf, cfg)
    wf.stopAll()
    // a stopped workflow ignores event-driven starts
    wf.bus.publish(graft.workflow.Events.JobFinished, "datagen")
    assert(wf.ranJobs.isEmpty, "control edge fired on a stopped workflow")
    // a new execution re-arms and the full cascade runs
    wf.run(Seq("datagen"))
    assert(wf.ranJobs == Seq("datagen", "train", "validate", "predict"))
  }
}
