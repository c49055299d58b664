package graft

import graft.ml.Knn
import graft.ops.JobStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class KnnSpec extends SparkSpec {

  test("k=1 self-prediction: every reference vector predicts its own label") {
    val (_, refs) = Knn.split(spark, sf)
    val asQueries = refs.select(
      col("rid").as("qid"), col("rvec").as("qvec"), col("label").as("true_label"))
    val preds = Knn.predictDistributed(asQueries, refs, k = 1)
      .join(asQueries.select("qid", "true_label"), "qid")
    val wrong = preds.filter(col("pred_label") =!= col("true_label")).count()
    assert(wrong == 0, s"$wrong self-predictions wrong at k=1")
  }

  test("broadcast-UDF predict agrees exactly with distributed predict") {
    val (q, r) = Knn.split(spark, sf)
    val refs = r.collect().map(row =>
      Knn.Ref(row.getLong(0), row.getSeq[Double](1).toArray, row.getInt(2)))
    val a = Knn.predictDistributed(q, r, k = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val b = Knn.predictBroadcastUdf(spark, q, refs, k = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(a == b)
  }

  test("shuffled exact path is bit-identical and engages past the broadcast cap") {
    val (q, r) = Knn.split(spark, sf)
    val want = Knn.predictDistributed(q, r, k = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    // direct call: block-nested shuffle join, no broadcast of refs
    val direct = Knn.predictShuffled(q, r, k = 5)
    assert(direct.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap == want)
    // the executed plan must not broadcast the reference side
    direct.collect()
    val plan = direct.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      "shuffled KNN path must not broadcast")
    // threshold routing: a forced 1-row cap sends predictDistributed
    // through the shuffle path with the same oracle-checked result
    spark.conf.set("spark.graft.knn.maxBroadcastRows", "1")
    try {
      val routed = Knn.predictDistributed(q, r, k = 5)
      assert(routed.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap == want)
      routed.collect()
      assert(!routed.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
    } finally spark.conf.unset("spark.graft.knn.maxBroadcastRows")
  }

  test("model save/load round-trips the reference set and k") {
    val (_, refs) = Knn.split(spark, sf)
    val dir = s"${Work.dir}/test_knn_model"
    Knn.save(refs, dir, k = 7)
    val (loaded, k) = Knn.load(spark, dir)
    assert(k == 7)
    assert(loaded.count() == refs.count())
  }

  test("model load reads the recorded schema in zero jobs; a dir without schema.json loads the same rows") {
    val (_, refs) = Knn.split(spark, sf)
    val dir = s"${Work.dir}/test_knn_schema"
    Knn.save(refs, dir, k = 5)
    val ((recorded, _), c) = JobStats.during(spark)(Knn.load(spark, dir))
    assert(c.jobs == 0, s"load with schema.json started ${c.jobs} Spark jobs")
    // the layout written before schema.json existed: inference still works
    Files.delete(Paths.get(s"$dir/schema.json"))
    val ((inferred, k), inferC) = JobStats.during(spark)(Knn.load(spark, dir))
    assert(inferC.jobs >= 1, "footer inference runs as a Spark job")
    assert(k == 5)
    assert(recorded.schema == inferred.schema)
    def rows(df: DataFrame) = df.collect().sortBy(_.getLong(0)).toSeq
    assert(rows(recorded) == rows(inferred))
  }

  test("model load names the model dir when meta.json has no k") {
    val dir = s"${Work.dir}/test_knn_badmeta"
    Work.clean(dir)
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/meta.json"), "{}")
    val e = intercept[IllegalArgumentException](Knn.load(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  test("scoreModels: one query gives each model's own predictDistributed counts, under and past the broadcast cap") {
    val (q, r) = Knn.split(spark, sf)
    // challenger: half the references, labels shifted, voting with k=3
    val challenger = r.filter(col("rid") % 2 === 0)
      .withColumn("label", (col("label") + 1) % 10)
    val models = Seq(r -> 5, challenger -> 3)
    val truth = q.select("qid", "true_label").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val want = models.map { case (refs, k) =>
      val preds = Knn.predictDistributed(q, refs, k).collect()
      (preds.count(p => truth(p.getLong(0)) == p.getInt(1)).toLong,
        preds.length.toLong)
    }
    assert(want.map(_._2) == Seq(truth.size.toLong, truth.size.toLong))
    assert(want(0) != want(1), "the two models must be told apart")
    assert(Knn.scoreModels(q, models) == want)

    // a forced 1-row cap routes the union through the shuffle path
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.conf.set("spark.graft.knn.maxBroadcastRows", "1")
    spark.listenerManager.register(ql)
    try {
      assert(Knn.scoreModels(q, models) == want)
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      assert(!plans.isEmpty)
      plans.forEach(p => assert(!p.contains("BroadcastExchange"), p))
    } finally {
      spark.listenerManager.unregister(ql)
      spark.conf.unset("spark.graft.knn.maxBroadcastRows")
    }
  }

  test("knn_score counts agree with recomputed prediction correctness") {
    val row = Knn.score.fn(spark, sf).collect().head
    val (q, _) = Knn.split(spark, sf)
    val preds = Knn.predict.fn(spark, sf)
      .join(q.select("qid", "true_label"), "qid")
    val correct = preds.filter(col("pred_label") === col("true_label")).count()
    assert(row.getLong(0) == correct)
    assert(row.getLong(1) == q.count())
  }

  test("spark.ml Pipeline face agrees with predictDistributed bit-for-bit") {
    import org.apache.spark.ml.Pipeline
    import graft.ml.KnnClassifier
    val (q, r) = Knn.split(spark, sf)
    val train = r.select(col("rid").as("id"), col("rvec").as("features"),
      col("label"))
    val test = q.select(col("qid").as("id"), col("qvec").as("features"))
    val pipeline = new Pipeline().setStages(Array(
      new KnnClassifier().setK(5)))
    val fitted = pipeline.fit(train)
    val got = fitted.transform(test)
      .select(col("id"), col("prediction"))
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    val want = Knn.predictDistributed(q, r, 5)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    assert(got == want)
  }
}
