package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.registry.Stage
import graft.workflow.{BatchTrainPredict, Events, Workflow}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{FloatType, StructField, StructType}

/** The paper's workload: the event-driven train → validate → predict
  * workflow re-executed on one workdir and one registry. Every execution
  * gets fresh iris-shaped train and test CSVs whose class centres drift,
  * so each new model beats the deployed one; from the second execution
  * on, validation scores both models with `Knn.predictDistributed` and
  * prediction runs through the broadcast UDF.
  *
  * Operation: one execution. Check: the predictions equal a driver-side
  * brute-force k = 5 vote over the deployed version's training rows, and
  * exactly one version is DEPLOYED. */
final class WorkflowRetrain(seed: Long, work: Path) extends Workload {
  import WorkflowRetrain._

  private val timedSets = mutable.ArrayBuffer.empty[InputSet]
  private val warmSets = mutable.ArrayBuffer.empty[InputSet]

  def generate(): Unit = {
    val dir = work.resolve("inputs")
    val warm = Main.warmInputs(JitOps)
    warmSets ++= (0 until warm).map(i => InputSet.write(
      dir.resolve(s"w$i"), new scala.util.Random(~seed * 104729 + i), i))
    timedSets ++= (0 until TimedSets).map(i => InputSet.write(
      dir.resolve(s"t$i"), new scala.util.Random(seed * 7919 + i), warm + i))
  }

  /** Every execution of the run uses one workdir and registry: the first
    * warm-up execution takes the first-model path, all later ones the
    * champion-challenger path. */
  private def workdir = work.resolve("wf").toString

  def warmup(spark: SparkSession, r: Int): Unit = {
    val p = new WfPhase(spark, workdir, Main.warmOps(r, JitOps).map(warmSets),
      new Tracer(false))
    while (p.step()) ()
  }

  def phase(spark: SparkSession, name: String, tr: Tracer): Phase =
    new WfPhase(spark, workdir, timedSets.toSeq, tr)
}

object WorkflowRetrain {
  val TrainRows = 1200
  val TestRows = 300
  val TimedSets = 64
  val JitOps = 3
  val K = 5
  val Model = "iris_knn"

  /** One execution's inputs, kept in memory for the brute-force check. */
  final case class InputSet(train: Path, test: Path,
      trainX: Array[Array[Double]], trainY: Array[Int],
      testX: Array[Array[Double]])

  object InputSet {
    private val centres = Array(
      Array(5.0, 3.4, 1.5, 0.2), Array(5.9, 2.8, 4.3, 1.3),
      Array(6.6, 3.0, 5.6, 2.0))

    /** Seeded iris-shaped rows; every class centre moves by `0.25 * i`
      * along a fixed direction, so the model trained on set i beats every
      * other set's model on set i's test rows. */
    def write(dir: Path, rnd: scala.util.Random, i: Int): InputSet = {
      Files.createDirectories(dir)
      val drift = Array(0.6, -0.3, 0.5, 0.55).map(_ * 0.25 * i)
      def rows(n: Int): (Array[Array[Double]], Array[Int], String) = {
        val sb = new StringBuilder
        val xs = Array.ofDim[Array[Double]](n)
        val ys = Array.ofDim[Int](n)
        for (r <- 0 until n) {
          val y = rnd.nextInt(3)
          val fs = (0 until 4).map(d =>
            (centres(y)(d) + drift(d) + rnd.nextGaussian() * 0.35).toFloat)
          // Float.toString is the shortest round-trip spelling, so the
          // engine's FLOAT parse reads back exactly these values
          sb.append(fs.map(java.lang.Float.toString).mkString(","))
            .append(',').append(y.toFloat).append('\n')
          xs(r) = fs.map(_.toDouble).toArray
          ys(r) = y
        }
        (xs, ys, sb.toString)
      }
      val (tx, ty, trainCsv) = rows(TrainRows)
      val (qx, _, testCsv) = rows(TestRows)
      val train = dir.resolve("train.csv")
      val test = dir.resolve("test.csv")
      Files.writeString(train, trainCsv, StandardCharsets.UTF_8)
      Files.writeString(test, testCsv, StandardCharsets.UTF_8)
      InputSet(train, test, tx, ty, qx)
    }
  }

  /** k-NN vote ranked by (distance, row) with votes by (count desc,
    * label asc) — the engine's documented tie-break. */
  def bruteForce(in: InputSet, q: Array[Double]): Int = {
    val d = in.trainX.map { r =>
      var s = 0.0
      var i = 0
      while (i < r.length) { val x = q(i) - r(i); s += x * x; i += 1 }
      s
    }
    val top = d.indices.sortBy(i => (d(i), i)).take(K)
    top.groupBy(in.trainY(_)).toSeq
      .map { case (label, hits) => (-hits.size, label) }.min._2
  }

  private val predSchema = StructType(Seq(StructField("prediction", FloatType)))

  final class WfPhase(spark: SparkSession, workdir: String, sets: Seq[InputSet],
      tr: Tracer) extends Phase {
    private var i = 0
    private val execS = mutable.ArrayBuffer.empty[Double]
    private val versions = mutable.Map.empty[Int, InputSet]
    // per execution: input set, deployed version, DEPLOYED count, and the
    // predictions if predict ran (it does not when the challenger loses)
    private val outputs =
      mutable.ArrayBuffer.empty[(InputSet, Int, Int, Option[Array[Float]])]

    def step(): Boolean = {
      if (i >= sets.size) return false
      val in = sets(i)
      val op = s"exec$i"
      val cfg = BatchTrainPredict.Config(in.train.toString, in.test.toString,
        workdir)
      val wf = new Workflow(spark, workdir)
      // subscribed before build: a handler runs before the job its event
      // starts, so each timestamp is the end of the previous job
      val marks = mutable.Map.empty[String, Long]
      if (tr.on) {
        wf.bus.subscribe(Events.JobFinished) { p =>
          if (p == "datagen") marks(p) = tr.now
        }
        Seq(Events.ModelGenerated, Events.ModelValidated).foreach { e =>
          wf.bus.subscribe(e) { _ => marks(e) = tr.now }
        }
      }
      BatchTrainPredict.build(wf, cfg)
      val w0 = tr.now
      val clock = HostSteal.start()
      wf.run(Seq("datagen"))
      val w1 = tr.now
      val steal = clock.share
      execS += clock.wallSeconds * (1 - steal)
      Main.log(f"$op: ${clock.wallSeconds}%.3f s wall, steal share $steal%.3f")
      if (tr.on) {
        val id = tr.record("workflow.execution", w0, w1, op)
        val bounds = Seq("workflow.datagen" -> w0,
          "workflow.train" -> marks("datagen"),
          "workflow.validate" -> marks(Events.ModelGenerated),
          "workflow.predict" -> marks.getOrElse(Events.ModelValidated, w1))
        bounds.zip(bounds.drop(1).map(_._2) :+ w1).foreach {
          case ((n, s), e) => tr.record(n, s, e, op, id)
        }
      }
      val reg = wf.registry
      val all = reg.modelVersions(Model)
      versions(all.last.version) = in
      val deployed = reg.getDeployedModelVersion(Model).get.version
      val nDeployed = all.count(_.stage == Stage.Deployed)
      val preds =
        if (!wf.ranJobs.contains("predict")) None
        else Some(spark.read.schema(predSchema).csv(cfg.predictOut)
          .collect().map(_.getFloat(0)))
      outputs += ((in, deployed, nDeployed, preds))
      i += 1
      true
    }

    def opSeconds: Seq[Double] = execS.toSeq

    def endToEnd: Seq[Metric] = Seq(
      Metric("op_s", Stats.median(execS.toSeq), "s"),
      Metric("items_per_s", execS.size * (TrainRows + TestRows) / execS.sum, "1/s"))

    def verify(): (Int, Int) = {
      val wrong = outputs.count { case (in, deployed, nDeployed, preds) =>
        val ok = nDeployed == 1 && preds.forall { p =>
          // predict runs only when this execution's model was promoted,
          // so the deployed training rows are this execution's own
          val dep = versions(deployed)
          dep == in && p.map(_.toInt).sorted.sameElements(
            in.testX.map(bruteForce(dep, _)).sorted)
        }
        if (!ok) Main.log(s"workflow check failed: deployed v$deployed " +
          s"($nDeployed deployed)")
        !ok
      }
      (outputs.size, wrong)
    }

    def layers(tr: Tracer): Seq[Metric] = {
      tr.finish()
      val execs = tr.named("workflow.execution")
      def mean(n: String) = tr.named(n).map(_.ms).sum / 1000.0 / execs.size
      tr.sparkLayers(execs, execs.size) ++ Seq(
        Metric("workflow.datagen_s", mean("workflow.datagen"), "s"),
        Metric("workflow.train_s", mean("workflow.train"), "s"),
        Metric("workflow.validate_s", mean("workflow.validate"), "s"),
        Metric("workflow.predict_s", mean("workflow.predict"), "s"),
        Metric("registry.state_bytes",
          Main.dirSize(java.nio.file.Paths.get(workdir, "registry.json")).toDouble,
          "bytes"),
        Metric("trace.coverage_frac", tr.coverage(execs,
          _.name.matches("workflow\\.(datagen|train|validate|predict)")), "ratio"))
    }
  }
}
