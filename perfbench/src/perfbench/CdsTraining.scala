package perfbench

import java.nio.file.Paths

/** Class-loading training run of the build: one session and one warm-up
  * of every workload, so the JVM's class-data-sharing archive written at
  * exit holds every class a benchmark run loads.
  *
  * {{{
  *   perfbench.CdsTraining <scratch dir>
  * }}}
  */
object CdsTraining {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = graft.GraftSession.get(math.min(4, Runtime.getRuntime.availableProcessors))
    Seq(new WorkflowRetrain(0L, work.resolve("wf")),
      new CurateStream(0L, work.resolve("cu"))).foreach { w =>
      w.generate()
      // one operation of each path is enough to load every class
      (1 until Main.SetupRounds).foreach(w.warmup(spark, _))
    }
    spark.stop()
  }
}
