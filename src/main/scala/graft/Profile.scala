package graft

/** Per-key profiler: runs each named query key once, under Bench's
  * session, conf policy and timed action (a noop-sink write), and
  * prints what the run cost — job / stage / task counts, generated
  * classes compiled and their compile time, and wall time,
  * the jobs of each phase ([[graft.ops.JobStats.phaseOf]]), then the
  * formatted plan between BEGIN/END markers.
  *
  * Keys that route through `Work.materialize` (the dedup family) return
  * a parquet scan of an already-computed result, so their plan shows
  * only that scan; the counts and the phase rows cover the whole
  * pipeline the key ran.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt -batch "runMain graft.Profile corpus_curate_stream knn_predict"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <query_key>...")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("graft.Profile: set SPARK_GRAFT_SF_DIR to a testdata dir"))
    val spark = GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val jobStats = graft.ops.JobStats.install(spark)
    args.foreach { k =>
      GraftSession.applyQueryConfPolicy(spark)
      val c0 = jobStats.read()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val c = jobStats.read() - c0
      println(f"[profile] $k jobs=${c.jobs} stages=${c.stages} " +
        f"tasks=${c.tasks} compiles=${c.compiles} " +
        f"compile=${c.compileMs} ms wall=$sec%.2f s")
      c.phases.toSeq.sortBy { case (p, n) => (-n, p) }.foreach {
        case (p, n) => println(f"[profile] $n%4d  $p")
      }
      println(s"===PLAN BEGIN $k===")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"===PLAN END $k===")
      GraftSession.dropAllCaches(spark)
    }
    spark.stop()
  }
}
