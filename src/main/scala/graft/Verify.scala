package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.get(cpus)
    GraftSession.muteBenignGlobalWindowWarn()
    new java.io.File(outDir).mkdirs()
    // dev-only filter: dump a comma-separated subset for a quick local
    // oracle check on one key (driver runs unset → full dump; stale-dir
    // cleanup is skipped under the filter so a partial dump can't eat a
    // full one)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // drop stale results of renamed/removed query keys — the compare
    // globs result dirs, so a leftover would read as an orphan failure
    if (only.isEmpty)
      Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
        if (f.isDirectory && !SparkEntry.queries.contains(f.getName))
          Work.clean(f.getAbsolutePath)
      })
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // per-key conf policy: tuning confs reset per key, rewrites
      // ambient-ON since r15
      GraftSession.applyQueryConfPolicy(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same hygiene as Bench: anything a query cached and didn't free
      // must not accumulate across the 90+-query session
      GraftSession.dropAllCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // @SF@ token: oracle strings are static but the published-table
    // parquet paths (codec rasters, bm25 idf, BPE merges, DSIR ratios)
    // embed the per-sf-dir publish tag — substitute it here, the one
    // place the sf dir and the dump meet. The tag is basename + a
    // canonical-path hash (Work.publishTag) so same-basename corpus
    // dirs can't serve each other stale published stats.
    val sfBase = Work.publishTag(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("@SF@", sfBase))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
