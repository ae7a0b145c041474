package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Pin gate side-artifacts (p16b vocab, p19 LSH / p20 IVF indexes)
    // to a SIBLING of this run's output dir before any query/oracle
    // string is built: concurrent Verify cycles stay isolated, and the
    // dumped oracle SQL joins exactly the files this run wrote.
    // Sibling, not child — the driver globs outDir/* as query results,
    // so a nested artifact dir shows up as a spurious no-oracle
    // "query". Absolute path — the driver's DuckDB resolves it from
    // its own cwd. Pre-clean it: the sibling is OUTSIDE the output
    // dir's lifecycle, so without this a harness that only removes
    // outDir would accumulate one artifact tree per run.
    val artifactDir = s"${new java.io.File(outDir).getAbsolutePath}_artifacts"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(artifactDir))
    System.setProperty("graft.artifact.dir", artifactDir)
    val spark = Engine.session(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = QueryLoop.select(sys.env.get("SPARK_GRAFT_ONLY")).toSeq
    val failed = QueryLoop.run("verify", selected) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // exit 0 regardless (the driver's compare judges each dump); one
    // summary line so a local run needs no log scan
    System.err.println(
      s"[verify] failed ${failed.size}/${selected.size}: ${failed.mkString(",")}")
    spark.stop()
  }
}
