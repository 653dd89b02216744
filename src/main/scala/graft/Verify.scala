package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = run (and dump oracles for) only the named queries —
    // local iteration aid; the driver always passes exactly two
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    // fail fast on typos: an unknown name would otherwise produce an empty
    // output dir + empty oracle_sql.json with exit 0 — reads as a pass
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val spark = graft.tools.ScalingBench.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => wanted(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // dynamic oracles (data-dependent literals, e.g. trained centroids)
    // are rendered against THIS run's session + sf dir, then merged
    val dynamic = SparkEntry.dynamicOracleSql.filter(o => wanted(o._1))
      .map { case (k, fn) => k -> fn(spark, sfDir) }
    val json = (SparkEntry.oracleSql.filter(o => wanted(o._1)) ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
