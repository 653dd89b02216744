package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-session builder: Bench (headline + 1↔4-core scaling pair),
  * Verify, Demo, CpuProbe and perfbench all build their `local[cpus]`
  * session here, so every measured and oracle-checked run uses the same
  * settings. `SubmitJob` keeps `getOrCreate` (spark-submit owns the
  * master), and the test `Harness` keeps its own session because PlanSpec
  * reads the full `executedPlan.toString` that the plan-string cap below
  * would truncate.
  */
object ScalingBench {

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // enough input splits to feed 4N cores (local files are cheap to open;
      // the cluster analog is sizing splits to executor count — BASELINE.md)
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      // r1 measured the nested-column vectorized reader degrading on
      // array<int> (13 s vs 1.6 s) and turned it OFF; re-measured in r3 at
      // 16 GiB driver heap it is 3× FASTER than the row-by-row reader
      // (0.54 s vs 1.52 s on the 10⁷-row tokens scan) — ON
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // every AQE stage completion re-renders the plan description for the
      // SQL listener bus; the suite plan is hundreds of checks × 35 stages,
      // so an unbounded plan string is measurable driver-side serial time
      // between stages — truncate it (the UI is off anyway)
      .config("spark.sql.maxPlanStringLength", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
