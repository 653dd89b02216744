package graft.tools

/** Drives the flagship entry end-to-end on sf0.001 and prints plans —
  * `sbt "runMain graft.tools.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = ScalingBench.session(4)
    // the demo prints whole plans: lift the shared builder's plan-string cap
    spark.conf.unset("spark.sql.maxPlanStringLength")

    val verdicts = graft.SparkEntry.entry(spark)
    println("=== verdicts (sf0.001 documents) ===")
    verdicts.show(50, truncate = false)

    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    println("=== sample violations ===")
    graft.Queries.documentViolations(spark, sfDir).show(10, truncate = false)

    println("=== physical plan (verdicts) ===")
    verdicts.explain("formatted")

    spark.stop()
  }
}
