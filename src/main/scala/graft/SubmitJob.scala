package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.run.Suite
import graft.spec.SpecParser
import graft.stats.MetricsStore

/** The deployable north-star job — the `spark-submit` entry point the north
  * rule names:
  *
  * {{{
  * spark-submit --class graft.SubmitJob graft.jar \
  *   --input  /data/sequences      (parquet/Iceberg dir, hive-partitioned by --part) \
  *   --dim    /data/dim_sources    (dimension table for referential integrity) \
  *   --out    /data/validation     (verdicts/ + violations/ written here) \
  *   --store  /data/metrics        (checkpointed state: resume skips validated parts) \
  *  [--spec   /conf/spec.json]     (defaults to the tokenized-sequence spec) \
  *  [--part   part] [--kl 0.05]
  * }}}
  *
  * One run, in order:
  *   1. `MetricsStore.remaining`: the partitions no earlier run completed;
  *   2. write `violations/` ONCE — the suite's single violation frame (row
  *      pass incl. the FK hit flag, uniqueness, drift);
  *   3. read back this run's `run_epoch` partition of it;
  *   4. derive every (part, constraint) verdict from those rows — totals
  *      from the checkpointed drift cube × the constraint catalog,
  *      left-joined to their `count(*)` (`Suite.Plan.verdicts`) — and write
  *      `verdicts/`: no table scan;
  *   5. append the stats sketches to the store (marks the parts validated);
  *   6. gate the exit code on this run's verdicts.
  *
  * Cluster sizing is spark-submit's business (`--num-executors` N or 4N —
  * the scaling-efficiency protocol in BASELINE.md); this job is
  * shape-agnostic: shuffle counts are O(partitions × checks), the
  * referential dimension broadcasts, dedup is salted, and a killed run
  * resumes from the metrics store (results are written BEFORE state is
  * marked complete — Suite.resumableRun's ordering contract).
  *
  * Exit code: 0 = all constraints passed (or nothing left to validate),
  * 1 = violations found, 2 = bad usage.
  */
object SubmitJob {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    val opts = parseArgs(args) match {
      case None =>
        System.err.println(
          "bad usage: expected --key value pairs (a lone/misspelled flag or " +
            "a flag without a value is an error, not a silent default)")
        return 2
      case Some(o) => o
    }
    val required = Seq("input", "dim", "out", "store")
    val missing = required.filterNot(opts.contains)
    if (missing.nonEmpty) {
      System.err.println(s"missing required args: ${missing.map("--" + _).mkString(" ")}")
      return 2
    }
    val spark = SparkSession.builder()
      .appName("graft-validate")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    val cfg = Suite.Config(
      part = opts.getOrElse("part", "part"),
      klThreshold = opts.get("kl").map(_.toDouble).getOrElse(0.05))
    val spec = opts.get("spec")
      .map(SpecParser.parseFile)
      .getOrElse(SpecParser.parse(graft.data.SequenceGen.SeqSpecJson))
    val out = opts("out")

    // every output row carries this run's epoch (also the hive partition, so
    // the read-back and the gate read prune to one partition): prior runs'
    // rows — or rows duplicated when a crash between sink and store.append
    // forces a re-validate + re-append — can no longer leak into THIS run's
    // verdicts or flip its exit code (ADVICE r2)
    val runEpoch = System.currentTimeMillis()
    def append(df: DataFrame, dir: String): Unit =
      df.withColumn("run_epoch", lit(runEpoch))
        .write.mode("append").partitionBy("run_epoch").parquet(s"$out/$dir")
    val sink: Suite.Plan => Unit = { plan =>
      append(plan.violations, "violations")
      // the schema is given, not inferred: a run without violations may
      // write no violation file to infer it from
      val written = spark.read
        .schema(plan.violations.schema.add("run_epoch", LongType))
        .parquet(s"$out/violations")
        .where(col("run_epoch") === runEpoch)
      append(plan.verdicts(written), "verdicts")
    }

    Suite.resumableRun(
      spark.read.parquet(opts("input")),
      spark.read.parquet(opts("dim")),
      MetricsStore(opts("store")),
      spec, cfg, runEpoch = runEpoch, sink = sink) match {
      case None =>
        println("graft: nothing to validate (all partitions checkpointed)")
        0
      case Some(_) =>
        // gate on THIS run's persisted verdicts only (the sink already ran)
        val failed = spark.read.parquet(s"$out/verdicts")
          .where(col("run_epoch") === runEpoch && !col("pass")).count()
        println(s"graft: run complete, $failed failing (part, constraint) verdicts")
        if (failed == 0) 0 else 1
    }
  }

  /** Strict --key value pairs: an odd-length tail or a key without `--` is
    * bad usage (exit 2), never a silent fall-through to defaults. */
  private def parseArgs(args: Array[String]): Option[Map[String, String]] = {
    if (args.length % 2 != 0) return None
    val pairs = args.grouped(2).toSeq
    if (pairs.forall { case Array(k, _) => k.startsWith("--") && k.length > 2 })
      Some(pairs.map { case Array(k, v) => k.drop(2) -> v }.toMap)
    else None
  }
}
