package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Harness.spark

/** The spark-submit entry point end-to-end on local dirs: outputs written,
  * exit codes, resume skip. (Harness's session is what getOrCreate returns
  * in-JVM, so SubmitJob.run drives the same engine the cluster job would.) */
class SubmitJobSpec extends AnyFunSuite {

  private val InputRows = 20000L

  /** 20k generated rows in 4 hive partitions + the dim table. */
  private lazy val inputs: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-submit").toString
    graft.data.SequenceGen.sequences(spark, InputRows, 4)
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/input")
    graft.data.SequenceGen.dimSources(spark)
      .write.mode("overwrite").parquet(s"$dir/dim")
    dir
  }

  private def args(out: String, store: String): Array[String] = Array(
    "--input", s"$inputs/input", "--dim", s"$inputs/dim", "--out", out, "--store", store)

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("SubmitJob validates, writes outputs, gates exit code, resumes") {
    val dir = freshDir("graft-submit-run")
    val argv = args(s"$dir/out", s"$dir/store")

    // generated data has injected violations → exit 1, outputs present
    assert(SubmitJob.run(argv) == 1)
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
    assert(verdicts.where(!col("pass")).count() > 0)
    assert(spark.read.parquet(s"$dir/out/violations").count() > 0)
    val verdictCount = verdicts.count()

    // second invocation: everything checkpointed → nothing to do, exit 0,
    // outputs NOT duplicated
    assert(SubmitJob.run(argv) == 0)
    assert(spark.read.parquet(s"$dir/out/verdicts").count() == verdictCount)

    // bad usage
    assert(SubmitJob.run(Array("--input", "x")) == 2)
  }

  test("a clean table writes no violation rows, passes every verdict, exits 0") {
    // the verdicts are derived from violation rows read back from a write
    // that produced none
    val dir = freshDir("graft-submit-clean")
    val generated = graft.data.SequenceGen.sequences(spark, 4000L, 4, driftPart = false)
    val dim = graft.data.SequenceGen.dimSources(spark)
    val lenient = graft.run.Suite.Config(klThreshold = 10.0)
    val violating = graft.run.Suite.validateSequences(generated, dim, cfg = lenient)
      .violations.select("doc_id")
    generated.join(violating, Seq("doc_id"), "left_anti")
      .write.partitionBy("part").parquet(s"$dir/input")
    dim.write.parquet(s"$dir/dim")

    assert(SubmitJob.run(Array("--input", s"$dir/input", "--dim", s"$dir/dim",
      "--out", s"$dir/out", "--store", s"$dir/store", "--kl", "10")) == 0)
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
    assert(verdicts.count() > 0)
    assert(verdicts.where(!col("pass") || col("violations") =!= 0).count() == 0)
  }

  test("SubmitJob reads the table within its design budget (measured records read)") {
    // Σ inputMetrics.recordsRead over the tasks of the job's own job group
    val group = "submitjob-read-budget"
    val listener = new SparkListener {
      private val stages = scala.collection.mutable.Set.empty[Int]
      var recordsRead = 0L
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages ++= e.stageIds
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null && stages.contains(e.stageId))
          recordsRead += e.taskMetrics.inputMetrics.recordsRead
      }
    }
    val dir = freshDir("graft-submit-budget")
    val sc = spark.sparkContext
    inputs // generated outside the measured group
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val exit = try SubmitJob.run(args(s"$dir/out", s"$dir/store"))
    finally { sc.clearJobGroup(); TestBus.drain(sc); sc.removeSparkListener(listener) }
    assert(exit == 1)

    // the design: 5 table reads (drift cube, uniqueness detection, candidate
    // fetch, row pass, stats), the violation rows read back once, the verdict
    // rows read once by the gate, and the emptiness probe's first file. Spark
    // also counts block reads of a checkpointed frame and the dim scan as
    // records read: each drift dimension reads the cube once (its histogram;
    // the null-safe grid join infers no null filter, so its join side reuses
    // that exchange) and the verdict totals once; the candidate rows are
    // read once by the row fetch's join; the dim once for the FK broadcast.
    val violationRows = spark.read.parquet(s"$dir/out/violations").count()
    val verdictRows = spark.read.parquet(s"$dir/out/verdicts").count()
    val largestFile = new java.io.File(s"$inputs/input").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).count()).max
    val input = spark.read.parquet(s"$inputs/input")
    val dims = graft.run.Suite.driftDims(graft.run.Suite.Config())
    val cubeRows = graft.drift.Drift.cube(input, dims).count()
    val candidateRows = graft.dataset.CrossRow.dupCandidates(input, "doc_id", "part").count()
    val dimRows = spark.read.parquet(s"$inputs/dim").count()
    val table = 5 * InputRows + violationRows + verdictRows + largestFile
    val frames = (dims.size + 1) * cubeRows + candidateRows + dimRows
    val report = s"read ${listener.recordsRead} records; budget ${table + frames} = " +
      s"5 × $InputRows input rows + $violationRows violation rows + $verdictRows verdict " +
      s"rows + $largestFile probe rows + ${dims.size + 1} × $cubeRows cube rows + " +
      s"$candidateRows candidate rows + $dimRows dim rows"
    info(report)
    assert(listener.recordsRead <= table + frames, report)
  }

  test("a stale run's violation rows never reach this run's verdicts") {
    // rows an earlier (crashed) run left under another run_epoch: the
    // read-back must count only this epoch's rows
    val dir = freshDir("graft-submit-stale")
    val input = spark.read.parquet(s"$inputs/input")
    val minimum = graft.compile.Compiler.compile(
      graft.spec.SpecParser.parse(graft.data.SequenceGen.SeqSpecJson), input.schema)
      .find(_.id == ".n_tok/minimum").get
    val stale = input.limit(50).select(
      col("part"), col("doc_id"), lit(minimum.rank).as("rank"),
      lit(minimum.id).as("constraint_id"),
      lit(".n_tok").as("path"), lit("0").as("observed"), lit("stale").as("message"),
      lit(1L).as("run_epoch"))
    stale.write.partitionBy("run_epoch").parquet(s"$dir/out/violations")

    assert(SubmitJob.run(args(s"$dir/out", s"$dir/store")) == 1)
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
    val epochs = verdicts.select("run_epoch").distinct().collect().map(_.getLong(0))
    assert(epochs.length == 1 && epochs.head != 1L)
    def byConstraint(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromVerdicts = byConstraint(verdicts.groupBy("constraint_id")
      .agg(sum("violations")))
    val written = byConstraint(spark.read.parquet(s"$dir/out/violations")
      .where(col("run_epoch") === epochs.head).groupBy("constraint_id").count())
    assert(fromVerdicts.filter(_._2 > 0) == written)
  }
}
