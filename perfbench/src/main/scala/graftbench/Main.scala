package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SubmitJob
import graft.compile.Compiler
import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.run.{Suite, Validator}
import graft.spec.{SpecJson, SpecParser}
import graft.stats.{Metrics, MetricsStore}

/** The deployable-job benchmark: times `graft.SubmitJob.run` end to end on
  * one workload and checks every output it writes. See perfbench/README.md
  * for the workloads, the metrics and how they relate.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --rows <n> --work <dir>`. Prints `RESULT <json>` on stdout. */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                        rows: Long, work: String)

  /** One SubmitJob call (or its traced replica). `problems` starts with a
    * wrong exit code; the output check adds any mismatch. */
  final case class JobRun(out: String, wall: Double, rowsRead: Long, jobs: Int,
                          problems: Seq[String], componentsWall: Double = 0.0)

  final case class LayerStats(wall: Double, task: Double, idle: Double, rowsRead: Long,
                              shuffleBytes: Long, spillBytes: Long, jobs: Int)

  val JobPathLayers: Seq[String] = Seq("stats.remaining", "run.suite_build",
    "submit.sink_verdicts", "submit.sink_violations", "stats.append", "submit.gate")
  val ComponentLayers: Seq[String] = Seq("compile", "run.validator_verdicts",
    "run.validator_violations", "dataset.uniqueness", "dataset.referential", "drift.cube")

  /** Warm reps per run, at the least. */
  val MinReps = 1

  /** Set-up is measured this many times per run; the median is reported. */
  val SetupSamples = 3

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val bench = new Main(parse(argv), jvmStartMs)
    val result = try bench.run() finally bench.close()
    println("RESULT " + result)
  }

  private def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "expected --key value pairs")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload(m("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${m("workload")}; one of ${Workload.all.map(_.name).mkString(", ")}"))
    Args(w, m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("rows").toLong, m("work"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def metric(name: String, value: Double, unit: String): String =
    s""""$name":{"value":${java.lang.Double.toString(value)},"unit":"$unit"}"""
}

final class Main(args: Main.Args, jvmStartMs: Long) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val runDir = s"${args.work}/runs/${args.workload.name}-seed${args.seed}-" +
    ProcessHandle.current().pid()
  private val listener = new LayerListener
  private val trace = new Trace
  private val cfg = Suite.Config()

  /** Progress on stderr, stamped with seconds since process start. */
  private def note(msg: String): Unit =
    System.err.println(f"graftbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%8.3f $msg")

  // --- set-up: session up, inputs and dimension table readable --------------
  // The inputs are generated from the seed in every run, before the first
  // job, so every run's JVM has done the same work when that job starts (a
  // cache hit would leave the JVM colder than a miss). Generation is not
  // part of the set-up time.
  private var spark: SparkSession = newSession()
  private val sessionUpSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private val inputs = {
    val t0 = System.nanoTime()
    val in = withGroup("setup.generate")(
      Inputs.generate(spark, s"$runDir/inputs", args.workload, args.rows, args.seed))
    note(f"session up at $sessionUpSeconds%.3f s; inputs generated in " +
      f"${(System.nanoTime() - t0) / 1e9}%.3f s")
    in
  }
  private val setupSeconds = mutable.ArrayBuffer(sessionUpSeconds + timed(openInputs()))

  private def newSession(): SparkSession = {
    val s = graft.tools.ScalingBench.session(cpus)
    s.sparkContext.addSparkListener(listener)
    s
  }

  /** Resolves the input, dimension and store frames (file listing + schema). */
  private def openInputs(): Unit = withGroup("setup.open") {
    (Seq(inputs.input, inputs.dim) ++ inputs.storeTemplate).foreach(spark.read.parquet(_).schema)
  }

  /** Further set-up samples once the jobs are done: stop the session, then
    * time a new session up to readable inputs. */
  private def setUpAgain(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    setupSeconds += timed { spark = newSession(); openInputs() }
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = {
    Inputs.deleteTree(Paths.get(runDir))
    spark.stop()
  }

  def run(): String = {
    // The first SubmitJob is the first job after generation. A further rep
    // starts only if it should end within the measuring window, judged by
    // the previous rep's wall.
    val windowStart = System.nanoTime()
    def more(reps: Seq[Double]): Boolean = reps.size < MinReps ||
      (System.nanoTime() - windowStart) / 1e9 + reps.last <= args.seconds

    val first = submitJob(0)
    val warm = mutable.ArrayBuffer.empty[JobRun]
    val traced = mutable.ArrayBuffer.empty[(Map[String, LayerStats], JobRun)]
    if (!args.trace) while (more(warm.map(_.wall).toSeq)) warm += submitJob(1 + warm.size)
    else while (more(traced.map(t => t._2.wall + t._2.componentsWall).toSeq)) {
      warm += submitJob(1 + 2 * traced.size)
      traced += tracedJob(2 + 2 * traced.size)
    }
    val cpuProbe = withGroup("env.cpu_probe")(cpuProbeSeconds())
    while (setupSeconds.size < SetupSamples) setUpAgain()

    // check every job's outputs against the recount
    val expected = withGroup("check")(
      Expected.recount(spark, inputs.todo(spark), spark.read.parquet(inputs.dim)))
    val jobs = (Seq(first) ++ warm ++ traced.map(_._2)).map { j =>
      val problems = j.problems ++
        (try withGroup("check")(Expected.mismatches(spark, expected, j.out))
         catch { case e: Exception => Seq(s"outputs unreadable: $e") })
      j.copy(problems = problems)
    }
    val failed = jobs.filter(_.problems.nonEmpty)
    failed.flatMap(_.problems).distinct.foreach(p => System.err.println(s"output check: $p"))
    note(f"${args.workload.name} seed=${args.seed} rows=${expected.rows} " +
      f"cpu_probe_s=$cpuProbe%.3f setup_s=${setupSeconds.map(s => f"$s%.3f").mkString(",")} " +
      s"walls=${jobs.map(j => f"${j.wall}%.2f").mkString(",")}")

    val rows = expected.rows.toDouble
    val metrics =
      if (!args.trace) Seq(
        metric("seq_per_s", rows / median(warm.map(_.wall).toSeq), "1/s"),
        metric("first_job_s", first.wall, "s"),
        metric("setup_s", median(setupSeconds.toSeq), "s"),
        metric("table_reads", median(warm.map(_.rowsRead / rows).toSeq), "ratio"),
        metric("spark_jobs", median(warm.map(_.jobs.toDouble).toSeq), "count"))
      else {
        writeTrace()
        val layers = (JobPathLayers ++ ComponentLayers).flatMap { name =>
          val reps = traced.map(_._1(name)).toSeq
          def med(f: LayerStats => Double) = median(reps.map(f))
          Seq(
            metric(s"$name.wall_s", med(_.wall), "s"),
            metric(s"$name.task_s", med(_.task), "s"),
            metric(s"$name.idle_s", med(_.idle), "s"),
            metric(s"$name.rows_read", med(_.rowsRead.toDouble), "count"),
            metric(s"$name.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"),
            metric(s"$name.spill_bytes", med(_.spillBytes.toDouble), "bytes"),
            metric(s"$name.jobs", med(_.jobs.toDouble), "count"))
        }
        // tracing overhead: the traced job path's layer spans against the
        // untraced job wall
        val tracedPath = median(traced.map { case (l, _) => JobPathLayers.map(l(_).wall).sum }.toSeq)
        layers ++ Seq(
          metric("env.cpu_probe_s", cpuProbe, "s"),
          metric("trace.overhead_ratio", tracedPath / median(warm.map(_.wall).toSeq), "ratio"))
      }
    s"""{"correct":${failed.isEmpty},"attempted":${jobs.size},"failed":${failed.size},""" +
      s""""metrics":{${metrics.mkString(",")}}}"""
  }

  // --- the measured call -------------------------------------------------------

  /** Fresh --out and --store (the store as a killed run left it, for resume). */
  private def jobDirs(i: Int): (String, String) = {
    val out = s"$runDir/job$i/out"
    val store = s"$runDir/job$i/store"
    inputs.storeTemplate.foreach(Inputs.copyTree(_, store))
    (out, store)
  }

  private def submitJob(i: Int): JobRun = {
    val (out, store) = jobDirs(i)
    val argv = Array("--input", inputs.input, "--dim", inputs.dim, "--out", out, "--store", store)
    val group = s"job$i"
    val t0 = System.nanoTime()
    val exit =
      try withGroup(group)(SubmitJob.run(argv))
      catch { case e: Exception => System.err.println(s"SubmitJob threw: $e"); -1 }
    val wall = (System.nanoTime() - t0) / 1e9
    GraftBenchBus.drain(spark.sparkContext)
    val totals = listener.take(group)
    JobRun(out, wall, totals.rowsRead, totals.jobs, exitProblem(exit))
  }

  private def exitProblem(exit: Int): Seq[String] =
    if (exit == 1) Nil else Seq(s"exit code $exit, expected 1")

  // --- the traced run: SubmitJob's steps, one span + job group per layer -----

  private def tracedJob(i: Int): (Map[String, LayerStats], JobRun) = {
    val (out, store) = jobDirs(i)
    val stats = mutable.Map.empty[String, LayerStats]
    def layer[T](name: String)(body: => T): T = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = trace.span(i, name)(withGroup(name)(body))
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      GraftBenchBus.drain(spark.sparkContext)
      val t = listener.take(name)
      val idle = LayerListener.uncovered(startMs, endMs, t.stageIntervals.toSeq) / 1e3
      stats(name) = LayerStats(wall, t.taskMs / 1e3, math.min(idle, wall), t.rowsRead,
        t.shuffleBytes, t.spillBytes, t.jobs)
      r
    }

    val t0 = System.nanoTime()
    // the job path, step for step as SubmitJob.run + Suite.resumableRun
    val exit = trace.span(i, "job") {
      val spec = SpecParser.parse(SequenceGen.SeqSpecJson)
      val df = spark.read.parquet(inputs.input)
      val dim = spark.read.parquet(inputs.dim)
      val metricsStore = MetricsStore(store)
      val specHash = SpecJson.hash(spec)
      val runEpoch = System.currentTimeMillis()
      val todo = layer("stats.remaining") {
        val t = metricsStore.remaining(df, specHash, cfg.part)
        require(!t.isEmpty, "nothing left to validate")
        t
      }
      val v = layer("run.suite_build")(Suite.validateSequences(todo, dim, spec, cfg))
      layer("submit.sink_verdicts") {
        v.verdicts.withColumn("run_epoch", lit(runEpoch))
          .write.mode("append").partitionBy("run_epoch").parquet(s"$out/verdicts")
      }
      layer("submit.sink_violations") {
        v.violations.withColumn("run_epoch", lit(runEpoch))
          .write.mode("append").partitionBy("run_epoch").parquet(s"$out/violations")
      }
      layer("stats.append") {
        metricsStore.append(
          Metrics.partitionStats(todo, cfg.part, cfg.docId, cfg.nTok, cfg.source),
          specHash, runEpoch)
      }
      val failing = layer("submit.gate") {
        spark.read.parquet(s"$out/verdicts")
          .where(col("run_epoch") === runEpoch && !col("pass")).count()
      }
      if (failing == 0) 0 else 1
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // components, each an isolated call on the same validated rows
    trace.span(i, "components") {
      val todo = inputs.todo(spark)
      val dim = spark.read.parquet(inputs.dim)
      val spec = layer("compile") {
        val s = SpecParser.parse(SequenceGen.SeqSpecJson)
        Compiler.compile(s, todo.schema)
        s
      }
      val consistency = CrossRow.consistency(s"${cfg.nTok}=size(${cfg.tokens})",
        col(cfg.nTok) === size(col(cfg.tokens)), col(cfg.nTok))
      val row = Validator.validate(todo, spec, cfg.docId, Some(cfg.part), Vector(consistency))
      layer("run.validator_verdicts")(row.verdicts.collect())
      layer("run.validator_violations")(noop(row.violations))
      val totals = Some(withGroup("components.totals")(CrossRow.partTotalsLiteral(todo, cfg.part)))
      layer("dataset.uniqueness") {
        val u = CrossRow.uniqueness(todo, cfg.docId, cfg.part, totals = totals)
        noop(u.violations)
        u.verdicts.collect()
      }
      layer("dataset.referential") {
        val r = CrossRow.referential(todo, cfg.source, dim, cfg.source, cfg.docId, cfg.part,
          totals = totals)
        noop(r.violations)
        r.verdicts.collect()
      }
      layer("drift.cube") {
        val dims = Seq(
          (cfg.nTok, Drift.widthBucket(col(cfg.nTok), cfg.nTokBucketWidth), cfg.klThreshold),
          (cfg.source, col(cfg.source), cfg.klThreshold))
        val cube = Drift.cube(todo, dims, cfg.part).localCheckpoint(false)
        Drift.multiValidationFromCube(cube, dims).foreach { d =>
          d.verdicts.collect()
          d.violations.collect()
        }
      }
    }
    listener.take("components.totals")
    (stats.toMap, JobRun(out, wall, 0L, 0, exitProblem(exit),
      componentsWall = (System.nanoTime() - t0) / 1e9 - wall))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def writeTrace(): Unit = {
    val dir = s"${args.work}/traces"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/${args.workload.name}-seed${args.seed}.json"), trace.json)
  }

  // --- helpers -------------------------------------------------------------------

  private def withGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Fixed-work CPU calibration: an xxhash64 fold over a fixed range (as in
    * graft.tools.CpuProbe). A slow value flags a noisy measuring window. */
  private def cpuProbeSeconds(): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L)
      .select(sum(pmod(xxhash64(col("id"), col("id") + 1, col("id") + 2), lit(1000))))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }
}
