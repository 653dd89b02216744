package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.SequenceGen
import graft.spec.{SpecJson, SpecParser}
import graft.stats.{Metrics, MetricsStore}

/** One benchmark workload: which generated table it reads and which
  * partitions a killed earlier run already left in the metrics store. */
final case class Workload(name: String, table: String, checkpointed: Seq[String])

object Workload {
  val Parts = 16
  val partNames: Seq[String] = (0 until Parts).map(i => f"p$i%03d")

  /** `resume_quarter` validates these four (p000 is the generator's drift
    * partition, so the drift checks still fail there). */
  val resumeTodo: Seq[String] = Seq("p000", "p005", "p010", "p015")

  /** `violation_heavy` rewrites these two partitions. */
  val heavyParts: Seq[String] = Seq("p001", "p002")

  val all: Seq[Workload] = Seq(
    Workload("fresh_full", "base", Seq.empty),
    Workload("resume_quarter", "base", partNames.filterNot(resumeTodo.contains)),
    Workload("violation_heavy", "heavy", Seq.empty))

  def apply(name: String): Option[Workload] = all.find(_.name == name)
}

/** The generated inputs of one run: the table, the dimension table and, for
  * a resume workload, the metrics store a killed earlier run left. */
final case class Inputs(dir: String, w: Workload) {
  val input = s"$dir/input"
  val dim = s"$dir/dim"
  val storeTemplate: Option[String] =
    Option.when(w.checkpointed.nonEmpty)(s"$dir/store-${w.checkpointed.size}of${Workload.Parts}")

  /** The rows this workload's job validates. */
  def todo(spark: SparkSession): DataFrame = {
    val all = spark.read.parquet(input)
    if (w.checkpointed.isEmpty) all else all.where(!col("part").isin(w.checkpointed: _*))
  }
}

object Inputs {

  def table(spark: SparkSession, kind: String, rows: Long, seed: Long): DataFrame = {
    val base = SequenceGen.sequences(spark, rows, Workload.Parts, seed)
    if (kind == "base") base
    else {
      // every row of the heavy partitions violates enum + FK (source) and
      // n_tok=size(tokens); about half of them share one doc_id
      val heavy = col("part").isin(Workload.heavyParts: _*)
      val shared = pmod(xxhash64(lit(seed), col("doc_id")), lit(2)) === 0
      base
        .withColumn("doc_id",
          when(heavy && shared, lit("doc-999999999999")).otherwise(col("doc_id")))
        .withColumn("n_tok", when(heavy, size(col("tokens")) + 1).otherwise(col("n_tok")))
        .withColumn("source", when(heavy, lit("spam")).otherwise(col("source")))
    }
  }

  def generate(spark: SparkSession, dir: String, w: Workload, rows: Long, seed: Long): Inputs = {
    val in = Inputs(dir, w)
    table(spark, w.table, rows, seed).write.partitionBy("part").parquet(in.input)
    SequenceGen.dimSources(spark).write.parquet(in.dim)
    in.storeTemplate.foreach { tpl =>
      val done = spark.read.parquet(in.input).where(col("part").isin(w.checkpointed: _*))
      val specHash = SpecJson.hash(SpecParser.parse(SequenceGen.SeqSpecJson))
      MetricsStore(tpl).append(Metrics.partitionStats(done), specHash, 1L)
    }
    in
  }

  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    val paths = Files.walk(src)
    try paths.forEach { p =>
      val target = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    } finally paths.close()
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
