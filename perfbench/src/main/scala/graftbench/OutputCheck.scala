package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.SequenceGen.{MaxLen, Sources, Vocab}

/** What a correct job writes for one input: violation rows per constraint
  * id, and pass/fail of each drift verdict per partition. */
final case class Expected(rows: Long, violations: Map[String, Long],
                          driftPass: Map[String, Map[String, Boolean]])

/** The recount: plain Spark SQL over the validated input rows, never
  * through graft. */
object Expected {

  private val KlThreshold = 0.05
  private val Smoothing = 0.5
  private val NTokBucketWidth = 8.0

  /** Row-level constraints: id → SQL predicate that holds on a violating row. */
  private val rowChecks: Seq[(String, String)] = Seq(
    "./required:doc_id" -> "doc_id IS NULL",
    "./required:tokens" -> "tokens IS NULL",
    "./required:n_tok" -> "n_tok IS NULL",
    "./required:source" -> "source IS NULL",
    ".doc_id/minLength" -> "length(doc_id) < 1",
    ".doc_id/pattern" -> "NOT (doc_id RLIKE '^doc-[0-9]{12}$')",
    ".tokens/items" -> s"exists(tokens, x -> x IS NULL OR x < 0 OR x >= $Vocab)",
    ".tokens/minItems" -> "size(tokens) < 1",
    ".tokens/maxItems" -> s"size(tokens) > $MaxLen",
    ".n_tok/minimum" -> "n_tok < 1",
    ".n_tok/maximum" -> s"n_tok > $MaxLen",
    ".source/enum" -> Sources.map(s => s"'$s'").mkString("source NOT IN (", ", ", ")"),
    "dataset/consistency:n_tok=size(tokens)" -> "NOT coalesce(n_tok = size(tokens), false)")

  val DriftIds: Seq[String] = Seq("dataset/drift:n_tok", "dataset/drift:source")

  /** Three queries: the dimension's keys, one aggregate over (part, drift
    * buckets) that also sums every row-level predicate, and the rows whose
    * doc_id occurs more than once. */
  def recount(spark: SparkSession, input: DataFrame, dim: DataFrame): Expected = {
    input.createOrReplaceTempView("graftbench_input")
    dim.createOrReplaceTempView("graftbench_dim")
    val dimKeys = spark.sql("SELECT DISTINCT source FROM graftbench_dim WHERE source IS NOT NULL")
      .collect().map(r => s"'${r.getString(0)}'")
    val predicates = rowChecks.map(_._2) :+
      dimKeys.mkString("source IS NOT NULL AND source NOT IN (", ", ", ")")
    val nTokBucket = s"CAST(CAST(floor(n_tok / $NTokBucketWidth) AS BIGINT) AS STRING)"
    val cells = spark.sql(
      s"""SELECT part, $nTokBucket AS nb, source, count(*) AS c, ${predicates.map(p =>
        s"sum(CASE WHEN $p THEN 1 ELSE 0 END)").mkString(", ")}
         |FROM graftbench_input GROUP BY part, $nTokBucket, source""".stripMargin).collect()
    val unique = spark.sql(
      """SELECT coalesce(sum(c), 0) FROM (SELECT count(*) AS c FROM graftbench_input
        |  WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1)""".stripMargin)
      .head().getLong(0)

    val predicateCounts = predicates.indices.map(i => cells.map(_.getLong(4 + i)).sum)
    def histogram(bucket: Int) = cells.toSeq
      .map(r => (r.getString(0), Option(r.getString(bucket)), r.getLong(3)))
      .groupBy(c => (c._1, c._2)).map { case ((p, b), cs) => (p, b, cs.map(_._3).sum) }.toSeq
    val drift = Map(DriftIds(0) -> klPass(histogram(1)), DriftIds(1) -> klPass(histogram(2)))
    Expected(cells.map(_.getLong(3)).sum,
      rowChecks.map(_._1).zip(predicateCounts).toMap ++
        Map("dataset/unique:doc_id" -> unique,
          "dataset/referential:source" -> predicateCounts.last) ++
        drift.map { case (id, byPart) => id -> byPart.count(!_._2).toLong },
      drift)
  }

  /** part → pass of KL(part ‖ all validated parts) ≤ threshold, with Laplace
    * smoothing over every bucket of the global histogram. */
  private def klPass(cells: Seq[(String, Option[String], Long)]): Map[String, Boolean] = {
    val global = cells.groupBy(_._2).map { case (b, cs) => b -> cs.map(_._3).sum.toDouble }
    val globalTotal = global.values.sum
    val k = global.size
    cells.groupBy(_._1).map { case (part, cs) =>
      val counts = cs.map(c => c._2 -> c._3.toDouble).toMap
      val total = counts.values.sum
      val kl = global.map { case (b, bc) =>
        val p = (counts.getOrElse(b, 0.0) + Smoothing) / (total + Smoothing * k)
        val q = (bc + Smoothing) / (globalTotal + Smoothing * k)
        p * math.log(p / q)
      }.sum
      part -> (kl <= KlThreshold)
    }
  }

  /** Mismatches between one job's written outputs and `want` (empty = correct).
    * Per constraint, the violation rows must equal the recount, and for
    * non-drift constraints the verdicts' violation counts must sum to it;
    * each drift verdict must match the KL recompute. */
  def mismatches(spark: SparkSession, want: Expected, outDir: String): Seq[String] = {
    val verdictRows = spark.read.parquet(s"$outDir/verdicts")
      .select("part", "constraint_id", "violations", "pass", "run_epoch").collect()
    val epochs = verdictRows.map(_.getLong(4)).distinct
    if (epochs.length != 1) return Seq(s"expected one run_epoch, found ${epochs.mkString(",")}")
    val written = spark.read.parquet(s"$outDir/violations")
      .where(col("run_epoch") === epochs.head).groupBy("constraint_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val verdictSums = verdictRows.groupBy(_.getString(1))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).sum }

    val unknown = (written.keySet ++ verdictSums.keySet) -- want.violations.keySet
    val counts = want.violations.toSeq.sorted.flatMap { case (id, n) =>
      val rows = written.getOrElse(id, 0L)
      val fromVerdicts = verdictSums.getOrElse(id, 0L)
      Option.when(rows != n)(s"$id: $rows violation rows, recount $n") ++
        Option.when(!DriftIds.contains(id) && fromVerdicts != n)(
          s"$id: verdicts count $fromVerdicts violations, recount $n")
    }
    val drift = DriftIds.flatMap { id =>
      val got = verdictRows.filter(_.getString(1) == id)
        .map(r => r.getString(0) -> r.getBoolean(3)).toMap
      Option.when(got != want.driftPass(id))(
        s"$id: verdict pass by part $got, KL recompute ${want.driftPass(id)}")
    }
    unknown.toSeq.sorted.map(id => s"$id: not a constraint of the spec") ++ counts ++ drift
  }
}
