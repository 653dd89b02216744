package graft

import org.apache.datasketches.hll.HllSketch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SequenceGen
import graft.stats.{Metrics, MetricsStore}

import Harness.spark

/** Per-partition sketch states: null observations, and table-level
  * quantiles/distinct counts merged from the metrics store alone. */
class MetricsSpec extends AnyFunSuite {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a null numeric value is not a KLL observation") {
    import spark.implicits._
    val t = Seq[(String, String, Option[Int], String)](
      ("a", "d1", None, "web"), ("a", "d2", None, "web"),
      ("b", "d3", Some(5), "web"), ("b", "d4", None, null))
      .toDF("part", "doc_id", "n_tok", "source")
    val n = Metrics.partitionStats(t)
      .select(col("part"), kll_sketch_get_n_bigint(col("n_tok_kll")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("a" -> 0L, "b" -> 1L))

    // the resumable run checkpoints an all-null partition's empty sketch
    val df = SequenceGen.sequences(spark, 2000L, 4)
      .withColumn("n_tok", when(col("part") === "p001", lit(null).cast("int"))
        .otherwise(col("n_tok")))
    val store = MetricsStore(s"${tempDir("graft-null-stats")}/metrics")
    assert(graft.run.Suite.resumableRun(df, SequenceGen.dimSources(spark), store).isDefined)
    val stored = store.read(spark).where(col("part") === "p001")
      .select(col("total"), kll_sketch_get_n_bigint(col("n_tok_kll"))).collect()
    assert(stored.length == 1)
    assert(stored(0).getLong(0) == df.where(col("part") === "p001").count())
    assert(stored(0).getLong(1) == 0L)
  }

  test("sketch states merged across store epochs give table-level quantiles and distincts") {
    val df = SequenceGen.sequences(spark, 20000L, 4)
    val store = MetricsStore(s"${tempDir("graft-merge")}/metrics")
    store.append(Metrics.partitionStats(df.where(col("part").isin("p000", "p001"))), "spec", 1L)
    store.append(Metrics.partitionStats(df.where(col("part").isin("p002", "p003"))), "spec", 2L)
    val stored = store.read(spark)
    assert(stored.select("run_epoch").distinct().count() == 2)

    val merged = stored.agg(
      kll_merge_agg_bigint(col("n_tok_kll")).as("k"),
      hll_union_agg(col("doc_id_hll")).as("h"))
      .select(
        kll_sketch_get_n_bigint(col("k")),
        kll_sketch_get_quantile_bigint(col("k"), lit(0.5)),
        kll_sketch_get_quantile_bigint(col("k"), lit(0.95)),
        hll_sketch_estimate(col("h")))
      .collect()(0)
    assert(merged.getLong(0) == 20000L)

    // each quantile's true rank lies within ±ε of the rank asked for
    val eps = Metrics.KllRankError
    Seq(0.5 -> merged.getLong(1), 0.95 -> merged.getLong(2)).foreach { case (q, est) =>
      val bounds = df.agg(percentile(col("n_tok"), lit(q - eps)),
        percentile(col("n_tok"), lit(q + eps))).collect()(0)
      assert(bounds.getDouble(0) <= est && est <= bounds.getDouble(1),
        s"q=$q est=$est exact rank window=[${bounds.getDouble(0)}, ${bounds.getDouble(1)}]")
    }

    val exact = df.agg(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    // HLL relative standard error at the built-in lgConfigK: 1.04/√(2^lgK)
    val rse = 1.04 / math.sqrt((1 << HllSketch.DEFAULT_LG_K).toDouble)
    val est = merged.getLong(3)
    assert(math.abs(est - exact) <= 3 * rse * exact, s"hll=$est exact=$exact rse=$rse")
  }
}
