package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.run.{Suite, Validator}
import graft.spec.SpecParser

import Harness.spark

/** Cross-row operators: salted dedup, referential, consistency, drift —
  * over the deterministic generated sequences table. */
class CrossRowSpec extends AnyFunSuite {

  lazy val seqs = SequenceGen.sequences(spark, 3000L, numParts = 4).cache()
  lazy val dim = SequenceGen.dimSources(spark)

  test("generator is deterministic and partitioning-invariant") {
    val a = SequenceGen.sequences(spark, 500L, 4).orderBy("doc_id", "n_tok")
      .collect().map(_.toString)
    val b = SequenceGen.sequences(spark, 500L, 4).repartition(7).orderBy("doc_id", "n_tok")
      .collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("generator bytes are PINNED across code changes (cross-release signature)") {
    // order-insensitive full-row hash signature of sequences(50000, 16),
    // recorded before the overflow-safe mod-Vocab token rewrite and
    // verified identical after it at 5e4 and 4e6 rows (NOTES_r3.md) —
    // scaling runs depend on "identical bytes at every parallelism AND
    // every code revision"
    import org.apache.spark.sql.functions._
    val sig = SequenceGen.sequences(spark, 50000L, 16)
      .select(xxhash64(col("doc_id"), col("tokens"), col("n_tok"),
        col("source"), col("part")).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000003L))),
        sum(pmod(col("h"), lit(999983L))), sum(pmod(col("h"), lit(7919L))))
      .collect()(0)
    assert(sig.toSeq == Seq(50000L, 25028523574L, 25036729454L, 198084015L), sig.toSeq)
  }

  test("duplicateKeys finds exactly the injected duplicates (salted two-stage)") {
    val dups = CrossRow.duplicateKeys(seqs, "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hot ids: rows where id % 101 == 17 collapse onto doc-…0000..0002
    val hot = dups.filter(_._2 > 5)
    assert(hot.keySet == Set("doc-000000000000", "doc-000000000001", "doc-000000000002"))
    // plain duplicates: id % 1000 == 0 (id>0) reuses id-1 → cnt == 2
    assert(dups("doc-000000000999") == 2)
    assert(dups("doc-000000001999") == 2)
    // invariant under repartitioning (the salting correctness property)
    val dups2 = CrossRow.duplicateKeys(seqs.repartition(11), "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dups == dups2)
  }

  test("uniqueness validation counts every row of a duplicated key as violating") {
    val v = CrossRow.uniqueness(seqs, "doc_id", "part")
    val perPart = v.verdicts.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val totalViolations = perPart.values.sum
    val expected = CrossRow.duplicateKeys(seqs, "doc_id")
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(totalViolations == expected)
    assert(v.violations.count() == expected)
  }

  test("referential: unknown sources flagged, nulls are not FK violations") {
    val v = CrossRow.referential(seqs, "source", dim, "source")
    val observed = v.violations.select("observed").distinct().collect().map(_.getString(0)).toSet
    assert(observed == Set("spam"))
    val expected = seqs.where(col("source") === "spam").count()
    assert(v.violations.count() == expected)
  }

  test("referentialLargeDim is row-for-row identical to the broadcast referential") {
    // same contract, different physical strategy (distinct-FK anti-join for
    // dims too big to broadcast) — outputs must be indistinguishable
    val a = CrossRow.referential(seqs, "source", dim, "source")
    val b = CrossRow.referentialLargeDim(seqs, "source", dim, "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(a.violations) == rows(b.violations))
    assert(rows(a.verdicts) == rows(b.verdicts))
    assert(b.violations.count() == seqs.where(col("source") === "spam").count())
  }

  test("referential verdicts from the drift cube equal row-level verdicts") {
    // Suite derives referential verdict COUNTS from the histogram cube
    // (source = dim _b1) so the verdicts action needs no row-level scan —
    // the counts must be indistinguishable from the row-level derivation,
    // including null-FK exclusion and zero-violation parts
    val totals = CrossRow.partTotals(seqs)
    val row = CrossRow.referential(seqs, "source", dim, "source",
      totals = Some(totals)).verdicts
    val cube = Drift.cube(seqs, Seq(
      ("n_tok", Drift.widthBucket(col("n_tok"), 8.0), 0.05),
      ("source", col("source"), 0.05)))
    val cubed = CrossRow.referentialVerdictsFromCube(cube, "_b1", dim, "source",
      totals, "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(row) == rows(cubed))
    assert(cubed.agg(sum(col("violations"))).collect()(0).getLong(0) ==
      seqs.where(col("source") === "spam").count())
  }

  test("consistency check flags n_tok != size(tokens) rows in the row pass") {
    val check = CrossRow.consistency("n_tok=size(tokens)",
      col("n_tok") === size(col("tokens")), col("n_tok"))
    val v = Validator.run(seqs, Vector(check), "doc_id", Some("part"))
    val expected = seqs.where(col("n_tok") =!= size(col("tokens"))).count()
    assert(expected > 0)
    assert(v.violations.count() == expected)
    assert(v.violations.select("constraint_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("dataset/consistency:n_tok=size(tokens)"))
  }

  test("drift: the shifted partition p000 diverges most and trips the check") {
    val big = SequenceGen.sequences(spark, 8000L, numParts = 4)
    val div = Drift.divergence(big, Drift.widthBucket(col("n_tok"), 8.0))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val p0 = div("p000")
    val others = div.removed("p000").values
    assert(others.forall(_ < p0), s"expected p000 max divergence, got $div")
    val v = Drift.validation(big, Drift.widthBucket(col("n_tok"), 8.0), "n_tok",
      klThreshold = others.max * 2)
    val failing = v.verdicts.where(!col("pass")).select("part").collect().map(_.getString(0))
    assert(failing.toSeq == Seq("p000"))
    assert(v.violations.count() == 1)
  }

  test("full suite unions row + cross-row + drift verdicts") {
    val v = Suite.validateSequences(seqs, dim)
    val ids = v.verdicts.select("constraint_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids.contains("./required:source"))
    assert(ids.contains(".tokens/items"))
    assert(ids.contains(".n_tok/minimum"))
    assert(ids.contains("dataset/unique:doc_id"))
    assert(ids.contains("dataset/referential:source"))
    assert(ids.contains("dataset/consistency:n_tok=size(tokens)"))
    assert(ids.contains("dataset/drift:n_tok"))
    assert(ids.contains("dataset/drift:source"))
    // every injected violation class shows up
    val vio = v.violations.groupBy("constraint_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vio.contains(".tokens/items"))       // out-of-domain tokens
    assert(vio.contains(".n_tok/minimum"))      // injected zeros
    assert(vio.contains(".n_tok/maximum"))      // injected oversize
    assert(vio.contains(".source/enum"))        // spam
    assert(vio.contains("./required:source"))   // nulls
    assert(vio.contains("dataset/unique:doc_id"))
    assert(vio.contains("dataset/referential:source"))
    assert(vio.contains("dataset/consistency:n_tok=size(tokens)"))
  }

  test("checkpoint/resume: second run skips validated partitions") {
    import graft.stats.MetricsStore
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    val store = MetricsStore(s"$dir/metrics")
    // a crashing sink must NOT mark anything validated (metrics append
    // happens only after the sink materializes results)
    intercept[RuntimeException] {
      graft.run.Suite.resumableRun(seqs, dim, store,
        sink = _ => throw new RuntimeException("simulated sink crash"))
    }
    assert(graft.run.Suite.resumableRun(seqs, dim, store).isDefined,
      "crashed run left no checkpoint → everything still to-do")
    val second = graft.run.Suite.resumableRun(seqs, dim, store)
    assert(second.isEmpty, "all partitions already validated → resume skips everything")
    // partial resume: a fresh store with only half the partitions marked done
    val done = store.completedParts(spark, graft.spec.SpecJson.hash(
      SpecParser.parse(SequenceGen.SeqSpecJson)))
    assert(done.toSet == Set("p000", "p001", "p002", "p003"))
  }
}
