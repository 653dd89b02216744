package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.spec.{Spec, SpecJson, SpecParser}
import graft.stats.{Metrics, ValidationStateStore}

/** The full north-star validation job over a tokenized-sequence table:
  * row-level spec checks (+ n_tok==size(tokens) consistency in the same
  * pass), doc_id uniqueness (salted two-stage), source referential integrity
  * (broadcast anti join), KL/PSI drift of n_tok and source — unioned into one
  * verdict frame and one violation frame (SURVEY.md §3.4 plan sketch).
  *
  * Scan budget (at scale each is column-pruned to what it needs):
  *   1. row checks — full width, zero shuffle except the |parts| verdict agg
  *   2. uniqueness — (doc_id[, part]) only: hash detection + candidate fetch
  *      (two scans, 8 B/row exchange; see CrossRow.uniqueness)
  *   3. referential — (source, doc_id, part) only, no shuffle (broadcast)
  *   4+5. drift histograms — (n_tok, source, part) only, ONE shared cube
  *      scan + |parts×buckets| shuffle: the histogram-sized cube is lazily
  *      checkpointed and both dimensions AND the per-part verdict totals
  *      re-read the materialized frame, costing no scan of their own
  *
  * Fault-tolerance note: the shared frames (uniqueness candidates, drift
  * cube) are `localCheckpoint`ed — blocks live on executors, so losing one
  * mid-job fails the job instead of recomputing from lineage. That is the
  * deliberate trade here: the engine's recovery unit is the RESUMABLE RUN
  * (`resumableRun` skips already-validated partitions on restart), not RDD
  * lineage replay, and the checkpointed frames are dup-set/histogram-sized
  * (cheap to redo), while keeping their lineage would re-execute the
  * detection pipeline from the source scan on EVERY action, every run.
  */
object Suite {

  final case class Config(
      docId: String = "doc_id",
      part: String = "part",
      source: String = "source",
      nTok: String = "n_tok",
      tokens: String = "tokens",
      klThreshold: Double = 0.05,
      nTokBucketWidth: Double = 8.0)

  def validateSequences(df: DataFrame, dim: DataFrame,
                        spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
                        cfg: Config = Config()): Validation = {
    val consistency = CrossRow.consistency(
      s"${cfg.nTok}=size(${cfg.tokens})",
      col(cfg.nTok) === size(col(cfg.tokens)),
      col(cfg.nTok))

    // both drift dimensions share ONE scan via the multi-bucket cube, and
    // the per-part totals for the uniqueness/referential verdict joins are
    // a re-aggregation of the SAME cube — ReuseExchange collapses every
    // consumer onto the cube's one scan+shuffle, so totals cost zero
    // additional reads (previously an eager driver-collected literal paid
    // one full extra table scan before the job even started)
    val dims = Seq(
      (cfg.nTok, Drift.widthBucket(col(cfg.nTok), cfg.nTokBucketWidth), cfg.klThreshold),
      (cfg.source, col(cfg.source), cfg.klThreshold))
    // lazily checkpointed: ReuseExchange does not collapse the consumers'
    // differently-pruned copies of the cube (see Drift.cube scaladoc)
    val cube = Drift.cube(df, dims, cfg.part).localCheckpoint(false)
    val totals = Some(Drift.totalsFromCube(cube))

    val row = Validator.validate(df, spec, cfg.docId, Some(cfg.part), Vector(consistency))
    val uniq = CrossRow.uniqueness(df, cfg.docId, cfg.part, totals = totals)
    // referential: verdict COUNTS come from the cube (source is a cube
    // dimension, so orphan cells anti-joined against the dim count the
    // violations — no row-level scan in the verdicts action); the row-level
    // violations frame stays the authoritative row fetch and only scans
    // when written. The cube's dim columns are positional (_b0.._bn) —
    // resolve source's index by NAME so reordering `dims` can't silently
    // anti-join the wrong dimension.
    val srcDim = dims.indexWhere(_._1 == cfg.source)
    require(srcDim >= 0, s"source dim '${cfg.source}' missing from cube dims")
    val ref = Validation(
      CrossRow.referentialVerdictsFromCube(cube, s"_b$srcDim", dim, cfg.source,
        totals.get, cfg.source),
      CrossRow.referential(df, cfg.source, dim, cfg.source, cfg.docId, cfg.part,
        totals = totals).violations)
    val drifts = Drift.multiValidationFromCube(cube, dims)

    val parts = Seq(row, uniq, ref) ++ drifts
    Validation(
      verdicts = parts.map(_.verdicts).reduce(_ unionByName _),
      violations = parts.map(_.violations).reduce(_ unionByName _))
  }

  /** Checkpointed run: skip already-validated partitions (resume), validate
    * the remainder, then — only after `sink` has MATERIALIZED the results —
    * append their stats sketches to the metrics store.
    *
    * Ordering matters: appending to the store is what marks a partition
    * validated, and the Validation frames are lazy. Appending before the
    * caller executed them would let a crash mid-run permanently mark
    * never-validated partitions complete (a later resume would silently skip
    * them). `sink` is the caller's terminal action (write verdicts +
    * violations somewhere durable); the default forces full evaluation of
    * both frames. */
  def resumableRun(df: DataFrame, dim: DataFrame, store: ValidationStateStore,
                   spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
                   cfg: Config = Config(),
                   runEpoch: Long = System.currentTimeMillis(),
                   sink: Validation => Unit = defaultSink): Option[Validation] = {
    val specHash = SpecJson.hash(spec)
    val todo = store.remaining(df, specHash, cfg.part)
    if (todo.isEmpty) return None
    val result = validateSequences(todo, dim, spec, cfg)
    sink(result) // validation executes HERE; an exception skips the append
    store.append(
      Metrics.partitionStats(todo, cfg.part, cfg.docId, cfg.nTok, cfg.source),
      specHash, runEpoch)
    Some(result)
  }

  /** Forces both result frames (smallest terminal action that proves the
    * validation ran); real deployments pass a durable writer instead. */
  private def defaultSink(v: Validation): Unit = {
    v.verdicts.agg(sum(col("violations"))).collect()
    v.violations.write.format("noop").mode("overwrite").save()
  }
}
