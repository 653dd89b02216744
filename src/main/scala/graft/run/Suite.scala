package graft.run

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.compile.Compiler
import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.spec.{Spec, SpecJson, SpecParser}
import graft.stats.{Metrics, ValidationStateStore}

/** The full north-star validation job over a tokenized-sequence table:
  * row-level spec checks (+ n_tok==size(tokens) consistency and source
  * referential integrity in the same pass), doc_id uniqueness (salted
  * two-stage), KL/PSI drift of n_tok and source — unioned into ONE
  * violation frame, from which every verdict is derived (SURVEY.md §3.4
  * plan sketch; a verdict is a function of its violation rows, as the
  * reference's `:success` iff `errors` is empty, validator.cr:20-27).
  *
  * Scan budget (at scale each is column-pruned to what it needs):
  *   1. row pass — full width, no shuffle: spec checks, consistency, and
  *      the FK check, whose hit flag comes from a broadcast left join of
  *      the distinct dim keys (`CrossRow.referentialCheck`), so referential
  *      integrity has no scan of its own
  *   2. uniqueness — (doc_id[, part]) only: hash detection + candidate fetch
  *      (two scans, 8 B/row exchange; see CrossRow.uniqueness)
  *   3. drift histograms — (n_tok, source, part) only, ONE shared cube
  *      scan + |parts×buckets| shuffle: the histogram-sized cube is lazily
  *      checkpointed and both dimensions AND the per-part verdict totals
  *      re-read the materialized frame, costing no scan of their own
  *   Verdicts are `count(*)` of the violation rows per (part, constraint)
  *   against the cube's totals: as the lazy `validation` they ride the one
  *   row pass; SubmitJob derives them from the violation rows it wrote and
  *   read back, which costs no table scan at all.
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

  /** The suite as lazy plans: the ONE violation frame, and the ONE verdict
    * derivation — every (part, constraint) of `totals` × `catalog` counts
    * its rows in whatever frame of these violation rows `verdicts` is given:
    * the lazy `violations` (`validation`), or the rows a sink wrote and
    * read back. */
  final case class Plan(violations: DataFrame, totals: DataFrame,
                        catalog: Seq[(Int, String)]) {
    def verdicts(rows: DataFrame): DataFrame =
      CrossRow.verdictsFromViolations(totals, rows, catalog)

    def validation: Validation = Validation(verdicts(violations), violations)
  }

  /** The drift dimensions of the suite's histogram cube: (name, bucket, KL
    * threshold) for n_tok and source. */
  def driftDims(cfg: Config): Seq[(String, Column, Double)] = Seq(
    (cfg.nTok, Drift.widthBucket(col(cfg.nTok), cfg.nTokBucketWidth), cfg.klThreshold),
    (cfg.source, col(cfg.source), cfg.klThreshold))

  def validateSequences(df: DataFrame, dim: DataFrame,
                        spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
                        cfg: Config = Config()): Validation =
    plan(df, dim, spec, cfg).validation

  def plan(df: DataFrame, dim: DataFrame, spec: Spec, cfg: Config): Plan = {
    val consistency = CrossRow.consistency(
      s"${cfg.nTok}=size(${cfg.tokens})",
      col(cfg.nTok) === size(col(cfg.tokens)),
      col(cfg.nTok))
    val (flagged, referential) = CrossRow.referentialCheck(df, cfg.source, dim, cfg.source)
    val rowChecks = Compiler.compile(spec, df.schema) :+ consistency :+ referential

    // both drift dimensions share ONE scan via the multi-bucket cube, and
    // the per-part verdict totals are a re-aggregation of the SAME cube.
    // Lazily checkpointed: ReuseExchange does not collapse the consumers'
    // differently-pruned copies of the cube (see Drift.cube scaladoc)
    val dims = driftDims(cfg)
    val cube = Drift.cube(df, dims, cfg.part).localCheckpoint(false)

    val violations =
      Validator.violationFrame(flagged, rowChecks, col(cfg.docId), col(cfg.part)) +:
        CrossRow.uniqueness(df, cfg.docId, cfg.part).violations +:
        Drift.multiValidationFromCube(cube, dims).map(_.violations)
    Plan(violations.reduce(_ unionByName _), Drift.totalsFromCube(cube),
      rowChecks.map(c => c.rank -> c.id) ++
        Seq(CrossRow.BaseRank -> CrossRow.uniquenessId(cfg.docId)) ++ Drift.catalog(dims))
  }

  /** Checkpointed run: skip already-validated partitions (resume), validate
    * the remainder, then — only after `sink` has MATERIALIZED the results —
    * append their stats sketches to the metrics store.
    *
    * Ordering matters: appending to the store is what marks a partition
    * validated, and the Plan frames are lazy. Appending before the caller
    * executed them would let a crash mid-run permanently mark
    * never-validated partitions complete (a later resume would silently skip
    * them). `sink` is the caller's terminal action (write violations +
    * verdicts somewhere durable); the default forces the verdict counts,
    * which evaluate every violation row. */
  def resumableRun(df: DataFrame, dim: DataFrame, store: ValidationStateStore,
                   spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
                   cfg: Config = Config(),
                   runEpoch: Long = System.currentTimeMillis(),
                   sink: Plan => Unit = defaultSink): Option[Validation] = {
    val specHash = SpecJson.hash(spec)
    val todo = store.remaining(df, specHash, cfg.part)
    // head(1) reads the first batch of one split; isEmpty would plan a
    // shuffled global limit that reads the first batch of EVERY split
    if (todo.head(1).isEmpty) return None
    val result = plan(todo, dim, spec, cfg)
    sink(result) // validation executes HERE; an exception skips the append
    store.append(
      Metrics.partitionStats(todo, cfg.part, cfg.docId, cfg.nTok, cfg.source),
      specHash, runEpoch)
    Some(result.validation)
  }

  /** Forces the verdict counts (the smallest terminal action that proves
    * every violation row was evaluated); real deployments pass a durable
    * writer instead. */
  private def defaultSink(p: Plan): Unit =
    p.validation.verdicts.agg(sum(col("violations"))).collect()
}
