package graft.dataset

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.compile.CompiledCheck
import graft.run.Validation

/** Cross-row constraints — the operators the north rule adds on top of the
  * reference's single-value semantics (SURVEY.md §2.8): key uniqueness,
  * referential integrity, cross-field consistency. Output frames share the
  * Validator verdict/violation schemas so they union with row-level results.
  *
  * Scale design:
  *  - Uniqueness is a SALTED TWO-STAGE count: stage 1 computes partial
  *    counts per (key, salt) where the salt boundary is the input partition
  *    — a hot key contributes at most one partial row per input partition —
  *    and stage 2 sums the partials after the one key-hash exchange. See
  *    `duplicateKeys` for why the salt stage needs NO exchange of its own.
  *    The duplicate set (cnt > 1) is tiny relative to the table, so the
  *    join back to rows is AQE-broadcastable and skew-safe.
  *  - Referential integrity is a BROADCAST left-anti join against the
  *    dimension table (small by construction) — no shuffle of the fact side,
  *    immune to hot-value skew.
  */
object CrossRow {

  /** Cross-row checks rank after all row-level checks in golden ordering. */
  val BaseRank = 1000

  /** The ONE dup-hash detection definition shared by `duplicateKeys` and
    * `dupCandidates`: (projected row frame incl. `_kh`, the >1-hash set). */
  private def dupHashDetection(df: DataFrame, key: String,
                               extra: Seq[Column]): (DataFrame, DataFrame) = {
    val hashed = df.select(extra :+ col(key) :+ xxhash64(col(key)).as("_kh"): _*)
    val dupHashes = hashed.select(col("_kh"))
      .groupBy(col("_kh"))
      .agg(count(lit(1)).as("_hc"))
      .where(col("_hc") > 1)
      .select(col("_kh"))
    (hashed, dupHashes)
  }

  /** (key, cnt) for keys occurring more than once — salted two-stage agg.
    *
    * Hash-first: stage 1+2 aggregate on `xxhash64(key)` (8 bytes shuffled
    * per row instead of the full key), then the tiny >1 hash set joins back
    * to real keys and is re-counted EXACTLY — a 64-bit collision can only
    * send a unique key into the re-check, never corrupt a count.
    *
    * Where the SALT lives: the input's file-split partitioning is already a
    * random partitioning w.r.t. the key — i.e. the salted repartition has
    * already happened at the scan — so stage 1 (per-salt-group partial
    * counts) is the HashAggregate PARTIAL mode running inside each input
    * partition, and stage 2 (sum of partials) is the FINAL mode after the
    * single exchange on the key hash. A hot key still contributes at most
    * one pre-counted row per input partition to the exchange — identical
    * skew safety to an explicit `groupBy(key, salt)` pre-stage. An earlier
    * formulation materialized the salt as a `spark_partition_id()` column
    * and paid a second full-data exchange on (key, salt) for groups that
    * were already partition-local: measured at 10⁷ rows that shape costs
    * 8.4 s / 663 CPU-s vs 5.1 s / 342 CPU-s for this one, same output
    * (interleaved in-JVM A/B recorded in NOTES_r3.md and BASELINE.md). */
  def duplicateKeys(df: DataFrame, key: String): DataFrame = {
    val (hashed, dupHashes) = dupHashDetection(df, key, Seq.empty)
    // exact re-count over only the candidate keys (dup set ≪ table; AQE
    // broadcasts the hash set at runtime)
    hashed.join(dupHashes, Seq("_kh"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
  }

  /** Per-part row totals — pass a precomputed (possibly driver-collected
    * literal) frame to every cross-row check to avoid re-scanning for counts. */
  def partTotals(df: DataFrame, part: String = "part"): DataFrame =
    df.groupBy(col(part).as("part")).agg(count(lit(1)).as("total"))

  /** Collect totals to the driver (|parts| rows — partition metadata scale)
    * and rebuild as a literal frame: downstream verdict joins then scan
    * nothing. */
  def partTotalsLiteral(df: DataFrame, part: String = "part"): DataFrame = {
    val rows = partTotals(df, part).collect().toSeq
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("part", StringType), StructField("total", LongType))))
  }

  /** Candidate rows for the uniqueness check: every (part, key) row whose
    * key HASH occurs more than once — i.e. the exact-recount input and the
    * violation rows in one fetch. Derivation shares `duplicateKeys`' shape
    * (8 B/row detection exchange, then one row-fetch scan probing the
    * broadcast dup-hash set); output is dup-set-sized ≪ table. Exposed
    * un-checkpointed so PlanSpec can gate pruning + the single `_kh`
    * exchange on the real build plan. */
  private[graft] def dupCandidates(df: DataFrame, key: String, part: String): DataFrame = {
    val (hashed, dupHashes) = dupHashDetection(df, key, Seq(col(part).as("part")))
    hashed.join(dupHashes, Seq("_kh")).select(col("part"), col(key))
  }

  /** Validation frames for "every `key` value occurs exactly once".
    *
    * Normal regime (dup set ≪ table): the exact re-count and the violation
    * join-back are FUSED into one candidate-row fetch (`dupCandidates`) —
    * two input scans total (hash detection + row fetch) instead of three,
    * and the fetch is lazily `localCheckpoint`ed, so the verdicts and
    * violations actions both re-read the tiny materialized candidate frame
    * instead of re-running the detection pipeline from the source scan
    * (checkpoint blocks are freed by the ContextCleaner when the frame is
    * GC'd). Exactness is unchanged: candidates are keyed by 64-bit-hash
    * membership, then `groupBy(key)` re-counts REAL keys — a collision can
    * only send a unique key into the re-check (filtered by `cnt > 1`),
    * never corrupt a count.
    *
    * `checkpointDups` is the DEGENERATE-dup-set escape hatch: if most keys
    * are duplicated (table-scale dup set) the candidate frame is table-scale
    * too — materializing it would be the bug — so this path keeps the
    * unfused shape: eagerly checkpoint only the dup KEY set and join it back
    * to the full input. That join-back is a shuffled join where a hot key
    * lands all its rows in one partition — and AQE's OptimizeSkewedJoin
    * CANNOT split it as-built, because the dup side's final HashAggregate
    * sits between the join's Sort and the shuffle read (the rule only
    * matches plain Sort→ShuffleRead on BOTH sides: replicating a partition
    * of an un-materialized aggregate has no shuffle to re-read from).
    * Eagerly checkpointing the dup frame makes the join-back a plain
    * shuffle↔shuffle join, which AQE then skew-splits (gated in PlanSpec).
    * Off by default — in the normal regime it would cost an extra
    * materialization for a frame the broadcast path never shuffles. */
  def uniqueness(df: DataFrame, key: String = "doc_id",
                 part: String = "part", rank: Int = BaseRank,
                 totals: Option[DataFrame] = None,
                 checkpointDups: Boolean = false): Validation = {
    val id = s"dataset/unique:$key"
    val message = s"""Expected "$key" values to be unique across the dataset"""

    val violations =
      if (checkpointDups) {
        val dups = duplicateKeys(df, key).localCheckpoint()
        df.select(col(part).as("part"), col(key))
          .join(dups, Seq(key))
          .select(
            col("part"), col(key).cast(StringType).as("doc_id"),
            lit(rank).as("rank"), lit(id).as("constraint_id"),
            lit(s".$key").as("path"), col("cnt").cast(StringType).as("observed"),
            lit(message).as("message"))
      } else {
        val candidates = dupCandidates(df, key, part)
          .localCheckpoint(false) // lazy: materializes on the first action
        val dups = candidates.groupBy(col(key))
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") > 1)
        candidates.join(dups, Seq(key)) // both sides tiny → AQE broadcasts
          .select(
            col("part"), col(key).cast(StringType).as("doc_id"),
            lit(rank).as("rank"), lit(id).as("constraint_id"),
            lit(s".$key").as("path"), col("cnt").cast(StringType).as("observed"),
            lit(message).as("message"))
      }

    Validation(verdictsFromViolations(totals.getOrElse(partTotals(df, part)),
      violations, rank, id), violations)
  }

  /** Validation frames for "`column` ∈ dim(`dimCol`)" (FK). Nulls are not FK
    * violations (that is `required`'s job), matching SQL FK semantics. */
  def referential(df: DataFrame, column: String, dim: DataFrame, dimCol: String,
                  docId: String = "doc_id", part: String = "part",
                  rank: Int = BaseRank + 1,
                  totals: Option[DataFrame] = None): Validation = {
    val id = s"dataset/referential:$column"
    val message = s"""Expected "$column" to reference a value in the dimension table"""
    val fact = df.select(col(part).as("part"), col(docId).cast(StringType).as("doc_id"),
                         col(column))
      .where(col(column).isNotNull)
    val violations = fact
      .join(broadcast(dim.select(col(dimCol).as(column)).distinct), Seq(column), "left_anti")
      .select(
        col("part"), col("doc_id"),
        lit(rank).as("rank"), lit(id).as("constraint_id"),
        lit(s".$column").as("path"), col(column).cast(StringType).as("observed"),
        lit(message).as("message"))

    Validation(verdictsFromViolations(totals.getOrElse(partTotals(df, part)),
      violations, rank, id), violations)
  }

  /** FK check for dimension tables TOO LARGE to broadcast (`referential`'s
    * contract, different physical strategy). At 100 TB a registry-sized dim
    * can exceed any broadcast threshold, and the naive shuffled anti-join
    * would exchange the FULL fact table on the FK. The FK DOMAIN, however,
    * is ≪ the fact row count (enum-like columns: sources, shards, tenants) —
    * so: (1) aggregate the fact side to its distinct FK values (map-side
    * partial distinct → the one fact-derived exchange carries only distinct
    * keys per input partition, skew-immune the same way `duplicateKeys`' salt
    * stage is); (2) shuffled LEFT ANTI of that tiny key set against the dim —
    * total shuffle volume |FK domain| + |dim|, never |fact|; (3) broadcast
    * the orphan-key result (⊆ FK domain) back onto the fact rows to emit
    * violation rows without shuffling the fact side at all.
    *
    * Output is row-for-row identical to `referential` (spec-gated); nulls are
    * likewise not FK violations. */
  def referentialLargeDim(df: DataFrame, column: String, dim: DataFrame, dimCol: String,
                          docId: String = "doc_id", part: String = "part",
                          rank: Int = BaseRank + 1,
                          totals: Option[DataFrame] = None): Validation = {
    val id = s"dataset/referential:$column"
    val message = s"""Expected "$column" to reference a value in the dimension table"""
    val fact = df.select(col(part).as("part"), col(docId).cast(StringType).as("doc_id"),
                         col(column))
      .where(col(column).isNotNull)
    val orphanKeys = fact.select(col(column)).distinct
      .join(dim.select(col(dimCol).as(column)), Seq(column), "left_anti")
    val violations = fact.join(broadcast(orphanKeys), Seq(column))
      .select(
        col("part"), col("doc_id"),
        lit(rank).as("rank"), lit(id).as("constraint_id"),
        lit(s".$column").as("path"), col(column).cast(StringType).as("observed"),
        lit(message).as("message"))

    Validation(verdictsFromViolations(totals.getOrElse(partTotals(df, part)),
      violations, rank, id), violations)
  }

  /** Row-level cross-field consistency as a pluggable CompiledCheck, e.g.
    * `consistency("n_tok=size(tokens)", col("n_tok") === size(col("tokens")),
    * col("n_tok"))` — runs in the same single pass as spec checks. */
  def consistency(name: String, ok: Column, observed: Column,
                  rank: Int = BaseRank + 2): CompiledCheck =
    CompiledCheck(
      id = s"dataset/consistency:$name",
      path = ".", keyword = "consistency",
      message = s"Expected row to satisfy $name",
      rank = rank,
      pass = coalesce(ok, lit(false)),
      observed = observed.cast(StringType))

  /** Referential-integrity VERDICT counts derived from a histogram cube
    * that carries the FK column as dimension column `bucket` (Suite's drift
    * cube): violations per part = Σ c over cells whose bucket value is
    * absent from the dim. The verdicts action then touches NO row-level
    * scan at all — the cube is already materialized for drift — while the
    * row-level `referential(...).violations` frame stays the authoritative
    * row fetch, executed only when violations are actually written.
    *
    * Count-equivalence to `referential` requires the cube's bucketing of
    * the FK column to be the identity (string-typed FK; the cube casts
    * dims to string) — gated row-for-row against the row-level verdicts in
    * CrossRowSpec. Null FK values are not violations (cube cell with null
    * bucket is excluded), matching `referential`. */
  def referentialVerdictsFromCube(cube: DataFrame, bucket: String,
                                  dim: DataFrame, dimCol: String,
                                  totals: DataFrame, column: String,
                                  rank: Int = BaseRank + 1): DataFrame = {
    val vioCounts = cube.where(col(bucket).isNotNull)
      .join(broadcast(dim.select(col(dimCol).cast(StringType).as(bucket)).distinct),
        Seq(bucket), "left_anti")
      .groupBy(col("part")).agg(sum(col("c")).as("violations"))
    verdictsFromCounts(totals, vioCounts, rank, s"dataset/referential:$column")
  }

  /** Verdict frame derived from a violation frame + per-part totals.
    * Both sides aggregate before the join, so the join is |parts|-sized. */
  private[graft] def verdictsFromViolations(totals: DataFrame, violations: DataFrame,
                                            rank: Int, id: String): DataFrame =
    verdictsFromCounts(totals,
      violations.groupBy(col("part")).agg(count(lit(1)).as("violations")), rank, id)

  private def verdictsFromCounts(totals: DataFrame, vioCounts: DataFrame,
                                 rank: Int, id: String): DataFrame =
    totals.join(vioCounts, Seq("part"), "left")
      .select(
        col("part"), lit(rank).as("rank"), lit(id).as("constraint_id"), col("total"),
        coalesce(col("violations"), lit(0L)).as("violations"),
        (coalesce(col("violations"), lit(0L)) === 0).as("pass"))
}
