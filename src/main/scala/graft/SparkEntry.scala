package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audio.AudioQueries
import graft.queries.{ClipQueries, DocQueries, EventQueries, RepairQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every entry in [[queries]] is one operator from SURVEY.md §2 / the north
  * rule; entries with a DuckDB-expressible semantics also appear in
  * [[oracleSql]] (same column names both sides — the driver's compare sorts
  * columns by name before hashing).
  */
object SparkEntry {

  /** Flagship: per-partition pass/fail verdicts of the full check suite over
    * the derived clips table at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    ClipQueries.verdicts(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the headline benchmark pipeline itself (the declarative metadata +
    // audio suite over one fused synth pass), oracle-checked at replicate=1
    "vc_full_verdicts" -> ((s: SparkSession, d: String) =>
      graft.run.ValidationPipeline.verdicts(s, d)),
    "vc_violations" -> ((s, d) => ClipQueries.violations(s, d)),
    "vc_verdicts" -> ((s, d) => ClipQueries.verdicts(s, d)),
    "vc_stats" -> ((s, d) => ClipQueries.stats(s, d)),
    "vc_quantiles" -> ((s, d) => ClipQueries.quantiles(s, d)),
    "vc_tdigest" -> ((s, d) => ClipQueries.tdigestChecked(s, d)),
    "vc_drift_chi2" -> ((s, d) => ClipQueries.driftChi2(s, d)),
    "vc_drift_ks" -> ((s, d) => ClipQueries.driftKs(s, d)),
    "vc_dedup_lww" -> ((s, d) => ClipQueries.dedupLww(s, d)),
    "vc_codec_counts" -> ((s, d) => ClipQueries.codecCounts(s, d)),
    // incremental validation over the TableFormat append lineage (round-6):
    // commit-delta scan + delta-scoped checks + newly-formed-dup-only
    // uniqueness, and the incrementally-decomposed per-bucket verdict drift
    "vc_incr" -> ((s, d) => ClipQueries.incrementalViolations(s, d)),
    "vc_verdict_drift" -> ((s, d) => ClipQueries.verdictDrift(s, d)),
    // manifest-column-stats data skipping over a range-laid-out snapshot
    // (round-6: the Iceberg lower/upper-bounds file-pruning analogue)
    "vc_skip" -> ((s, d) => ClipQueries.skipScan(s, d)),
    // dynamic-partition-overwrite lifecycle: per-bucket revalidation over a
    // snapshot whose bucket 3 was fixed and recommitted partition-wise
    "vc_overwrite" -> ((s, d) => ClipQueries.overwriteVerdicts(s, d)),
    // additive schema evolution: per-bucket validation over a lineage whose
    // append ships a column the base commit lacks
    "vc_evolve" -> ((s, d) => ClipQueries.evolveVerdicts(s, d)),
    "au_snr_violations" -> ((s, d) => AudioQueries.snrViolations(s, d)),
    "au_dur_mismatch" -> ((s, d) => AudioQueries.durMismatch(s, d)),
    "au_frames" -> ((s, d) => AudioQueries.frames(s, d)),
    "au_features" -> ((s, d) => AudioQueries.featuresChecked(s, d))
  ) ++ DocQueries.queries ++ Map[String, (SparkSession, String) => DataFrame](
    "jr_valid" -> ((s, d) => RepairQueries.valid(s, d)),
    "jr_repair" -> ((s, d) => RepairQueries.repaired(s, d)),
    "jr_schema" -> ((s, d) => RepairQueries.schemaRepaired(s, d)),
    "jr_actions" -> ((s, d) => RepairQueries.repairActions(s, d)),
    "vc_hist" -> ((s, d) => ClipQueries.histogram(s, d)),
    "vc_transcript_eq" -> ((s, d) => ClipQueries.transcriptMismatch(s, d)),
    "ev_hourly" -> ((s, d) => EventQueries.hourly(s, d)),
    "ev_sessions" -> ((s, d) => EventQueries.sessions(s, d)),
    // REAL javax.imageio PNG decode, oracled in closed form (round-3 ask)
    "mm_features" -> ((s, d) => graft.multimodal.Multimodal.imageFeatures(s, d)),
    // Structured Streaming run to completion (round-4 ask: the streaming
    // path enters the driver CORRECTNESS gate, not just StreamingSpec)
    "st_windowed" -> ((s, d) =>
      graft.streaming.StreamingValidation.windowedVerdictsBatch(s, d)),
    "st_lww" -> ((s, d) =>
      graft.streaming.StreamingValidation.lwwDedupBatch(s, d)),
    // append-mode watermark semantics under the driver gate (round-5 ask:
    // the genuinely streaming behaviors — state eviction, closed-window
    // emission — asserted against an oracle, not just ScalaTest)
    "st_append" -> ((s, d) =>
      graft.streaming.StreamingValidation.windowedVerdictsAppend(s, d))
  )

  def oracleSql: Map[String, String] =
    ClipQueries.oracles ++ AudioQueries.oracles ++ DocQueries.oracles ++
      RepairQueries.oracles ++ EventQueries.oracles ++
      graft.multimodal.Multimodal.oracles ++
      graft.streaming.StreamingValidation.oracles
}
