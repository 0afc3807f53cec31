package graft.clips

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic derivation of the `clips` table (BASELINE.json `input_hint`
  * shape) from the driver-generated `orders` parquet, using *pure arithmetic*
  * so the DuckDB oracle can rebuild the identical table from the same parquet
  * via the CTE in [[cte]]. No randomness, no hash functions (Spark and DuckDB
  * hashes differ), no external data.
  *
  * Injected malformations (all keyed on `o_orderkey` = `ord`):
  *   - ord % 101 == 0  -> clip_id collides with ord+1 (duplicate-key fixture;
  *                        reference duplicate-key split, parse_object.py:211-224)
  *   - ord %  97 == 0  -> sr_hz = 7999 (out of range 8000..48000)
  *   - ord % 211 == 0  -> codec = 'speex' (outside the enum; reference
  *                        `_apply_enum_const`, schema_repair.py:705-710)
  *   - ord %  89 == 0  -> transcript NULL (required-property violation;
  *                        reference `_finalize_object`, parse_object.py:22-24)
  *   - ord % 113 == 0  -> transcript ''   (empty value; parse_object.py:281-287)
  *   - ord % 131 == 0  -> clip_id withheld from the refs table (referential
  *                        integrity check must surface exactly these)
  * Audio-only injections (Spark side, see graft.audio): ord % 149 == 0 ->
  * SNR below 30 dB; ord % 157 == 0 -> bytes-implied duration mismatch.
  */
object ClipsTable {

  val CodecEnum: Seq[String] = Seq("pcm_s16le", "flac", "opus", "mp3")
  val SrMin = 8000
  val SrMax = 48000
  val NumBuckets = 32

  /** clips without bytes: (clip_id, sr_hz, dur_ms, codec, transcript, ord, bucket). */
  def base(spark: SparkSession, sfDir: String): DataFrame = {
    // the stored types of the three columns read: declared, so building
    // the frame infers nothing from the files and starts no Spark job
    val orders = spark.read
      .schema("o_orderkey bigint, o_orderstatus string, o_orderpriority string")
      .parquet(s"$sfDir/orders.parquet")
    val k = col("o_orderkey")
    val dupK = when(k % 101 === 0, k + 1).otherwise(k)
    val srBase = (k * 7) % 5
    val sr = when(k % 97 === 0, lit(7999)).otherwise(
      when(srBase === 0, 8000)
        .when(srBase === 1, 16000)
        .when(srBase === 2, 22050)
        .when(srBase === 3, 44100)
        .otherwise(48000)).cast("int")
    val m = k % 20
    val codec = when(k % 211 === 0, lit("speex")).otherwise(
      when(m < 14, "pcm_s16le").when(m < 17, "flac").when(m < 19, "opus").otherwise("mp3"))
    val transcript = when(k % 89 === 0, lit(null).cast("string"))
      .when(k % 113 === 0, lit(""))
      .otherwise(concat(
        col("o_orderpriority"), lit(" order "), k.cast("string"),
        lit(" status "), col("o_orderstatus")))
    orders.select(
      concat(lit("clip-"), lpad(dupK.cast("string"), 12, "0")).as("clip_id"),
      sr.as("sr_hz"),
      ((k * 37) % 480 + 20).cast("int").as("dur_ms"),
      codec.as("codec"),
      transcript.as("transcript"),
      k.as("ord"),
      (k % NumBuckets).as("bucket"))
  }

  /** Distinct reference ids of a clips-shaped frame for the
    * clip→transcript referential-integrity check; rows ord % 131 == 0
    * deliberately withheld. */
  def refs(clips: DataFrame): DataFrame =
    clips.filter(col("ord") % 131 =!= 0).select(col("clip_id")).distinct()

  /** [[refs]] of the [[base]] clips table. */
  def refs(spark: SparkSession, sfDir: String): DataFrame = refs(base(spark, sfDir))

  /** DuckDB CTE mirroring [[base]] exactly (no bytes). Prepend to oracle SQL. */
  val cte: String =
    """WITH clips AS (
      |  SELECT
      |    concat('clip-', lpad(cast(CASE WHEN o_orderkey % 101 = 0 THEN o_orderkey + 1 ELSE o_orderkey END AS VARCHAR), 12, '0')) AS clip_id,
      |    CAST(CASE WHEN o_orderkey % 97 = 0 THEN 7999 ELSE
      |      CASE (o_orderkey * 7) % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END
      |    END AS INTEGER) AS sr_hz,
      |    CAST((o_orderkey * 37) % 480 + 20 AS INTEGER) AS dur_ms,
      |    CASE WHEN o_orderkey % 211 = 0 THEN 'speex' ELSE
      |      CASE WHEN o_orderkey % 20 < 14 THEN 'pcm_s16le'
      |           WHEN o_orderkey % 20 < 17 THEN 'flac'
      |           WHEN o_orderkey % 20 < 19 THEN 'opus'
      |           ELSE 'mp3' END
      |    END AS codec,
      |    CASE WHEN o_orderkey % 89 = 0 THEN NULL
      |         WHEN o_orderkey % 113 = 0 THEN ''
      |         ELSE concat(o_orderpriority, ' order ', cast(o_orderkey AS VARCHAR), ' status ', o_orderstatus)
      |    END AS transcript,
      |    o_orderkey AS ord,
      |    o_orderkey % 32 AS bucket
      |  FROM orders
      |), refs AS (
      |  SELECT DISTINCT clip_id FROM clips WHERE ord % 131 <> 0
      |)""".stripMargin
}
