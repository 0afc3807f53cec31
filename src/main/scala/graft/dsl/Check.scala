package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}

/** The declarative check DSL — the engine's analogue of the reference's
  * JSON-Schema guidance (schema_repair.py:91-121): a `Check` declares WHAT
  * must hold; the compiler (graft.compile.CheckCompiler) turns it into
  * Catalyst `Column` expressions so Catalyst/Tungsten pick the physical plan.
  *
  * Row-level checks compile to a single narrow projection (no shuffle);
  * dataset-level checks ([[Unique]], [[RefIntegrity]]) compile to a hash
  * aggregate on the key / a presence left join against the ref keys.
  * Their NULL semantics are stated once, in CheckCompiler's scaladoc.
  */
sealed trait Check {
  /** Stable name recorded in violation rows (the reference's repair-log
    * `context` analogue, json_parser.py:338-348). */
  def name: String
  /** Column under test (for the violation record). */
  def column: String
}

/** Row-level check: fails where `failWhen` is true. */
sealed trait RowCheck extends Check {
  /** Predicate over the input row: TRUE means the row violates the check. */
  def failWhen: Column
  /** Detail string recorded in the violation row (what the reference logs as
    * the ±10-char context snippet). */
  def detail: Column
}

/** NOT NULL — reference: required-property enforcement (parse_object.py:22-24). */
final case class NotNull(column: String)(implicit c: String => Column) extends RowCheck {
  val name = s"not_null_$column"
  def failWhen: Column = c(column).isNull
  def detail: Column = org.apache.spark.sql.functions.lit("null")
}

/** Non-empty string — reference: empty object value (parse_object.py:281-287). */
final case class NotEmpty(column: String)(implicit c: String => Column) extends RowCheck {
  val name = s"not_empty_$column"
  def failWhen: Column = c(column).isNotNull && (c(column) === "")
  def detail: Column = org.apache.spark.sql.functions.lit("empty")
}

/** Closed numeric range — reference: number-shape tolerance (parse_number.py:13-38)
  * specialised to the clip metadata domain. */
final case class InRange(column: String, lo: Long, hi: Long)(implicit c: String => Column) extends RowCheck {
  val name = s"in_range_$column"
  def failWhen: Column = c(column).isNotNull && (c(column) < lo || c(column) > hi)
  def detail: Column = c(column).cast("string")
}

/** Enum membership — reference `_apply_enum_const` (schema_repair.py:705-710). */
final case class EnumIn(column: String, values: Seq[String])(implicit c: String => Column) extends RowCheck {
  val name = s"enum_$column"
  def failWhen: Column = c(column).isNotNull && !c(column).isin(values: _*)
  def detail: Column = c(column)
}

/** Regex shape check — reference string-shape heuristics, declaratively. */
final case class Matches(column: String, regex: String)(implicit c: String => Column) extends RowCheck {
  val name = s"matches_$column"
  def failWhen: Column = c(column).isNotNull && !c(column).rlike(regex)
  def detail: Column = c(column)
}

/** Castability — reference scalar coercion `_coerce_scalar` (schema_repair.py:631-703):
  * a value that `try_cast` cannot coerce to `toType` is a violation. */
final case class Castable(column: String, toType: String)(implicit c: String => Column) extends RowCheck {
  val name = s"castable_${column}_$toType"
  def failWhen: Column =
    c(column).isNotNull && c(column).try_cast(toType).isNull
  def detail: Column = c(column).cast("string")
}

/** Escape hatch for arbitrary row predicates (e.g. the audio SNR invariant). */
final case class RowExpr(name: String, column: String, failWhen: Column, detail: Column)
    extends RowCheck

/** Key uniqueness — reference duplicate-key handling (parse_object.py:211-224):
  * compiles to a hash aggregate on the key (partial/map-side combine free from
  * Catalyst; AQE splits skewed keys). */
final case class Unique(column: String) extends Check {
  val name = s"unique_$column"
}

/** Referential integrity key→refTable — reference required-property semantics
  * lifted to dataset level; compiles to a presence LEFT join against the
  * distinct ref keys (broadcast when the ref side is small, sort-merge
  * otherwise — Catalyst + AQE decide). */
final case class RefIntegrity(column: String, refName: String) extends Check {
  val name = s"ref_${column}_$refName"
}

object Check {
  /** Implicit column resolver so the case classes above can be written with
    * bare column names. */
  implicit val colResolver: String => Column = org.apache.spark.sql.functions.col
}

/** A named bundle of checks over one table — the engine's `CheckSuite`.
  * `refs` supplies the lookup side for each [[RefIntegrity]] by name. */
final case class CheckSuite(
    keyColumn: String,
    bucketColumn: String,
    checks: Seq[Check],
    refs: Map[String, DataFrame] = Map.empty) {
  require(checks.map(_.name).distinct.size == checks.size,
    s"check names must be distinct, they key the violation rows: ${checks.map(_.name)}")
  def rowChecks: Seq[RowCheck] = checks.collect { case r: RowCheck => r }
  def uniqueChecks: Seq[Unique] = checks.collect { case u: Unique => u }
  def refChecks: Seq[RefIntegrity] = checks.collect { case r: RefIntegrity => r }
}
