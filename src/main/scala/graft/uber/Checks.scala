package graft.uber

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality checks — the `dbt test` half of `dbt build` that the
  * reference declares but never populates (its `tests/` dir is an empty
  * placeholder and `sources.yml` carries no `tests:` blocks; dbt reports
  * "0 sources [tests]" — reference `Images/dbt_run_success.png`). Here
  * they are first-class pipeline stages: each check compiles to ONE
  * aggregate over the table (no collect of failing rows on the hot path —
  * at 100 TB the check must be as scan-shaped as the model it guards).
  *
  * Check kinds mirror dbt's built-in four: not_null, unique,
  * accepted_values, relationships (FK into a parent table).
  */
object Checks {

  final case class CheckResult(table: String, check: String, column: String,
      failures: Long) {
    def passed: Boolean = failures == 0L
  }

  def notNull(df: DataFrame, table: String, column: String): CheckResult =
    CheckResult(table, "not_null", column,
      df.filter(col(column).isNull).count())

  /** dbt's `unique`: NULL keys are not duplicates of each other — they
    * belong to `not_null`.
    */
  def unique(df: DataFrame, table: String, column: String): CheckResult =
    CheckResult(table, "unique", column,
      df.filter(col(column).isNotNull)
        .groupBy(col(column)).count().filter(col("count") > 1).count())

  def acceptedValues(df: DataFrame, table: String, column: String,
      values: Seq[String]): CheckResult =
    CheckResult(table, "accepted_values", column,
      df.filter(!col(column).isin(values: _*) && col(column).isNotNull).count())

  /** FK check: child values that do not resolve in the parent (a left-anti
    * join — the parent side broadcasts when it is a dim).
    */
  def relationship(child: DataFrame, childCol: String, parent: DataFrame,
      parentCol: String, table: String): CheckResult =
    CheckResult(table, "relationships", childCol,
      child.select(col(childCol)).filter(col(childCol).isNotNull)
        // alias the parent key: FK pairs often share a name and the raw
        // join condition would be ambiguous
        .join(parent.select(col(parentCol).as("__parent_key")),
          col(childCol) === col("__parent_key"), "left_anti")
        .count())

  /** Meta-envelope contract: every row CARRIES an `_airbyte_meta` that
    * parses against the declared schema AND reports no sync errors. A
    * missing envelope (NULL column) fails outright — it is strictly worse
    * than a malformed one; a malformed envelope shows up as a NULL
    * `errors` field after the typed parse (from_json is PERMISSIVE: bad
    * JSON → null fields, not a null struct); a sync problem as a
    * non-empty one. One scan-shaped aggregate counts all three.
    */
  def metaEnvelopeClean(df: DataFrame, table: String): CheckResult = {
    val typed = Ingest.typedAirbyteMeta(df)
    CheckResult(table, "meta_envelope_clean", "_airbyte_meta",
      typed.filter(
        col("_airbyte_meta").isNull ||
        col("_airbyte_meta_typed.errors").isNull ||
        size(col("_airbyte_meta_typed.errors")) > 0).count())
  }

  /** The reference schema's implicit contract (DDL PKs + FKs,
    * `Diary of Making.md:64-68`), expressed as the checks dbt never wrote.
    */
  def sourceChecks(spark: SparkSession): Seq[CheckResult] = {
    val zone = spark.table("taxi_zone_lookup")
    val base = spark.table("base_num_and_name")
    val raw = spark.table("raw_data_janjune_15")
    Seq(
      notNull(zone, "taxi_zone_lookup", "locationid"),
      unique(zone, "taxi_zone_lookup", "locationid"),
      notNull(base, "base_num_and_name", "base_num"),
      unique(base, "base_num_and_name", "base_num"),
      notNull(raw, "raw_data_janjune_15", "dispatching_base_num"),
      relationship(raw, "dispatching_base_num", base, "base_num",
        "raw_data_janjune_15"),
      relationship(raw, "locationid", zone, "locationid",
        "raw_data_janjune_15"),
      metaEnvelopeClean(raw, "raw_data_janjune_15"))
  }
}
