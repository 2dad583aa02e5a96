package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Native Column replacements for the reference's two Python UDFs.
  *
  * The reference runs both as pickled Python lambdas (`BatchEvalPython`),
  * which fences Catalyst optimization and whole-stage codegen. Here they are
  * pure Column expressions: codegen'd, push-down-transparent, and usable
  * inside any larger plan.
  */
object Functions {

  /** Native form of `udf_complete_year`
    * (reference: spark_jobs/playback_pipeline.py:151-158): a bare-year
    * release date ("1974", length 4) becomes "1974-12-31"; anything else
    * passes through unchanged — including NULL (the Python UDF would also
    * propagate None).
    */
  def completeYear(c: Column): Column =
    when(length(c) === 4, concat(c, lit("-12-31"))).otherwise(c)

  /** Native form of the curried UDF factory `udf_values_from_key(key)`
    * (reference: spark_jobs/playback_pipeline.py:139-148): pulls every value
    * of `"key":"..."` out of a JSON string and joins with ", " — the exact
    * separator Python's `str(list)` formatting produced at
    * playback_pipeline.py:142-143.
    *
    * The reference deliberately regexes over the JSON text rather than
    * parsing it; this keeps that observable behavior with
    * `regexp_extract_all` (codegen'd) instead of a Python closure. Only
    * `q_values_from_key` uses it: the clean zone projects artist names and
    * ids from the typed artist array, which a duplicated landing item cannot
    * double and an escaped quote cannot cut.
    */
  def valuesFromKey(c: Column, key: String): Column =
    array_join(
      regexp_extract_all(c, lit("\"" + key + "\":\"(.*?)\""), lit(1)),
      ", ")

  /** Numeric variant for JSON numbers, e.g. `{"k": 87}` in events.props. */
  def numbersFromKey(c: Column, key: String): Column =
    array_join(
      regexp_extract_all(c, lit("\"" + key + "\":\\s*(-?[0-9.]+)"), lit(1)),
      ", ")

  /** Duration conversions (reference: spark_jobs/playback_pipeline.py:219-220):
    * ms → seconds / minutes, rounded to 2 dp (Spark `round` = HALF_UP,
    * matching Python's builtin round usage there closely enough for the
    * integral-ms inputs the pipeline sees).
    */
  def durationSeconds(ms: Column): Column = round(ms / 1000d, 2)
  def durationMinutes(ms: Column): Column = round(ms / 60000d, 2)
}
