package graft.omop.decorators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions.{col, lit}

import graft.core.Checkpoints
import graft.omop.OmopSchema

/**
 * Base of the patient-event decorator chain: each decorator enriches or
 * appends rows to the unified patient-event relation and must emit exactly
 * the 24-column contract.
 *
 * Reference: /root/reference/src/cehrbert_data/decorators/
 * patient_event_decorator_base.py:21-90. The reference keeps the chain's
 * plan shallow with `try_persist_data`, a parquet write+reload after each
 * branch, because its decorators read their input in several branches and
 * each branch re-executes the plan above it (SURVEY §4). Here each decorator
 * is one linear pipeline over its input: at most one join to its side table
 * (visits, demographics or death), windows keyed on cohort_member_id plus
 * other keys, and one `explode` ([[emit]]) that yields each row together
 * with the synthetic tokens anchored on it. Nothing re-reads the input, so
 * the optional persistence folder is one barrier per decorator at most.
 */
trait PatientEventDecorator {

  /** Persistence folder for lineage-truncation checkpoints (None = pure plan). */
  def persistenceFolder: Option[String]

  def name: String

  protected def decorateImpl(patientEvents: DataFrame): DataFrame

  final def decorate(patientEvents: DataFrame): DataFrame = {
    val out = decorateImpl(patientEvents)
    OmopSchema.validateEvents(out, name)
    out
  }

  protected def tryPersist(df: DataFrame, sub: String): DataFrame =
    Checkpoints.lineageBarrier(df, persistenceFolder, s"$name/$sub")

  /** One output row as a struct of the event `columns`: each one as the
    * current row has it, unless `fields` sets it. */
  protected def row(columns: Seq[String], fields: Map[String, Column] = Map.empty): Column =
    F.struct(columns.map(c => fields.getOrElse(c, col(c)).as(c)): _*)

  /** Every row that `rows` builds from each row of `df`, in one explode (a
    * null entry emits nothing). Every emitted row keeps its anchor's `keys`
    * outside the explode, so the stream stays partitioned on them. */
  protected def emit(df: DataFrame, keys: Seq[String], rows: Seq[Column]): DataFrame =
    df.select(keys.map(col) :+ F.explode(F.array(rows: _*)).as("row"): _*)
      .where(col("row").isNotNull)
      .select(keys.map(col) :+ col("row.*"): _*)

  /** The six value columns of a synthetic token, which carries no value:
    * concept_value_mask 0, number_as_value 0.0f, concept_as_value "0",
    * is_numeric_type 0, and unit and event_group_id N/A. The ATT and
    * demographic decorators give their tokens these values only here. */
  protected val withoutValue: Map[String, Column] = Map(
    "concept_value_mask" -> lit(0),
    "number_as_value" -> lit(0.0f),
    "concept_as_value" -> lit("0"),
    "is_numeric_type" -> lit(0),
    "unit" -> lit(OmopSchema.NA),
    "event_group_id" -> lit(OmopSchema.NA))
}
