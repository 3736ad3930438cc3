package graft.omop.decorators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.core.Checkpoints
import graft.omop.OmopSchema

/**
 * Base of the patient-event decorator chain: each decorator enriches or
 * appends rows to the unified patient-event relation and must emit exactly
 * the 24-column contract.
 *
 * Reference: /root/reference/src/cehrbert_data/decorators/
 * patient_event_decorator_base.py:21-90. The optional persistence folder
 * reproduces `try_persist_data` — a parquet write+reload that truncates
 * lineage between decorators (SURVEY §4: at 100 TB the decorator chain
 * otherwise builds very deep plans whose branches are re-executed).
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

  /** Sets the six value columns of a synthetic token, which carries no
    * value: concept_value_mask 0, number_as_value 0.0f, concept_as_value
    * "0", is_numeric_type 0, and unit and event_group_id N/A. The ATT and
    * demographic decorators give their tokens these values only here. */
  protected def withoutValue(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "concept_value_mask" -> lit(0),
      "number_as_value" -> lit(0.0f),
      "concept_as_value" -> lit("0"),
      "is_numeric_type" -> lit(0),
      "unit" -> lit(OmopSchema.NA),
      "event_group_id" -> lit(OmopSchema.NA)))
}
