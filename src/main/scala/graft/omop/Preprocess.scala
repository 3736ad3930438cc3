package graft.omop

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.TimestampType

import graft.core.{Checkpoints, Tables}

/**
 * Table-level normalization: lowercase columns, convention-cast date/datetime
 * columns, CDM 5.2→5.3 rename, optional vocabulary rollups.
 *
 * Reference: /root/reference/src/cehrbert_data/utils/spark_utils.py:240-296.
 */
object Preprocess {

  /** A person row's birth timestamp: `birth_datetime`, else January 1 of
    * `year_of_birth`. */
  val birthDatetime: Column = F.coalesce(col("birth_datetime"),
    F.concat(col("year_of_birth"), lit("-01-01")).cast(TimestampType))

  /** Full `preprocess_domain_table` semantics: concept tables pass through
    * untouched; visit_occurrence gets the CDM 5.2→5.3 rename; drug/condition/
    * procedure tables get optional rollups when vocabulary tables exist. */
  def domainTable(spark: SparkSession, inputFolder: String, name: String,
                  withDiagnosisRollup: Boolean = false,
                  withDrugRollup: Boolean = true): DataFrame = {
    if (name.toLowerCase.contains("concept"))
      return spark.read.parquet(s"$inputFolder/$name")

    val renames =
      if (name == OmopSchema.VisitOccurrence)
        Map("discharge_to_concept_id" -> "discharged_to_concept_id")
      else Map.empty[String, String]
    var df = Tables.normalize(spark.read.parquet(s"$inputFolder/$name"), renames)

    def exists(t: String): Boolean = Checkpoints.exists(spark, s"$inputFolder/$t")

    if (withDrugRollup && name == OmopSchema.DrugExposure &&
        exists(OmopSchema.Concept) && exists(OmopSchema.ConceptAncestor)) {
      df = Vocab.rollUpToDrugIngredients(df,
        spark.read.parquet(s"$inputFolder/${OmopSchema.Concept}"),
        spark.read.parquet(s"$inputFolder/${OmopSchema.ConceptAncestor}"))
    }
    if (withDiagnosisRollup) {
      if (name == OmopSchema.ConditionOccurrence &&
          exists(OmopSchema.Concept) && exists(OmopSchema.ConceptRelationship)) {
        df = Vocab.rollUpDiagnosis(df,
          spark.read.parquet(s"$inputFolder/${OmopSchema.Concept}"),
          spark.read.parquet(s"$inputFolder/${OmopSchema.ConceptRelationship}"))
      }
      if (name == OmopSchema.ProcedureOccurrence &&
          exists(OmopSchema.Concept) && exists(OmopSchema.ConceptAncestor)) {
        df = Vocab.rollUpProcedure(df,
          spark.read.parquet(s"$inputFolder/${OmopSchema.Concept}"),
          spark.read.parquet(s"$inputFolder/${OmopSchema.ConceptAncestor}"))
      }
    }
    df
  }
}
