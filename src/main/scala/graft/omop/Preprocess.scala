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
  private def cdmRenames(name: String): Map[String, String] =
    if (name == OmopSchema.VisitOccurrence)
      Map("discharge_to_concept_id" -> "discharged_to_concept_id")
    else Map.empty

  def domainTable(spark: SparkSession, inputFolder: String, name: String,
                  withDiagnosisRollup: Boolean = false,
                  withDrugRollup: Boolean = true): DataFrame = {
    if (name.toLowerCase.contains("concept"))
      return spark.read.parquet(s"$inputFolder/$name")

    // opt-in person-bucketed layout (see materializeBucketedCdm): the
    // bucketed table stores exactly the normalized+renamed frame, so the
    // two paths are value-identical; rollups below are broadcast joins, so
    // the bucketed scan's HashPartitioning survives them into the
    // person-keyed join/window chain downstream
    var df = Tables.bucketedLayout(spark, name, inputFolder, "cdm").getOrElse(
      Tables.normalize(spark.read.parquet(s"$inputFolder/$name"),
        renames = cdmRenames(name)))

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

  /**
   * One-time layout pass for the opt-in person-bucketed CDM
   * ([[graft.core.Tables.BucketedLayoutConf]]): persist each person-keyed
   * table, normalized exactly as [[domainTable]] would, as a catalog table
   * bucketed on person_id. Every later [[domainTable]] read with the gate
   * on starts the events↔person join/window chain — the pipeline's
   * dominant repeated shuffle at 100× scale — from HashPartitioning(
   * person_id) instead of an exchange. Size `buckets` so one bucket ≈ one
   * comfortable task at the deployment's scale (see
   * [[graft.core.Bucketing]]).
   */
  def materializeBucketedCdm(spark: SparkSession, inputFolder: String,
                             tables: Seq[String], buckets: Int): Unit =
    tables.foreach { name =>
      require(!name.toLowerCase.contains("concept"),
        s"concept/vocabulary tables are broadcast dims — bucketing $name buys nothing")
      val df = Tables.normalize(spark.read.parquet(s"$inputFolder/$name"),
        renames = cdmRenames(name))
      require(df.columns.contains("person_id"),
        s"$name has no person_id column; the person-bucketed layout doesn't apply")
      Tables.materializeBucketed(df, name, inputFolder, "cdm", buckets, Seq("person_id"))
    }
}
