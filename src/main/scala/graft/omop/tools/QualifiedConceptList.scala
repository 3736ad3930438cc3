package graft.omop.tools

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions.col

import graft.omop.{Events, OmopSchema, Preprocess}

/**
 * Qualified-concept list: concepts linked to at least `minNumOfPatients`
 * distinct patients across the requested domains (low-frequency concept
 * filter used by training-data and cohort feature extraction).
 *
 * Reference: /root/reference/src/cehrbert_data/apps/
 * generate_included_concept_list.py:60-95 (SURVEY §2.4 A6).
 *
 * Scale: one shuffle on standard_concept_id for the countDistinct; the
 * result is vocabulary-sized and is broadcast at its join sites.
 */
object QualifiedConceptList {

  val DefaultDomainTables: Seq[String] = Seq(
    OmopSchema.ConditionOccurrence, OmopSchema.ProcedureOccurrence,
    OmopSchema.DrugExposure, OmopSchema.Measurement)

  def build(spark: SparkSession, inputFolder: String,
            minNumOfPatients: Int = 100,
            domainTableList: Seq[String] = DefaultDomainTables,
            withDrugRollup: Boolean = true): DataFrame = {
    val concept = Preprocess.domainTable(spark, inputFolder, OmopSchema.Concept)
    val events = domainTableList.map { name =>
      Events.extractEventsByDomain(
        Preprocess.domainTable(spark, inputFolder, name, withDrugRollup = withDrugRollup),
        concept = Some(concept),
        persistence = Some(inputFolder))
    }.reduce(_.unionByName(_))

    events.where(col("visit_occurrence_id").isNotNull)
      .groupBy("standard_concept_id")
      .agg(F.countDistinct("person_id").as("freq"))
      .where(col("freq") >= minNumOfPatients)
  }

  def run(spark: SparkSession, inputFolder: String, outputFolder: String,
          minNumOfPatients: Int = 100,
          domainTableList: Seq[String] = DefaultDomainTables): Unit =
    build(spark, inputFolder, minNumOfPatients, domainTableList)
      .write.mode("overwrite").parquet(s"$outputFolder/qualified_concept_list")
}

/**
 * S13: localize MEDS `prediction_time` from UTC to a target timezone.
 * The reference does this as a per-file pandas rewrite
 * (tools/convert_prediction_time_to_local.py:11-32); distributed here as a
 * plain column rewrite over the whole dataset — no driver loop.
 */
object ConvertPredictionTimeToLocal {
  def apply(df: org.apache.spark.sql.DataFrame, timezone: String,
            timeColumn: String = "prediction_time"): org.apache.spark.sql.DataFrame =
    df.withColumn(timeColumn,
      org.apache.spark.sql.functions.from_utc_timestamp(
        org.apache.spark.sql.functions.col(timeColumn), timezone))

  def run(spark: SparkSession, inputFolder: String, outputFolder: String,
          timezone: String): Unit =
    apply(spark.read.parquet(inputFolder), timezone)
      .write.mode("overwrite").parquet(outputFolder)
}
