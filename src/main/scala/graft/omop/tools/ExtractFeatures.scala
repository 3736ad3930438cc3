package graft.omop.tools

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

import graft.core.Checkpoints
import graft.functions.TimeTokens.AttType
import graft.omop.{ArtificialVisits, Events, OmopSchema, Preprocess, Sequences}

/**
 * Feature extraction for externally defined cohorts: labels arrive as CSV or
 * parquet (person, index datetime, label), and the tool produces per-member
 * token sequences (or concept frequencies) bounded by hold-off/observation
 * windows, with demographics and labels attached and split-aware output.
 *
 * Reference: /root/reference/src/cehrbert_data/tools/extract_features.py:63-335
 * (lifecycle traced in SURVEY §3.3). Semantics preserved: global row_number
 * cohort_member_id over (person_id, index_date) with a materialization
 * barrier; `index_date − hold_off` shifting before the window filter; the
 * synthetic "concept/0" row for members with no features; the EHRShot
 * visit_concept_id==1→0 rule; artificial-visit construction + age refresh.
 */
object ExtractFeatures {

  sealed trait PredictionType
  object PredictionType {
    case object Binary extends PredictionType
    case object Regression extends PredictionType
  }

  final case class Config(
      cohortDir: String,
      cohortName: String,
      inputFolder: String,
      outputFolder: String,
      ehrTableList: Seq[String],
      personIdColumn: String = "person_id",
      indexDateColumn: String = "index_date",
      labelColumn: String = "label",
      predictionType: PredictionType = PredictionType.Binary,
      observationWindow: Int = 0,
      holdOffWindow: Int = 0,
      includeVisitType: Boolean = true,
      excludeVisitTokens: Boolean = false,
      isRollUpConcept: Boolean = false,
      isDrugRollUpConcept: Boolean = true,
      qualifiedConceptList: Option[DataFrame] = None,
      refreshMeasurement: Boolean = false,
      aggregateByHour: Boolean = false,
      isNewPatientRepresentation: Boolean = true,
      isFeatureConceptFrequency: Boolean = false,
      gptPatientSequence: Boolean = false,
      attType: AttType = AttType.CehrBert,
      inpatientAttType: AttType = AttType.Mix,
      includeInpatientHourToken: Boolean = false,
      excludeDemographic: Boolean = true,
      useAgeGroup: Boolean = false,
      keepSamplesWithNoFeatures: Boolean = false,
      shouldConstructArtificialVisits: Boolean = false,
      duplicateRecords: Boolean = false,
      disconnectProblemListRecords: Boolean = false,
      patientSplitsFolder: Option[String] = None,
      cacheEvents: Boolean = false)

  /** CSV (header + inferSchema) or recursive-glob parquet cohort scan
    * (extract_features.py:76-91; SURVEY §2.1 S8/S9). */
  def readCohort(spark: SparkSession, cfg: Config): DataFrame = {
    val isParquet = Checkpoints.status(spark, cfg.cohortDir).exists(_.isDirectory) ||
      cfg.cohortDir.toLowerCase.endsWith(".parquet")
    val raw =
      if (isParquet)
        spark.read.option("recursiveFileLookup", "true").parquet(cfg.cohortDir)
      else
        spark.read.option("header", "true").option("inferSchema", "true").csv(cfg.cohortDir)

    val labelType: DataType = cfg.predictionType match {
      case PredictionType.Regression => FloatType
      case PredictionType.Binary => IntegerType
    }
    raw
      .withColumnRenamed(cfg.personIdColumn, "person_id")
      .withColumnRenamed(cfg.indexDateColumn, "index_date")
      .withColumnRenamed(cfg.labelColumn, "label")
      .withColumn("index_date", col("index_date").cast(TimestampType))
      .select("person_id", "index_date", "label")
      .withColumn("label", col("label").cast(labelType))
      // cohort tables are label-sized, so the reference's global row_number
      // stays — but through the named single-partition allocator, so the
      // choice (and its scale ceiling) is explicit; int to match upstream
      .transform(d => graft.operators.IdAllocator.sequentialIdSinglePartition(
        d, Seq(col("person_id"), col("index_date")), "cohort_member_id"))
      .withColumn("cohort_member_id", col("cohort_member_id").cast(IntegerType))
  }

  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val cohortFolder = s"${cfg.outputFolder}/${cfg.cohortName}"

    // barrier: the global row_number must be stable before reuse
    val cohort = Checkpoints.persist(readCohort(spark, cfg), cohortFolder, "cohort")

    val person = Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.Person)
    val patientDemographic = person.select(col("person_id"),
      Preprocess.birthDatetime.as("birth_datetime"), col("race_concept_id"), col("gender_concept_id"))

    var ehrRecords = Events.extractEhrRecords(spark, cfg.inputFolder, cfg.ehrTableList,
      includeVisitType = cfg.includeVisitType,
      withDiagnosisRollup = cfg.isRollUpConcept,
      withDrugRollup = cfg.isDrugRollUpConcept,
      qualifiedConceptList = cfg.qualifiedConceptList,
      refreshMeasurement = cfg.refreshMeasurement,
      aggregateByHour = cfg.aggregateByHour,
      keepOrphanRecords = cfg.shouldConstructArtificialVisits)

    val ehrDatetime = ehrRecords("datetime")
    ehrRecords = cohort.select("person_id", "cohort_member_id", "index_date")
      .join(ehrRecords, "person_id")
      .withColumn("index_date", F.expr(s"index_date - INTERVAL ${cfg.holdOffWindow} DAYS"))
      .where(ehrDatetime <= cohort("index_date"))

    if (cfg.observationWindow > 0)
      ehrRecords = ehrRecords.where(
        ehrDatetime >= F.expr(s"index_date - INTERVAL ${cfg.observationWindow} DAYS"))

    if (cfg.cacheEvents)
      ehrRecords = Checkpoints.persist(ehrRecords, cohortFolder, "ehr_records")

    if (cfg.keepSamplesWithNoFeatures) {
      val membersWithRecords = ehrRecords.select("cohort_member_id").distinct()
        .withColumn("__has_records", lit(1))
      val samplesNoRecords = cohort
        .join(membersWithRecords, Seq("cohort_member_id"), "left_outer")
        .where(col("__has_records").isNull)
        .select(
          col("person_id"),
          col("cohort_member_id"),
          col("index_date"),
          lit("concept/0").as("standard_concept_id"),
          F.to_date(col("index_date")).as("date"),
          F.expr("index_date - INTERVAL 1 DAY").as("datetime"),
          lit(null).cast(IntegerType).as("visit_occurrence_id"),
          lit("unknown").as("domain"),
          lit(OmopSchema.NA).as("unit"),
          lit(null).cast(FloatType).as("number_as_value"),
          lit(null).cast(StringType).as("concept_as_value"),
          lit(null).cast(StringType).as("event_group_id"),
          lit(0).cast(IntegerType).as("visit_concept_id"))
        .join(patientDemographic.select("person_id", "birth_datetime"), "person_id")
        .withColumn("age",
          (F.datediff(col("datetime"), col("birth_datetime")) / 365).cast(IntegerType))
        .drop("birth_datetime")
      ehrRecords = ehrRecords.unionByName(samplesNoRecords)
    }

    var visitOccurrence = Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.VisitOccurrence)
      // EHRShot-specific rule: visit_concept_id 1 means "unknown"
      .withColumn("visit_concept_id",
        when(col("visit_concept_id") === 1, 0).otherwise(col("visit_concept_id")))

    if (cfg.shouldConstructArtificialVisits) {
      val result = ArtificialVisits.construct(ehrRecords, visitOccurrence,
        persistenceFolder = Some(cohortFolder),
        duplicateRecords = cfg.duplicateRecords,
        disconnectProblemListRecords = cfg.disconnectProblemListRecords)
      visitOccurrence = result.visitOccurrence
      ehrRecords = result.patientEvents
        .join(patientDemographic.select("person_id", "birth_datetime"), "person_id")
        .join(visitOccurrence.select("visit_occurrence_id", "visit_start_date"), "visit_occurrence_id")
        .withColumn("age", Sequences.ageAt(col("visit_start_date"), col("birth_datetime")))
        .drop("visit_start_date", "birth_datetime")
    }

    visitOccurrence = visitOccurrence
      .withColumn("visit_start_date", col("visit_start_date").cast(DateType))
      .withColumn("visit_end_date",
        F.coalesce(col("visit_end_date"), col("visit_start_date")).cast(DateType))
      .withColumn("visit_start_datetime", col("visit_start_datetime").cast(TimestampType))
      .withColumn("visit_end_datetime",
        F.coalesce(col("visit_end_datetime"), col("visit_end_date").cast(TimestampType),
          col("visit_start_datetime")).cast(TimestampType))

    val visitOccurrencePerson = visitOccurrence
      .join(patientDemographic, "person_id")
      .withColumn("age", Sequences.ageAt(col("visit_start_date"), col("birth_datetime")))
      .drop("birth_datetime")

    val features =
      if (cfg.isNewPatientRepresentation)
        Sequences.createSequenceDataWithAtt(
          ehrRecords.drop("index_date"),
          visitOccurrencePerson,
          includeVisitType = cfg.includeVisitType,
          excludeVisitTokens = cfg.excludeVisitTokens,
          patientDemographic = if (cfg.gptPatientSequence) Some(patientDemographic) else None,
          attType = cfg.attType,
          inpatientAttType = cfg.inpatientAttType,
          excludeDemographic = cfg.excludeDemographic,
          useAgeGroup = cfg.useAgeGroup,
          includeInpatientHourToken = cfg.includeInpatientHourToken,
          cohortIndex = Some(cohort.select("person_id", "cohort_member_id", "index_date")),
          persistenceFolder = Some(cohortFolder))
      else if (cfg.isFeatureConceptFrequency)
        Sequences.createConceptFrequencyData(ehrRecords)
      else throw new IllegalArgumentException(
        "use isNewPatientRepresentation or isFeatureConceptFrequency")

    val cohortWithDemo = cohort
      .join(person.select(col("person_id"), col("year_of_birth"),
        F.coalesce(col("race_concept_id"), lit(0)).cast(IntegerType).as("race_concept_id"),
        col("gender_concept_id")), "person_id")
      .withColumn("age", F.year(col("index_date")) - col("year_of_birth"))
      .drop("year_of_birth")

    val featureCols = features.columns
    val labeled = features.alias("ehr")
      .join(cohortWithDemo.alias("cohort"),
        col("ehr.person_id") === col("cohort.person_id") &&
          col("ehr.cohort_member_id") === col("cohort.cohort_member_id"))
      .select(featureCols.map(c => col(s"ehr.$c").as(c)).toSeq ++ Seq(
        col("cohort.age").as("age"),
        col("cohort.race_concept_id").as("race_concept_id"),
        col("cohort.gender_concept_id").as("gender_concept_id"),
        col("cohort.index_date").as("index_date"),
        col("cohort.label").as("label")): _*)

    cfg.patientSplitsFolder match {
      case Some(splitsFolder) =>
        Checkpoints.writeSplits(
          labeled.join(spark.read.parquet(splitsFolder), "person_id"), cohortFolder)
      case None =>
        labeled.write.mode("overwrite").parquet(s"$cohortFolder/task_labels")
    }
    labeled
  }
}
