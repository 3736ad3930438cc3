package graft.omop.cohort

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.col

import graft.core.Checkpoints
import graft.functions.TimeTokens.AttType
import graft.omop.{ArtificialVisits, Events, OmopSchema, Preprocess, Sequences}

/**
 * Target×outcome labeling and feature extraction: register target/outcome
 * cohorts, apply exclusion rewrites (first-time outcome, questionable
 * outcome, index-window exclusion), label via the prediction-window left
 * join, assign cohort_member_id, dedup, optionally restrict to a single
 * contribution per patient, then either filter to patients with EHR records
 * or extract observation-window features (sequences / concept frequencies),
 * compute time_to_event, optionally rename to MEDS, and write splits.
 *
 * Reference: /root/reference/src/cehrbert_data/cohorts/spark_app_base.py:276-791.
 * SQL templates execute through spark.sql on global temp views — identical
 * dialect semantics (ISNOTNULL, INTERVAL literals), per SURVEY §7.4 item 8.
 *
 * Scale hazards carried + mitigated: the global dense_rank for
 * cohort_member_id is the reference's own single-partition window over
 * cohort-sized data (rows ≪ events); every other window partitions by person.
 *
 * With `cacheEvents`, two lineage barriers join the decorators' checkpoints
 * under the cohort folder: `cohort_members` (the labeled cohort after the
 * positives-first safeguard and the single-contribution step) and
 * `cohort_ehr_records` (the observation-window events per member, before
 * feature assembly). `cohort_member_id` comes from the RDD-backed
 * [[graft.operators.IdAllocator.denseKeyId]], which no plan can reuse, so
 * without the cut every consumer of the cohort (the feature join, the
 * cohort index the decorators read, the final join and the split sink)
 * re-runs the labeling SQL, the range-partition sample and the sort.
 *
 * The features join the records to the cohort once, not twice (see
 * [[extractEhrRecordsForCohort]]), and read no numeric-event cache (see
 * [[graft.omop.Events]]).
 */
final class NestedCohortBuilder(cfg: NestedCohortBuilder.Config) {
  import NestedCohortBuilder._

  private val outputDataFolder = BaseCohortBuilder.cohortFolder(cfg.outputFolder, cfg.cohortName)
  private val cacheFolder = if (cfg.cacheEvents) Some(outputDataFolder) else None

  def build(spark: SparkSession, targetCohortIn: DataFrame, outcomeCohort: DataFrame): DataFrame = {
    // dependencies for observation_period / person / visit_occurrence
    val dependencies = BaseCohortBuilder.registerDependencies(spark, cfg.inputFolder,
      BaseCohortBuilder.DefaultDependency)

    targetCohortIn.createOrReplaceGlobalTempView("target_cohort")
    outcomeCohort.createOrReplaceGlobalTempView("outcome_cohort")

    if (cfg.isFirstTimeOutcome) {
      spark.sql(firstTimeOutcomeSql("global_temp.target_cohort",
          s"global_temp.${QueryBuilder.EntryCohort}", cfg.predictionStartDays))
        .createOrReplaceGlobalTempView("target_cohort")
    }

    if (cfg.isQuestionableOutcomeExisted) {
      spark.sql(questionableOutcomeSql("global_temp.target_cohort",
          s"global_temp.${QueryBuilder.NegativeCohort}"))
        .createOrReplaceGlobalTempView("target_cohort")
    }

    if (cfg.isRemoveIndexPredictionStarts) {
      spark.sql(removeIndexPredictionStartsSql("global_temp.target_cohort",
          "global_temp.outcome_cohort", cfg.predictionStartDays))
        .createOrReplaceGlobalTempView("target_cohort")
    }

    val labelingSql =
      if (cfg.isPredictionWindowUnbounded)
        unboundedLabelingSql("global_temp.target_cohort",
          "global_temp.outcome_cohort", cfg.predictionStartDays)
      else
        boundedLabelingSql("global_temp.target_cohort", "global_temp.outcome_cohort",
          "global_temp.observation_period", cfg.predictionStartDays, cfg.predictionWindow)

    // dense_rank over the member triple in the reference — same id values
    // (one per distinct triple, in sort order) from the parallel dense-key
    // allocator, without the single-partition global window. The member
    // keys are broadcast so the labeled rows keep one order from run to
    // run: the safeguard below keeps the first of rows that tie on label.
    var cohort = graft.operators.IdAllocator.denseKeyId(
        spark.sql(labelingSql),
        Seq("person_id", "index_date", "visit_occurrence_id"), "cohort_member_id",
        broadcastKeys = true)
      .withColumn("cohort_member_id", col("cohort_member_id").cast("int"))

    // safeguard: one record per (person, member, index_date), positives first
    cohort = cohort
      .withColumn("row_rank",
        F.row_number().over(Window.partitionBy("person_id", "cohort_member_id", "index_date")
          .orderBy(F.desc("label"))))
      .where(col("row_rank") === 1).drop("row_rank")

    if (cfg.singleContribution) {
      cohort = cohort
        .withColumn("record_rank",
          F.row_number().over(Window.partitionBy("person_id")
            .orderBy(F.desc("label"), F.desc("index_date"))))
        .where(col("record_rank") === 1).drop("record_rank")
    }
    cohort = Checkpoints.lineageBarrier(cohort, cacheFolder, "cohort_members")

    cohort =
      if (cfg.excludeFeatures) filterCohortWithEhrRecords(spark, cohort)
      else {
        val features = extractEhrRecordsForCohort(spark, cohort, dependencies)
        cohort.join(features, Seq("person_id", "cohort_member_id"))
          .where(col("num_of_visits") >= cfg.numOfVisits)
          .where(col("num_of_concepts") >= cfg.numOfConcepts)
      }

    var personIdColumn = "person_id"
    var indexDateColumn = "index_date"
    if (cfg.medsFormat) {
      cohort = cohort
        .withColumnRenamed("person_id", "subject_id")
        .withColumnRenamed("index_date", "prediction_time")
        .withColumnRenamed("label", "boolean_value")
        .withColumn("prediction_time", F.to_timestamp(col("prediction_time")))
        .withColumn("boolean_value", col("boolean_value").cast("boolean"))
      personIdColumn = "subject_id"
      indexDateColumn = "prediction_time"
    }

    cohort =
      if (cfg.isPredictionWindowUnbounded) {
        val op = dependencies("observation_period")
        val cohortCols = cohort.columns.map(cohort(_)).toSeq
        cohort.join(op.select("person_id", "observation_period_end_date"),
            cohort(personIdColumn) === op("person_id"))
          .select(cohortCols :+ op("observation_period_end_date"): _*)
          .withColumn("study_end_date",
            F.coalesce(col("outcome_date"), col("observation_period_end_date")))
          .drop("observation_period_end_date")
      } else {
        cohort.withColumn("study_end_date",
          F.coalesce(col("outcome_date"),
            F.expr(s"$indexDateColumn + INTERVAL ${cfg.predictionWindow} DAYS")))
      }
    cohort = cohort.withColumn("time_to_event", F.datediff(col("study_end_date"), col(indexDateColumn)))

    // split-aware sink (spark_app_base.py:586-607)
    cfg.patientSplitsFolder match {
      case Some(splitsFolder) =>
        val splits = spark.read.parquet(splitsFolder)
        val cohortCols = cohort.columns
        val tagged = cohort.alias("cohort")
          .join(splits.alias("split"), col(s"cohort.$personIdColumn") === col("split.person_id"))
          .select(cohortCols.map(c => col(s"cohort.$c").as(c)).toSeq :+
            col("split.split").as("split"): _*)
          .orderBy(personIdColumn, indexDateColumn)
        Checkpoints.writeSplits(tagged, outputDataFolder)
      case None =>
        cohort.orderBy(personIdColumn, indexDateColumn)
          .write.mode("overwrite").parquet(s"$outputDataFolder/data")
    }
    cohort
  }

  /** Observation/hold-off window filter on event datetimes
    * (spark_app_base.py:610-632; note the `+ INTERVAL 0.1 SECOND` inclusive
    * upper bound). */
  private def ehrRecordFilter(): org.apache.spark.sql.Column = {
    val upper = F.expr(
      s"cohort.index_date - INTERVAL ${cfg.holdOffWindow} DAYS + INTERVAL 0.1 SECOND")
    if (cfg.isPopulationEstimation) {
      if (cfg.isPredictionWindowUnbounded) col("ehr.datetime") <= F.current_timestamp()
      else col("ehr.datetime") <= upper
    } else if (cfg.isObservationWindowUnbounded) {
      col("ehr.datetime") <= upper
    } else {
      col("ehr.datetime").between(
        F.expr(s"cohort.index_date - INTERVAL ${cfg.observationWindow + cfg.holdOffWindow} DAYS"),
        upper)
    }
  }

  private def extractRecords(spark: SparkSession): DataFrame =
    Events.extractEhrRecords(spark, cfg.inputFolder, cfg.ehrTableList,
      includeVisitType = cfg.includeVisitType,
      withDiagnosisRollup = cfg.isRollUpConcept,
      withDrugRollup = cfg.isDrugRollUpConcept,
      qualifiedConceptList = cfg.qualifiedConceptList,
      aggregateByHour = cfg.aggregateByHour,
      keepOrphanRecords = cfg.shouldConstructArtificialVisits)

  /** Drop cohort rows with no EHR record in the window (spark_app_base.py:634-658). */
  def filterCohortWithEhrRecords(spark: SparkSession, cohort: DataFrame): DataFrame = {
    val ehr = extractRecords(spark)
    val cohortCols = cohort.schema.fieldNames
    cohort.alias("cohort")
      .join(ehr.select("person_id", "datetime").distinct().alias("ehr"),
        col("ehr.person_id") === col("cohort.person_id"))
      .where(ehrRecordFilter())
      .select(cohortCols.map(c => col(s"cohort.$c").as(c)).toSeq: _*)
      .distinct()
  }

  /** Observation-window features for the cohort: sequences, frequencies
    * (spark_app_base.py:660-787). */
  def extractEhrRecordsForCohort(spark: SparkSession, cohort: DataFrame,
                                 dependencies: Map[String, DataFrame]): DataFrame = {
    var ehrRecords = extractRecords(spark)
    var visitOccurrence = dependencies("visit_occurrence")

    if (cfg.shouldConstructArtificialVisits) {
      val person = dependencies("person")
      val demographic = person.select(col("person_id"), Preprocess.birthDatetime.as("birth_datetime"))
      val result = ArtificialVisits.construct(ehrRecords, visitOccurrence,
        duplicateRecords = cfg.duplicateRecords,
        disconnectProblemListRecords = cfg.disconnectProblemListRecords)
      visitOccurrence = result.visitOccurrence
      ehrRecords = result.patientEvents
        .join(demographic, "person_id")
        .join(visitOccurrence.select("visit_occurrence_id", "visit_start_date"), "visit_occurrence_id")
        .withColumn("age", Sequences.ageAt(col("visit_start_date"), col("birth_datetime")))
        .drop("visit_start_date", "birth_datetime")
    }

    // duplicate records per cohort entry, bounded to the observation window,
    // in one join. The cohort holds one row per cohort_member_id: the ids are
    // dense over (person_id, index_date, visit_occurrence_id), and the
    // safeguard in build keeps one row per (person_id, cohort_member_id,
    // index_date). A second join on (person_id, cohort_member_id) would
    // return the row this join already holds.
    val ehrCols = ehrRecords.columns
    val cohortEhrRecords = Checkpoints.lineageBarrier(
      ehrRecords.alias("ehr")
        .join(cohort.alias("cohort"), col("ehr.person_id") === col("cohort.person_id"))
        .where(ehrRecordFilter())
        .select(ehrCols.map(c => col(s"ehr.$c").as(c)).toSeq :+
          col("cohort.cohort_member_id").as("cohort_member_id"): _*),
      cacheFolder, "cohort_ehr_records")

    if (cfg.isFeatureConceptFrequency)
      return Sequences.createConceptFrequencyData(cohortEhrRecords, None)

    if (cfg.isNewPatientRepresentation) {
      val person = dependencies("person")
      val demographic = person.select(col("person_id"), Preprocess.birthDatetime.as("birth_datetime"),
        col("race_concept_id"), col("gender_concept_id"))
      val visitPerson = visitOccurrence.join(demographic, "person_id")
        .withColumn("age", Sequences.ageAt(col("visit_start_date"), col("birth_datetime")))
        .drop("birth_datetime")
      return Sequences.createSequenceDataWithAtt(
        cohortEhrRecords, visitPerson,
        includeVisitType = cfg.includeVisitType,
        excludeVisitTokens = cfg.excludeVisitTokens,
        patientDemographic = if (cfg.gptPatientSequence) Some(demographic) else None,
        attType = cfg.attType,
        inpatientAttType = cfg.inpatientAttType,
        excludeDemographic = cfg.excludeDemographic,
        useAgeGroup = cfg.useAgeGroup,
        includeInpatientHourToken = cfg.includeInpatientHourToken,
        persistenceFolder = cacheFolder,
        cohortIndex = Some(cohort.select("person_id", "cohort_member_id", "index_date")))
    }

    Sequences.createSequenceData(cohortEhrRecords, None,
      includeVisitType = cfg.includeVisitType, classicBertSeq = cfg.classicBertSeq)
  }
}

object NestedCohortBuilder {

  /**
   * The exclusion / labeling SQL shapes (reference spark_app_base.py:428-513),
   * parameterized by view name only — [[NestedCohortBuilder.build]] passes the
   * `global_temp.*` views, and the driver contract (`SparkEntry` `j11`/`j12`)
   * runs the SAME SQL text over plain temp views against a DuckDB oracle.
   * One SQL string, two harnesses: the oracle therefore exercises the
   * production labeling semantics, not a reimplementation.
   */

  /** First-time-outcome exclusion: drop target rows whose person already has
    * an entry-cohort event before index_date + predictionStartDays
    * (spark_app_base.py:428-443). */
  def firstTimeOutcomeSql(target: String, entry: String, predictionStartDays: Int): String =
    s"""SELECT t.person_id AS cohort_member_id, t.*
       |FROM $target AS t
       |LEFT JOIN $entry AS o
       |  ON t.person_id = o.person_id
       |  AND t.index_date + INTERVAL $predictionStartDays DAY > o.index_date
       |WHERE o.person_id IS NULL
       |""".stripMargin

  /** Questionable-outcome exclusion: drop target rows whose person appears in
    * the negative (questionable) cohort at any time (spark_app_base.py:445-455). */
  def questionableOutcomeSql(target: String, negative: String): String =
    s"""SELECT t.*
       |FROM $target AS t
       |LEFT JOIN $negative AS o
       |  ON t.person_id = o.person_id
       |WHERE o.person_id IS NULL
       |""".stripMargin

  /** Index-window exclusion: drop target rows with an outcome event inside
    * [index_date, index_date + predictionStartDays − 1]
    * (spark_app_base.py:457-471). */
  def removeIndexPredictionStartsSql(target: String, exclusion: String,
                                     predictionStartDays: Int): String =
    s"""SELECT DISTINCT t.*
       |FROM $target AS t
       |LEFT JOIN $exclusion AS exclusion
       |  ON t.person_id = exclusion.person_id
       |  AND exclusion.index_date BETWEEN t.index_date
       |      AND t.index_date + INTERVAL ${math.max(predictionStartDays - 1, 0)} DAY
       |WHERE exclusion.person_id IS NULL
       |""".stripMargin

  /** Unbounded-window labeling: label 1 iff any outcome at or after
    * index_date + predictionStartDays (spark_app_base.py:473-484). */
  def unboundedLabelingSql(target: String, outcome: String,
                           predictionStartDays: Int): String =
    s"""SELECT DISTINCT t.*, o.index_date AS outcome_date,
       |  CAST(ISNOTNULL(o.person_id) AS INT) AS label
       |FROM $target AS t
       |LEFT JOIN $outcome AS o
       |  ON t.person_id = o.person_id
       |  AND o.index_date >= t.index_date + INTERVAL $predictionStartDays DAY
       |""".stripMargin

  /** Bounded-window labeling: label 1 iff an outcome falls in
    * [index + predictionStartDays, index + predictionWindow]; rows kept only
    * when the observation period covers the window OR an outcome exists
    * (spark_app_base.py:486-513). */
  def boundedLabelingSql(target: String, outcome: String, observationPeriod: String,
                         predictionStartDays: Int, predictionWindow: Int): String =
    s"""SELECT DISTINCT t.*, o.index_date AS outcome_date,
       |  CAST(ISNOTNULL(o.person_id) AS INT) AS label
       |FROM $target AS t
       |LEFT JOIN $observationPeriod AS op
       |  ON t.person_id = op.person_id
       |  AND t.index_date + INTERVAL $predictionWindow DAY <= op.observation_period_end_date
       |LEFT JOIN $outcome AS o
       |  ON t.person_id = o.person_id
       |  AND o.index_date BETWEEN t.index_date + INTERVAL $predictionStartDays DAY
       |      AND t.index_date + INTERVAL $predictionWindow DAY
       |WHERE op.person_id IS NOT NULL OR o.person_id IS NOT NULL
       |""".stripMargin

  final case class Config(
      cohortName: String,
      inputFolder: String,
      outputFolder: String,
      ehrTableList: Seq[String],
      observationWindow: Int,
      holdOffWindow: Int,
      predictionStartDays: Int,
      predictionWindow: Int,
      numOfVisits: Int = 0,
      numOfConcepts: Int = 0,
      patientSplitsFolder: Option[String] = None,
      includeVisitType: Boolean = true,
      excludeVisitTokens: Boolean = false,
      isFeatureConceptFrequency: Boolean = false,
      isRollUpConcept: Boolean = false,
      isDrugRollUpConcept: Boolean = true,
      qualifiedConceptList: Option[DataFrame] = None,
      aggregateByHour: Boolean = true,
      isNewPatientRepresentation: Boolean = false,
      gptPatientSequence: Boolean = false,
      classicBertSeq: Boolean = false,
      isFirstTimeOutcome: Boolean = false,
      isQuestionableOutcomeExisted: Boolean = false,
      isRemoveIndexPredictionStarts: Boolean = false,
      isPredictionWindowUnbounded: Boolean = false,
      isObservationWindowUnbounded: Boolean = false,
      isPopulationEstimation: Boolean = false,
      attType: AttType = AttType.CehrBert,
      inpatientAttType: AttType = AttType.Mix,
      includeInpatientHourToken: Boolean = false,
      excludeDemographic: Boolean = true,
      useAgeGroup: Boolean = false,
      singleContribution: Boolean = false,
      excludeFeatures: Boolean = true,
      medsFormat: Boolean = false,
      cacheEvents: Boolean = false,
      shouldConstructArtificialVisits: Boolean = false,
      duplicateRecords: Boolean = false,
      disconnectProblemListRecords: Boolean = false)
}
