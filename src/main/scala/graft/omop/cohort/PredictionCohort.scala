package graft.omop.cohort

import org.apache.spark.sql.SparkSession

import graft.functions.TimeTokens.AttType

/**
 * Target/outcome prediction-cohort assembly: build both base cohorts, then
 * run the [[NestedCohortBuilder]] labeling + feature pipeline.
 *
 * Reference: /root/reference/src/cehrbert_data/cohorts/spark_app_base.py:794-896.
 */
object PredictionCohort {

  final case class Args(
      cohortName: String,
      inputFolder: String,
      outputFolder: String,
      dateLowerBound: String,
      dateUpperBound: String,
      ageLowerBound: Int = 0,
      ageUpperBound: Int = 100,
      observationWindow: Int = 365,
      predictionWindow: Int = 180,
      predictionStartDays: Int = 1,
      holdOffWindow: Int = 0,
      numOfVisits: Int = 0,
      numOfConcepts: Int = 0,
      patientSplitsFolder: Option[String] = None,
      includeVisitType: Boolean = false,
      excludeVisitTokens: Boolean = false,
      isFeatureConceptFrequency: Boolean = false,
      isRollUpConcept: Boolean = false,
      isDrugRollUpConcept: Boolean = false,
      isNewPatientRepresentation: Boolean = false,
      gptPatientSequence: Boolean = false,
      classicBertSeq: Boolean = false,
      isFirstTimeOutcome: Boolean = false,
      isRemoveIndexPredictionStarts: Boolean = false,
      isPredictionWindowUnbounded: Boolean = false,
      isObservationWindowUnbounded: Boolean = false,
      includeConceptList: Boolean = false,
      aggregateByHour: Boolean = false,
      allowMeasurementOnly: Boolean = false,
      isPopulationEstimation: Boolean = false,
      attType: AttType = AttType.None,
      inpatientAttType: AttType = AttType.None,
      includeInpatientHourToken: Boolean = false,
      excludeDemographic: Boolean = false,
      useAgeGroup: Boolean = false,
      singleContribution: Boolean = false,
      excludeFeatures: Boolean = false,
      medsFormat: Boolean = false,
      cacheEvents: Boolean = false,
      shouldConstructArtificialVisits: Boolean = false,
      duplicateRecords: Boolean = false,
      disconnectProblemListRecords: Boolean = false)

  def create(spark: SparkSession, args: Args,
             targetQueryBuilder: QueryBuilder,
             outcomeQueryBuilder: QueryBuilder,
             ehrTableList: Seq[String]): Unit = {

    val targetCohort = new BaseCohortBuilder(
      targetQueryBuilder, args.inputFolder, args.outputFolder,
      args.dateLowerBound, args.dateUpperBound,
      args.ageLowerBound, args.ageUpperBound,
      priorObservationPeriod = args.observationWindow + args.holdOffWindow,
      postObservationPeriod = 0)
      .build(spark).loadCohort(spark)

    val outcomeCohort = new BaseCohortBuilder(
      outcomeQueryBuilder, args.inputFolder, args.outputFolder,
      args.dateLowerBound, args.dateUpperBound,
      args.ageLowerBound, args.ageUpperBound,
      priorObservationPeriod = 0, postObservationPeriod = 0)
      .build(spark).loadCohort(spark)

    new NestedCohortBuilder(NestedCohortBuilder.Config(
      cohortName = args.cohortName,
      inputFolder = args.inputFolder,
      outputFolder = args.outputFolder,
      ehrTableList = ehrTableList,
      observationWindow = args.observationWindow,
      holdOffWindow = args.holdOffWindow,
      predictionStartDays = args.predictionStartDays,
      predictionWindow = args.predictionWindow,
      numOfVisits = args.numOfVisits,
      numOfConcepts = args.numOfConcepts,
      patientSplitsFolder = args.patientSplitsFolder,
      includeVisitType = args.includeVisitType,
      excludeVisitTokens = args.excludeVisitTokens,
      isFeatureConceptFrequency = args.isFeatureConceptFrequency,
      isRollUpConcept = args.isRollUpConcept,
      isDrugRollUpConcept = args.isDrugRollUpConcept,
      qualifiedConceptList = None,
      aggregateByHour = args.aggregateByHour,
      isNewPatientRepresentation = args.isNewPatientRepresentation,
      gptPatientSequence = args.gptPatientSequence,
      classicBertSeq = args.classicBertSeq,
      isFirstTimeOutcome = args.isFirstTimeOutcome,
      isQuestionableOutcomeExisted = outcomeQueryBuilder.negativeQuery.isDefined,
      isRemoveIndexPredictionStarts = args.isRemoveIndexPredictionStarts,
      isPredictionWindowUnbounded = args.isPredictionWindowUnbounded,
      isObservationWindowUnbounded = args.isObservationWindowUnbounded,
      isPopulationEstimation = args.isPopulationEstimation,
      attType = args.attType,
      inpatientAttType = args.inpatientAttType,
      includeInpatientHourToken = args.includeInpatientHourToken,
      excludeDemographic = args.excludeDemographic,
      useAgeGroup = args.useAgeGroup,
      singleContribution = args.singleContribution,
      excludeFeatures = args.excludeFeatures,
      medsFormat = args.medsFormat,
      cacheEvents = args.cacheEvents,
      shouldConstructArtificialVisits = args.shouldConstructArtificialVisits,
      duplicateRecords = args.duplicateRecords,
      disconnectProblemListRecords = args.disconnectProblemListRecords))
      .build(spark, targetCohort, outcomeCohort)
  }
}
