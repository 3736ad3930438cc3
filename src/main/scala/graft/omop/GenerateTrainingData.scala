package graft.omop

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}

import graft.core.Checkpoints
import graft.functions.TimeTokens.AttType

/**
 * The pre-training-sequence pipeline: OMOP tables → unified events → decorator
 * chain → per-patient token sequences, with optional splits/filters.
 *
 * Reference lifecycle: /root/reference/src/cehrbert_data/apps/
 * generate_training_data.py:30-240 (traced in SURVEY §3.1).
 *
 * Scale notes vs the reference:
 *  - the all_patient_events materialization barrier is kept (optional via
 *    `outputFolder`) — it truncates a plan reused by every decorator;
 *  - the events↔visit join shuffles on visit_occurrence_id; person-level
 *    windows shuffle on (person_id, cohort_member_id) — all high-cardinality;
 *  - the age<90 privacy filter and concept-list semi-join run BEFORE sequence
 *    assembly so the expensive collect_list sees only surviving rows;
 *  - no visit-id check before extraction (the inner events↔visit join drops
 *    the same events), and no numeric-event cache (see [[Events]]);
 *  - [[ArtificialVisits.construct]] runs only with both
 *    `shouldConstructArtificialVisits` and `disconnectProblemListRecords`:
 *    the inner events↔visit join leaves it no orphan otherwise, and it would
 *    return its input after a visit scan, a window and the id mint's jobs.
 */
object GenerateTrainingData {

  final case class Config(
      inputFolder: String,
      outputFolder: Option[String] = None,
      domainTableList: Seq[String] = Seq(OmopSchema.ConditionOccurrence,
        OmopSchema.ProcedureOccurrence, OmopSchema.DrugExposure),
      dateFilter: Option[String] = None,
      includeVisitType: Boolean = true,
      excludeVisitTokens: Boolean = false,
      attType: AttType = AttType.CehrBert,
      inpatientAttType: AttType = AttType.Mix,
      includeDeath: Boolean = false,
      excludeDemographic: Boolean = true,
      useAgeGroup: Boolean = false,
      includeInpatientHourToken: Boolean = false,
      applyAgeFilter: Boolean = true,
      withDrugRollup: Boolean = true,
      aggregateByHour: Boolean = false,
      qualifiedConceptList: Option[DataFrame] = None,
      isNewPatientRepresentation: Boolean = true,
      isClassicBert: Boolean = false,
      shouldConstructArtificialVisits: Boolean = false,
      duplicateRecords: Boolean = false,
      disconnectProblemListRecords: Boolean = false)

  /** Events + enriched visit table, pre-sequence (steps 2-6 of SURVEY §3.1). */
  def buildPatientEvents(spark: SparkSession, cfg: Config): (DataFrame, DataFrame, DataFrame) = {
    val concept = Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.Concept)
    val visitOccurrence = Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.VisitOccurrence)

    val events = cfg.domainTableList.map { name =>
      Events.extractEventsByDomain(
        Preprocess.domainTable(spark, cfg.inputFolder, name, withDrugRollup = cfg.withDrugRollup),
        concept = Some(concept),
        aggregateByHour = cfg.aggregateByHour)
    }.reduce(_.unionByName(_))

    val visitSlim = visitOccurrence.select("visit_occurrence_id", "visit_start_date",
      "visit_start_datetime", "visit_end_date", "visit_end_datetime",
      "visit_concept_id", "person_id", "discharged_to_concept_id")

    val person = Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.Person)
      .select(col("person_id"), Preprocess.birthDatetime.as("birth_datetime"),
        col("race_concept_id"), col("gender_concept_id"))

    val visitPerson = visitSlim.join(person, "person_id")
      .withColumn("age", Sequences.ageAt(col("visit_start_date"), col("birth_datetime")))
      .drop("birth_datetime")

    val eventCols = events.columns.map(events(_)).toSeq
    var patientEvents = events.join(visitPerson, "visit_occurrence_id")
      .select(eventCols ++ Seq(col("visit_concept_id"), col("age")): _*)
      .withColumn("cohort_member_id", col("person_id"))

    cfg.qualifiedConceptList.foreach { q =>
      patientEvents = patientEvents.join(
        F.broadcast(q.select("standard_concept_id")), "standard_concept_id")
    }

    // materialization barrier (generate_training_data.py:155-157)
    patientEvents = Checkpoints.lineageBarrier(patientEvents, cfg.outputFolder, "all_patient_events")

    // re-link / mint artificial visits between the barrier and the age
    // filter (generate_training_data.py:158-167). Parity note: like the
    // reference, the visit-person table used later for sequence assembly is
    // the PRE-construct one — artificial visits exist only on the events.
    if (cfg.shouldConstructArtificialVisits && cfg.disconnectProblemListRecords)
      patientEvents = ArtificialVisits.construct(patientEvents, visitSlim,
        duplicateRecords = cfg.duplicateRecords,
        disconnectProblemListRecords = true).patientEvents

    if (cfg.applyAgeFilter)
      patientEvents = patientEvents.where(col("age") < 90)

    (patientEvents, visitPerson, person)
  }

  /** Full pipeline → per-patient sequences. */
  def run(spark: SparkSession, cfg: Config,
          gptPatientSequence: Boolean = false): DataFrame = {
    val (patientEvents, visitPerson, person) = buildPatientEvents(spark, cfg)

    val death =
      if (cfg.includeDeath)
        Some(Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.Death))
      else None

    if (cfg.isNewPatientRepresentation)
      Sequences.createSequenceDataWithAtt(
        patientEvents, visitPerson,
        dateFilter = cfg.dateFilter,
        includeVisitType = cfg.includeVisitType,
        excludeVisitTokens = cfg.excludeVisitTokens,
        patientDemographic = if (gptPatientSequence) Some(person) else None,
        death = death,
        attType = cfg.attType,
        inpatientAttType = cfg.inpatientAttType,
        excludeDemographic = cfg.excludeDemographic,
        useAgeGroup = cfg.useAgeGroup,
        includeInpatientHourToken = cfg.includeInpatientHourToken,
        persistenceFolder = cfg.outputFolder)
    else
      Sequences.createSequenceData(
        patientEvents,
        dateFilter = cfg.dateFilter,
        includeVisitType = cfg.includeVisitType,
        classicBertSeq = cfg.isClassicBert)
  }

  /** Prolonged-stay flag join (generate_training_data.py:199-218). */
  def withProlongedStay(spark: SparkSession, cfg: Config, seqData: DataFrame): DataFrame = {
    val prolonged = when(
      col("visit_concept_id").isin(OmopSchema.InpatientConceptIdsProlonged: _*),
      F.coalesce((F.datediff(col("visit_end_date"), col("visit_start_date")) > 7).cast("int"),
        lit(0))).otherwise(lit(0))
    val visits = Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.VisitOccurrence)
      .withColumn("prolonged_length_stay", prolonged)
      .select("person_id", "prolonged_length_stay")
      .withColumn("prolonged_length_stay",
        F.max("prolonged_length_stay").over(Window.partitionBy("person_id")))
      .distinct()
    seqData.join(visits, "person_id")
  }

  /** Split-aware sink (generate_training_data.py:221-240): join patient_splits
    * when present, write train/test dirs, else one dir. */
  def write(spark: SparkSession, cfg: Config, seqData: DataFrame, outputFolder: String): Unit = {
    val splitsPath = s"${cfg.inputFolder}/patient_splits"
    val sink = s"$outputFolder/patient_sequence"
    if (Checkpoints.exists(spark, splitsPath))
      Checkpoints.writeSplits(
        seqData.join(spark.read.parquet(splitsPath).select("person_id", "split"), "person_id"), sink)
    else
      seqData.write.mode("overwrite").parquet(sink)
  }
}
