package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions.col

import graft.functions.TimeTokens.AttType
import graft.omop.{GenerateTrainingData, OmopSchema, Preprocess, Sequences}
import graft.omop.cohort.{BaseCohortBuilder, NestedCohortBuilder, QueryBuilder, QuerySpec}

/** What one timed pass produced, for the correctness gate. */
final case class PassOutput(rows: Long, hash: String, detail: Map[String, Long])

/** A workload over a seeded synthetic CDM of `patients` patients. */
abstract class Workload(val patients: Int, seed: Long, cores: Int) {
  def name: String
  /** Makes the inputs under `dir`. */
  def prepare(spark: SparkSession, dir: String): Unit =
    SyntheticCdm.write(spark, dir, patients, seed, cores)
  /** The row count of each input table. */
  def inputRows(spark: SparkSession, dir: String): Map[String, Long] =
    SyntheticCdm.rowCounts(spark, dir)
  /** The expected output, computed independently of the program. */
  def expected(spark: SparkSession, dir: String): Map[String, Long]
  /** One pass: every call into the program, each traced call in its own span. */
  def pass(spark: SparkSession, trace: Trace, inputDir: String, outDir: String): Unit
  /** Reads the committed output of a pass. */
  def output(spark: SparkSession, outDir: String): PassOutput
  /** Checks a pass's output against the expected counts; returns the mismatches. */
  def check(out: PassOutput, expected: Map[String, Long]): Seq[String]
}

object Workloads {

  /** Order-insensitive content hash: the row count and the sum of one 64-bit
    * hash per row, over every column. */
  def contentHash(df: DataFrame): (Long, String) = {
    val r = df.select(F.xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(F.count(F.lit(1)), F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1)}")
  }

  /** Intermediates the program persists and may silently reuse: a pass must
    * not start while one exists. */
  def isLeftover(name: String): Boolean =
    name.startsWith("processed_") || name == "all_patient_events" ||
      name.startsWith("graft_bucketed_")

  /** Registers each raw CDM table as a temp view `raw_<name>` for the
    * expected-count SQL; casts are written out here, not borrowed from the
    * library. */
  def registerRaw(spark: SparkSession, dir: String): Unit =
    SyntheticCdm.Tables.foreach(t => spark.read.parquet(s"$dir/$t").createOrReplaceTempView(s"raw_$t"))

  private val eventsSql =
    """SELECT person_id, visit_occurrence_id,
      |       CAST(condition_start_datetime AS TIMESTAMP) AS ts
      |FROM raw_condition_occurrence
      |WHERE condition_concept_id <> '0' AND condition_start_date IS NOT NULL
      |UNION ALL
      |SELECT person_id, visit_occurrence_id, CAST(procedure_datetime AS TIMESTAMP)
      |FROM raw_procedure_occurrence
      |WHERE procedure_concept_id <> '0' AND procedure_date IS NOT NULL
      |UNION ALL
      |SELECT person_id, visit_occurrence_id, CAST(drug_exposure_start_datetime AS TIMESTAMP)
      |FROM raw_drug_exposure
      |WHERE drug_concept_id <> '0' AND drug_exposure_start_date IS NOT NULL""".stripMargin

  // ------------------------------------------------------------------ pretrain

  /** `GenerateTrainingData` from raw OMOP tables to the train/test sequence
    * sink: ATT tokens, inpatient Mix, death, demographics and artificial
    * visits, with a `patient_splits` table so the split sink runs. */
  final class PretrainCdm(n: Int, seed: Long, cores: Int) extends Workload(n, seed, cores) {
    val name = "pretrain_cdm"

    def expected(spark: SparkSession, dir: String): Map[String, Long] = {
      registerRaw(spark, dir)
      // one sequence per patient with an event on a real visit at age < 90
      val sequences = spark.sql(
        s"""WITH ev AS ($eventsSql)
           |SELECT count(DISTINCT ev.person_id)
           |FROM ev
           |JOIN raw_visit_occurrence v ON ev.visit_occurrence_id = v.visit_occurrence_id
           |JOIN raw_person p ON v.person_id = p.person_id
           |WHERE year(CAST(v.visit_start_date AS DATE)) - CAST(p.year_of_birth AS INT) < 90
           |""".stripMargin).head().getLong(0)
      Map("rows" -> sequences)
    }

    private def config(inputDir: String, outDir: String) = GenerateTrainingData.Config(
      inputFolder = inputDir,
      outputFolder = Some(s"$outDir/work"),
      attType = AttType.CehrBert,
      inpatientAttType = AttType.Mix,
      includeDeath = true,
      excludeDemographic = false,
      shouldConstructArtificialVisits = true)

    def pass(spark: SparkSession, trace: Trace, inputDir: String, outDir: String): Unit = {
      val cfg = config(inputDir, outDir)
      if (!trace.detailed) {
        val sequences = GenerateTrainingData.run(spark, cfg, gptPatientSequence = true)
        GenerateTrainingData.write(spark, cfg, sequences, s"$outDir/out")
      } else {
        // `run`, split into its public steps with the same arguments
        val (patientEvents, visitPerson, person) =
          trace.span(Layers.BuildPatientEvents) {
            GenerateTrainingData.buildPatientEvents(spark, cfg)
          }
        val sequences = trace.span(Layers.CreateSequences) {
          Sequences.createSequenceDataWithAtt(
            patientEvents, visitPerson,
            dateFilter = cfg.dateFilter,
            includeVisitType = cfg.includeVisitType,
            excludeVisitTokens = cfg.excludeVisitTokens,
            patientDemographic = Some(person),
            death = Some(Preprocess.domainTable(spark, cfg.inputFolder, OmopSchema.Death)),
            attType = cfg.attType,
            inpatientAttType = cfg.inpatientAttType,
            excludeDemographic = cfg.excludeDemographic,
            useAgeGroup = cfg.useAgeGroup,
            includeInpatientHourToken = cfg.includeInpatientHourToken,
            persistenceFolder = cfg.outputFolder)
        }
        trace.span(Layers.WriteSequences) {
          GenerateTrainingData.write(spark, cfg, sequences, s"$outDir/out")
        }
      }
    }

    def output(spark: SparkSession, outDir: String): PassOutput = {
      val df = spark.read.parquet(s"$outDir/out/patient_sequence/train")
        .unionByName(spark.read.parquet(s"$outDir/out/patient_sequence/test"))
      val (rows, hash) = contentHash(df)
      PassOutput(rows, hash, Map("distinct_persons" -> df.select("person_id").distinct().count()))
    }

    def check(out: PassOutput, expected: Map[String, Long]): Seq[String] =
      Seq(
        Option.when(out.rows != expected("rows"))(
          s"sequence rows ${out.rows} != expected ${expected("rows")}"),
        Option.when(out.detail("distinct_persons") != out.rows)(
          s"${out.rows} rows for ${out.detail("distinct_persons")} patients")).flatten
  }

  // ------------------------------------------------------------------ cohort

  /** `PredictionTasks.hospitalization` with new-patient-representation
    * sequence features, run as its public steps: two
    * `BaseCohortBuilder.build` + `loadCohort` calls, then
    * `NestedCohortBuilder.build`. The target and outcome SQL are copied from
    * `graft.omop.cohort.definitions.PredictionTasks.hospitalization`, which
    * does not expose its query builders; keep the two in step.
    * Events are cached (`cacheEvents`): without the checkpoints the feature
    * plan is recomputed per decorator and one pass takes about four times
    * as long, with the same output. */
  final class CohortTask(n: Int, seed: Long, cores: Int) extends Workload(n, seed, cores) {
    val name = "cohort_task"

    private val ObservationWindow = 360
    private val PredictionWindow = 360
    private val PredictionStartDays = 1
    private val DateLower = "2013-01-01"
    private val DateUpper = "2025-12-31"
    private val AgeLower = 18
    private val AgeUpper = 100

    private val targetSql =
      s"""WITH INDEX_VISIT_TABLE AS (
         |  SELECT DISTINCT
         |    person_id,
         |    FIRST(visit_start_datetime) OVER (PARTITION BY person_id
         |      ORDER BY visit_start_datetime, visit_occurrence_id) AS index_date,
         |    FIRST(visit_occurrence_id) OVER (PARTITION BY person_id
         |      ORDER BY visit_start_datetime, visit_occurrence_id) AS visit_occurrence_id
         |  FROM global_temp.visit_occurrence
         |  WHERE visit_end_date >= visit_start_date
         |),
         |HOSPITAL_TARGET AS (
         |  SELECT DISTINCT
         |    iv.person_id,
         |    iv.index_date + INTERVAL $ObservationWindow DAYS AS index_date,
         |    count(DISTINCT CASE WHEN v1.visit_concept_id IN (9201, 262)
         |          THEN v1.visit_occurrence_id END) AS num_of_hospitalizations,
         |    count(DISTINCT v1.visit_occurrence_id) AS num_of_visits
         |  FROM INDEX_VISIT_TABLE iv
         |  JOIN global_temp.visit_occurrence v1
         |    ON v1.person_id = iv.person_id
         |    AND DATEDIFF(v1.visit_start_date, iv.index_date) <= $ObservationWindow
         |  JOIN global_temp.observation_period op
         |    ON iv.person_id = op.person_id
         |    AND DATEDIFF(CAST(op.observation_period_end_date AS DATE),
         |                 CAST(op.observation_period_start_date AS DATE)) >= $ObservationWindow
         |  GROUP BY iv.person_id, iv.index_date
         |)
         |SELECT person_id, index_date, CAST(null AS INT) AS visit_occurrence_id
         |FROM HOSPITAL_TARGET
         |WHERE num_of_visits BETWEEN 2 AND 30
         |  AND index_date >= '$DateLower'
         |""".stripMargin

    private val outcomeSql =
      """SELECT DISTINCT
        |  v.person_id,
        |  visit_start_date AS index_date,
        |  visit_occurrence_id
        |FROM global_temp.visit_occurrence AS v
        |WHERE v.visit_concept_id IN (9201, 262)
        |""".stripMargin

    private val dependencies = Seq("person", "condition_occurrence", "visit_occurrence")
    private val target = QueryBuilder("hospitalization_target", dependencies,
      QuerySpec(targetSql, Map.empty, "hospitalization_target"))
    private val outcome = QueryBuilder("hospitalization_outcome", dependencies,
      QuerySpec(outcomeSql, Map.empty, "hospitalization_outcome"))

    def expected(spark: SparkSession, dir: String): Map[String, Long] = {
      registerRaw(spark, dir)
      val r = spark.sql(
        s"""WITH v AS (
           |  SELECT person_id, visit_occurrence_id, CAST(visit_concept_id AS INT) AS vc,
           |         CAST(visit_start_date AS DATE) AS sd,
           |         CAST(visit_start_datetime AS TIMESTAMP) AS sdt,
           |         CAST(visit_end_date AS DATE) AS ed
           |  FROM raw_visit_occurrence),
           |op AS (
           |  SELECT person_id, CAST(observation_period_start_date AS DATE) AS s,
           |         CAST(observation_period_end_date AS DATE) AS e
           |  FROM raw_observation_period),
           |p AS (
           |  SELECT person_id,
           |         coalesce(year(CAST(birth_datetime AS TIMESTAMP)),
           |                  CAST(year_of_birth AS INT)) AS yob
           |  FROM raw_person),
           |first_visit AS (
           |  SELECT person_id, min(sdt) AS first_dt FROM v WHERE ed >= sd GROUP BY person_id),
           |target AS (
           |  SELECT f.person_id, f.first_dt + make_interval(0, 0, 0, $ObservationWindow) AS index_date
           |  FROM first_visit f
           |  JOIN op ON op.person_id = f.person_id AND datediff(op.e, op.s) >= $ObservationWindow
           |  JOIN v ON v.person_id = f.person_id
           |       AND datediff(v.sd, CAST(f.first_dt AS DATE)) <= $ObservationWindow
           |  GROUP BY f.person_id, f.first_dt
           |  HAVING count(DISTINCT v.visit_occurrence_id) BETWEEN 2 AND 30),
           |target_q AS (
           |  SELECT DISTINCT t.person_id, t.index_date
           |  FROM target t
           |  JOIN op ON op.person_id = t.person_id
           |       AND t.index_date - make_interval(0, 0, 0, $ObservationWindow) >= op.s
           |       AND t.index_date <= op.e
           |  JOIN p ON p.person_id = t.person_id
           |  WHERE t.index_date >= TIMESTAMP '$DateLower 00:00:00'
           |    AND t.index_date <= TIMESTAMP '$DateUpper 00:00:00'
           |    AND year(t.index_date) - p.yob BETWEEN $AgeLower AND $AgeUpper),
           |outcome_q AS (
           |  SELECT DISTINCT v.person_id, v.sd AS index_date
           |  FROM v
           |  JOIN op ON op.person_id = v.person_id AND v.sd >= op.s AND v.sd <= op.e
           |  JOIN p ON p.person_id = v.person_id
           |  WHERE v.vc IN (9201, 262)
           |    AND v.sd BETWEEN DATE '$DateLower' AND DATE '$DateUpper'
           |    AND year(v.sd) - p.yob BETWEEN $AgeLower AND $AgeUpper),
           |labeled AS (
           |  SELECT t.person_id, t.index_date,
           |         max(CASE WHEN o.person_id IS NULL THEN 0 ELSE 1 END) AS label
           |  FROM target_q t
           |  LEFT JOIN op ON op.person_id = t.person_id
           |       AND t.index_date + make_interval(0, 0, 0, $PredictionWindow) <= op.e
           |  LEFT JOIN outcome_q o ON o.person_id = t.person_id
           |       AND o.index_date BETWEEN t.index_date + make_interval(0, 0, 0, $PredictionStartDays)
           |                            AND t.index_date + make_interval(0, 0, 0, $PredictionWindow)
           |  WHERE op.person_id IS NOT NULL OR o.person_id IS NOT NULL
           |  GROUP BY t.person_id, t.index_date),
           |ev AS (
           |  SELECT ev.person_id, ev.ts FROM ($eventsSql) ev
           |  JOIN v ON v.visit_occurrence_id = ev.visit_occurrence_id),
           |featured AS (
           |  SELECT l.person_id, l.index_date, l.label
           |  FROM labeled l
           |  WHERE EXISTS (SELECT 1 FROM ev
           |    WHERE ev.person_id = l.person_id
           |      AND ev.ts >= l.index_date - make_interval(0, 0, 0, $ObservationWindow)
           |      AND ev.ts <= l.index_date + INTERVAL 0.1 SECOND))
           |SELECT count(*), coalesce(sum(label), 0) FROM featured
           |""".stripMargin).head()
      Map("rows" -> r.getLong(0), "positives" -> r.getLong(1))
    }

    private def base(builder: QueryBuilder, inputDir: String, outDir: String,
                     prior: Int): BaseCohortBuilder =
      new BaseCohortBuilder(builder, inputDir, s"$outDir/out", DateLower, DateUpper,
        AgeLower, AgeUpper, priorObservationPeriod = prior, postObservationPeriod = 0)

    def pass(spark: SparkSession, trace: Trace, inputDir: String, outDir: String): Unit = {
      val targetCohort = trace.span(Layers.BaseCohort) {
        base(target, inputDir, outDir, ObservationWindow).build(spark).loadCohort(spark)
      }
      val outcomeCohort = trace.span(Layers.BaseCohort) {
        base(outcome, inputDir, outDir, 0).build(spark).loadCohort(spark)
      }
      trace.span(Layers.NestedCohort) {
        new NestedCohortBuilder(NestedCohortBuilder.Config(
          cohortName = "hospitalization",
          inputFolder = inputDir,
          outputFolder = s"$outDir/out",
          ehrTableList = Seq("condition_occurrence", "drug_exposure", "procedure_occurrence"),
          observationWindow = ObservationWindow,
          holdOffWindow = 0,
          predictionStartDays = PredictionStartDays,
          predictionWindow = PredictionWindow,
          patientSplitsFolder = Some(s"$inputDir/patient_splits"),
          includeVisitType = true,
          isNewPatientRepresentation = true,
          excludeFeatures = false,
          cacheEvents = true,
          attType = AttType.CehrBert,
          inpatientAttType = AttType.Mix)).build(spark, targetCohort, outcomeCohort)
      }
    }

    def output(spark: SparkSession, outDir: String): PassOutput = {
      val df = spark.read.parquet(s"$outDir/out/hospitalization/train")
        .unionByName(spark.read.parquet(s"$outDir/out/hospitalization/test"))
      val (rows, hash) = contentHash(df)
      PassOutput(rows, hash, Map("positives" -> df.where(col("label") === 1).count()))
    }

    def check(out: PassOutput, expected: Map[String, Long]): Seq[String] =
      Seq(
        Option.when(out.rows != expected("rows"))(
          s"cohort rows ${out.rows} != expected ${expected("rows")}"),
        Option.when(out.detail("positives") != expected("positives"))(
          s"positive labels ${out.detail("positives")} != expected ${expected("positives")}")).flatten
  }
}
