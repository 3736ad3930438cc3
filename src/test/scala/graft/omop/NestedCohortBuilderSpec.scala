package graft.omop

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.omop.cohort.{NestedCohortBuilder, QueryBuilder}

/**
 * End-to-end assembly of NestedCohortBuilder.build over the bundled sample
 * CDM: exclusion rewrites → bounded labeling → cohort_member_id allocation →
 * positives-first safeguard → EHR-record filter → study_end_date /
 * time_to_event → split-aware sink. The SQL shapes themselves are
 * DuckDB-oracled by the driver (j11/j12); this spec pins the surrounding
 * orchestration the oracle can't see (spark_app_base.py:276-607).
 */
class NestedCohortBuilderSpec extends SparkSpecBase {

  private val omopInput = "/root/reference/sample_data/omop_sample"

  private def ts(s: String) = Timestamp.valueOf(s)

  override def afterAll(): Unit = {
    // the shared session outlives this suite — don't leak cohort views into
    // later suites (a test inheriting them would pass on stale data instead
    // of failing fast on a missing view)
    for (v <- Seq(QueryBuilder.EntryCohort, QueryBuilder.NegativeCohort,
        "target_cohort", "outcome_cohort"))
      spark.catalog.dropGlobalTempView(v)
    super.afterAll()
  }

  test("build: exclusions, labels, member ids, time_to_event and splits end-to-end") {
    assume(Files.exists(Paths.get(omopInput)), s"$omopInput not present")
    import spark.implicits._
    val out = Files.createTempDirectory("graft-nested").toString

    // targets: persons 1-5 at 2015-01-01. The two exclusions are driven by
    // DISJOINT cohorts so each must bite on its own:
    //   entry cohort (first-time exclusion):  p5 → 2014-12-01
    //     (before index+30 → p5 dropped by firstTimeOutcomeSql ONLY)
    //   outcome cohort (index-window exclusion + labels):
    //     p3 → 2015-01-15 (inside [index, index+29] → dropped by
    //       removeIndexPredictionStartsSql ONLY — the entry cohort has no p3)
    //     p2, p4 → 2015-06-01 (inside [index+30, index+360] → label 1)
    // p1 has no outcome; its observation period covers index+360 → label 0.
    val target0 = Seq(1L, 2L, 3L, 4L, 5L)
      .map(p => (p, ts("2015-01-01 00:00:00"), 1000L + p))
      .toDF("person_id", "index_date", "visit_occurrence_id")
    // third disjoint exclusion: p6 appears ONLY in the negative (questionable)
    // cohort → dropped by questionableOutcomeSql alone, at any date
    val target = target0.union(
      Seq((6L, ts("2015-01-01 00:00:00"), 1006L))
        .toDF("person_id", "index_date", "visit_occurrence_id"))
    val outcome = Seq(
      (2L, ts("2015-06-01 00:00:00")), (4L, ts("2015-06-01 00:00:00")),
      (3L, ts("2015-01-15 00:00:00")))
      .toDF("person_id", "index_date")
    Seq((5L, ts("2014-12-01 00:00:00"))).toDF("person_id", "index_date")
      .createOrReplaceGlobalTempView(QueryBuilder.EntryCohort)
    Seq((6L, ts("2010-01-01 00:00:00"))).toDF("person_id", "index_date")
      .createOrReplaceGlobalTempView(QueryBuilder.NegativeCohort)

    val splitsDir = s"$out/splits"
    Seq((1L, "train"), (2L, "train"), (3L, "train"), (4L, "test"), (5L, "test"))
      .toDF("person_id", "split").write.parquet(splitsDir)

    val cfg = NestedCohortBuilder.Config(
      cohortName = "Spec Cohort",
      inputFolder = omopInput,
      outputFolder = out,
      ehrTableList = Seq("condition_occurrence"),
      observationWindow = 0,
      holdOffWindow = 0,
      predictionStartDays = 30,
      predictionWindow = 360,
      patientSplitsFolder = Some(splitsDir),
      isFirstTimeOutcome = true,
      isQuestionableOutcomeExisted = true,
      isRemoveIndexPredictionStarts = true,
      isObservationWindowUnbounded = true,
      excludeFeatures = true)

    val cohort = new NestedCohortBuilder(cfg).build(spark, target, outcome)

    val rows = cohort
      .select("person_id", "label", "time_to_event", "cohort_member_id")
      .collect()
      .map(r => r.getAs[Long]("person_id") ->
        ((r.getAs[Int]("label"), r.getAs[Int]("time_to_event"), r.getAs[Int]("cohort_member_id"))))
      .toMap

    // p3 and p5 excluded; p2/p4 labeled 1 with time-to-outcome 151 days;
    // p1 labeled 0 with time_to_event = the full 360-day window
    assert(rows.keySet == Set(1L, 2L, 4L))
    assert(rows(1L)._1 == 0 && rows(2L)._1 == 1 && rows(4L)._1 == 1)
    assert(rows(1L)._2 == 360 && rows(2L)._2 == 151 && rows(4L)._2 == 151)
    // member ids: one per surviving (person, index, visit) triple, dense
    assert(rows.values.map(_._3).toSeq.sorted == Seq(1, 2, 3))

    // one row per member after the positives-first safeguard
    assert(cohort.count() == 3)
    assert(cohort.columns.contains("study_end_date"))

    // split sink: train/test partitioned by the splits table, temp removed
    val base = s"$out/spec_cohort"
    val train = spark.read.parquet(s"$base/train")
    val test = spark.read.parquet(s"$base/test")
    assert(train.select("person_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(test.select("person_id").as[Long].collect().toSet == Set(4L))
    assert(train.columns.contains("split") && test.columns.contains("split"))
    assert(!Files.exists(Paths.get(s"$base/temp")))
  }

  test("build: unbounded window + MEDS rename + single contribution") {
    assume(Files.exists(Paths.get(omopInput)), s"$omopInput not present")
    import spark.implicits._
    val out = Files.createTempDirectory("graft-nested-meds").toString

    // p1: two target entries (2014 and 2015) — singleContribution must keep
    // the POSITIVE one (2015 has an outcome after index+30; 2014's outcome at
    // 2015-03-01 also labels it 1 ... choose dates so 2014 entry is negative:
    // outcome at 2015-03-01 is >= 2014-06-01+30 → both label 1; tie broken by
    // latest index_date). p2: one entry, no outcome → label 0, study end =
    // observation_period_end_date.
    val target = Seq(
      (1L, ts("2014-06-01 00:00:00"), 11L),
      (1L, ts("2015-01-01 00:00:00"), 12L),
      (2L, ts("2015-01-01 00:00:00"), 21L))
      .toDF("person_id", "index_date", "visit_occurrence_id")
    val outcome = Seq((1L, ts("2015-03-01 00:00:00")))
      .toDF("person_id", "index_date")

    val cfg = NestedCohortBuilder.Config(
      cohortName = "MEDS Cohort",
      inputFolder = omopInput,
      outputFolder = out,
      ehrTableList = Seq("condition_occurrence"),
      observationWindow = 0,
      holdOffWindow = 0,
      predictionStartDays = 30,
      predictionWindow = 360,
      isPredictionWindowUnbounded = true,
      isObservationWindowUnbounded = true,
      singleContribution = true,
      medsFormat = true,
      excludeFeatures = true)

    val cohort = new NestedCohortBuilder(cfg).build(spark, target, outcome)

    // MEDS renames applied
    assert(cohort.columns.contains("subject_id")
      && cohort.columns.contains("prediction_time")
      && cohort.columns.contains("boolean_value"))
    val rows = cohort
      .select("subject_id", "prediction_time", "boolean_value", "time_to_event")
      .collect()
      .map(r => r.getAs[Long]("subject_id") ->
        ((r.getAs[Timestamp]("prediction_time"), r.getAs[Boolean]("boolean_value"),
          r.getAs[Int]("time_to_event"))))
      .toMap

    // one contribution per person; p1 keeps the latest positive entry
    assert(rows.keySet == Set(1L, 2L))
    assert(rows(1L)._1 == ts("2015-01-01 00:00:00") && rows(1L)._2)
    // p1: study_end = outcome date → 59 days from index
    assert(rows(1L)._3 == 59)
    // p2 negative: unbounded window → study_end = observation_period_end_date
    // (2019-11-24 for person 2 in the sample CDM)
    assert(!rows(2L)._2)
    assert(rows(2L)._3 ==
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse("2015-01-01"),
        java.time.LocalDate.parse("2019-11-24")).toInt)
  }

  test("build: concept-frequency feature branch joins features and applies thresholds") {
    assume(Files.exists(Paths.get(omopInput)), s"$omopInput not present")
    import spark.implicits._
    val out = Files.createTempDirectory("graft-nested-feat").toString

    val target = Seq(1L, 2L, 10L)
      .map(p => (p, ts("2015-01-01 00:00:00"), 1000L + p))
      .toDF("person_id", "index_date", "visit_occurrence_id")
    val outcome = Seq((2L, ts("2015-06-01 00:00:00")))
      .toDF("person_id", "index_date")

    val cfg = NestedCohortBuilder.Config(
      cohortName = "Feature Cohort",
      inputFolder = omopInput,
      outputFolder = out,
      ehrTableList = Seq("condition_occurrence"),
      observationWindow = 0,
      holdOffWindow = 0,
      predictionStartDays = 30,
      predictionWindow = 360,
      numOfVisits = 1,
      numOfConcepts = 1,
      isObservationWindowUnbounded = true,
      isFeatureConceptFrequency = true,
      excludeFeatures = false)

    val cohort = new NestedCohortBuilder(cfg).build(spark, target, outcome)

    // the feature join brings concept frequency columns onto the cohort rows
    for (c <- Seq("concept_ids", "frequencies", "num_of_visits", "num_of_concepts", "label"))
      assert(cohort.columns.contains(c), s"missing $c")
    val got = cohort
      .select("person_id", "label", "num_of_visits", "num_of_concepts")
      .collect()
      .map(r => (r.getAs[Long]("person_id"), r.getAs[Int]("label"),
        r.getAs[Long]("num_of_visits"), r.getAs[Long]("num_of_concepts")))
    // every surviving member has pre-index conditions meeting the thresholds,
    // frequencies align 1:1 with concept ids, and the outcome label held on
    assert(got.nonEmpty)
    assert(got.forall { case (_, _, v, c) => v >= 1 && c >= 1 })
    assert(got.collect { case (2L, l, _, _) => l }.forall(_ == 1))
    val aligned = cohort.select(size(col("concept_ids")) === size(col("frequencies")))
      .as[Boolean].collect()
    assert(aligned.forall(identity))
  }

  /** A four-patient CDM stored the way the sample CDM is (string-typed
    * clinical columns, the CDM 5.2 `discharge_to_concept_id`, int32
    * vocabulary): persons 1–4 each have two outpatient visits in 2015;
    * person 2 also has a two-day inpatient stay; every visit carries one
    * condition. */
  private def writeTinyCdm(dir: String): Unit = {
    import spark.implicits._
    def write(name: String, df: DataFrame): Unit =
      df.write.parquet(s"$dir/$name")
    val persons = Seq("1", "2", "3", "4")
    write("person", persons.map(p => (p, "8507", "1970", "1", "1", "1970-01-01 00:00:00", "8527"))
      .toDF("person_id", "gender_concept_id", "year_of_birth", "month_of_birth", "day_of_birth",
        "birth_datetime", "race_concept_id"))
    // (visit id, person, visit concept, start day, end day, discharged to)
    val visits = persons.flatMap(p => Seq(
        (s"${p}1", p, "9202", "2015-01-10", "2015-01-10", null: String),
        (s"${p}2", p, "9202", "2015-04-20", "2015-04-20", null: String))) :+
      (("23", "2", "9201", "2015-03-01", "2015-03-02", "8536"))
    write("visit_occurrence", visits.map { case (v, p, c, start, end, disch) =>
        (v, p, c, start, s"$start 08:00:00", end, s"$end 16:00:00", "44818517", disch) }
      .toDF("visit_occurrence_id", "person_id", "visit_concept_id", "visit_start_date",
        "visit_start_datetime", "visit_end_date", "visit_end_datetime", "visit_type_concept_id",
        "discharge_to_concept_id"))
    write("observation_period", persons.map(p => (p, p, "2010-01-01", "2020-12-31", "44814724"))
      .toDF("observation_period_id", "person_id", "observation_period_start_date",
        "observation_period_end_date", "period_type_concept_id"))
    write("condition_occurrence", visits.zipWithIndex.map { case ((v, p, _, start, _, _), i) =>
        (s"$i", p, s"${320128 + i % 3}", start, s"$start 09:00:00", v, "32020") }
      .toDF("condition_occurrence_id", "person_id", "condition_concept_id",
        "condition_start_date", "condition_start_datetime", "visit_occurrence_id",
        "condition_type_concept_id"))
    write("concept", Seq((320128, "Condition", "SNOMED", "S"), (320129, "Condition", "SNOMED", "S"),
        (320130, "Condition", "SNOMED", "S"))
      .toDF("concept_id", "domain_id", "vocabulary_id", "standard_concept"))
    write("concept_ancestor", Seq((320128, 320128, 0, 0))
      .toDF("ancestor_concept_id", "descendant_concept_id", "min_levels_of_separation",
        "max_levels_of_separation"))
    write("concept_relationship", Seq((320128, 320128, "Maps to"))
      .toDF("concept_id_1", "concept_id_2", "relationship_id"))
    write("patient_splits", Seq(("1", "train"), ("2", "train"), ("3", "train"), ("4", "test"))
      .toDF("person_id", "split"))
  }

  test("build: sequence features land the same with and without cacheEvents") {
    import spark.implicits._
    val input = Files.createTempDirectory("graft-nested-cdm").toString
    writeTinyCdm(input)
    val target = Seq(1L, 2L, 3L, 4L)
      .map(p => (p, ts("2015-06-01 00:00:00"), p * 10 + 2))
      .toDF("person_id", "index_date", "visit_occurrence_id")
    val outcome = Seq((2L, ts("2015-09-01 00:00:00"))).toDF("person_id", "index_date")

    def run(cacheEvents: Boolean): (String, Seq[String], Seq[String]) = {
      val out = Files.createTempDirectory("graft-nested-seq").toString
      new NestedCohortBuilder(NestedCohortBuilder.Config(
        cohortName = "Sequence Cohort",
        inputFolder = input,
        outputFolder = out,
        ehrTableList = Seq("condition_occurrence"),
        observationWindow = 365,
        holdOffWindow = 0,
        predictionStartDays = 1,
        predictionWindow = 360,
        patientSplitsFolder = Some(s"$input/patient_splits"),
        isNewPatientRepresentation = true,
        excludeFeatures = false,
        cacheEvents = cacheEvents)).build(spark, target, outcome)
      val base = s"$out/sequence_cohort"
      def rows(split: String) =
        spark.read.parquet(s"$base/$split").collect().map(_.toString).sorted.toSeq
      (base, rows("train"), rows("test"))
    }

    val (cachedBase, cachedTrain, cachedTest) = run(cacheEvents = true)
    val (plainBase, plainTrain, plainTest) = run(cacheEvents = false)
    assert(cachedTrain.size == 3 && cachedTest.size == 1)
    assert(cachedTrain == plainTrain)
    assert(cachedTest == plainTest)
    // the inpatient stay reached the sequence as its discharge token
    assert(cachedTrain.exists(_.contains("8536")))

    for (barrier <- Seq("cohort_members", "cohort_ehr_records")) {
      assert(Files.exists(Paths.get(s"$cachedBase/$barrier")), s"$barrier missing with cacheEvents")
      assert(!Files.exists(Paths.get(s"$plainBase/$barrier")), s"$barrier written without cacheEvents")
    }
  }
}
