package graft.omop

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.omop.cohort.{NestedCohortBuilder, QueryBuilder}

/**
 * End-to-end assembly of NestedCohortBuilder.build over the in-repo CDM
 * fixture ([[TinyCdm]]): exclusion rewrites → bounded labeling →
 * cohort_member_id allocation → positives-first safeguard → EHR-record
 * filter → study_end_date / time_to_event → split-aware sink. The SQL
 * shapes themselves are DuckDB-oracled by the driver (j11/j12); this spec
 * pins the surrounding orchestration the oracle can't see
 * (spark_app_base.py:276-607).
 */
class NestedCohortBuilderSpec extends SparkSpecBase {

  private lazy val omopInput = TinyCdm.create(spark, "graft-nested-cdm")

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
    // (2019-11-24 for person 2 in the fixture CDM)
    assert(!rows(2L)._2)
    assert(rows(2L)._3 ==
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse("2015-01-01"),
        java.time.LocalDate.parse("2019-11-24")).toInt)
  }

  test("build: concept-frequency feature branch joins features and applies thresholds") {
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

  test("build: sequence features land the same with and without cacheEvents") {
    import spark.implicits._
    val target = Seq(1L, 2L, 3L, 4L)
      .map(p => (p, ts("2015-06-01 00:00:00"), p * 10 + 2))
      .toDF("person_id", "index_date", "visit_occurrence_id")
    val outcome = Seq((2L, ts("2015-09-01 00:00:00"))).toDF("person_id", "index_date")

    def run(cacheEvents: Boolean): (String, Seq[String], Seq[String]) = {
      val out = Files.createTempDirectory("graft-nested-seq").toString
      new NestedCohortBuilder(NestedCohortBuilder.Config(
        cohortName = "Sequence Cohort",
        inputFolder = omopInput,
        outputFolder = out,
        ehrTableList = Seq("condition_occurrence"),
        observationWindow = 365,
        holdOffWindow = 0,
        predictionStartDays = 1,
        predictionWindow = 360,
        patientSplitsFolder = Some(s"$omopInput/patient_splits"),
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
