package graft.omop

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.{Date, Timestamp}
import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.TimeTokens.AttType
import graft.omop.decorators._

/**
 * End-to-end decorator-chain test on a hand-built OMOP fixture
 * (fixture-DataFrame style mirrors the reference's unit tests; expectations
 * derived from the reference decorator semantics under
 * /root/reference/src/cehrbert_data/decorators/).
 *
 * Fixture:
 *  - patient 1: two outpatient visits (9202), 10-day gap between end of v1
 *    and start of v2; one condition event in each.
 *  - patient 2: one inpatient visit (9201) spanning 2 days with events on
 *    both days (inpatient ATT "i-D1" expected between the day groups),
 *    discharged home (8536), then death 5 days after discharge.
 *  - patient 3 (gender and race 0): an inpatient visit starting 08:00 with
 *    two events on its first day and one two days later, no discharge
 *    concept; a second inpatient visit starting at midnight with a null end
 *    date; a visit with visit_concept_id 0; death three weeks later.
 *  - patient 4: one outpatient visit; the pinned option sets leave it out
 *    of the demographic frame, so it keeps only its year token.
 */
class SequenceSpec extends SparkSpecBase {

  import spark.implicits._

  // wall-clock strings read as UTC instants, the session time zone, so the
  // pinned epoch_times do not depend on the JVM's default zone
  private def ts(s: String) =
    Timestamp.from(LocalDateTime.parse(s.replace(' ', 'T')).toInstant(ZoneOffset.UTC))
  private def d(s: String) = Date.valueOf(s)

  private lazy val visitOccurrence: DataFrame = Seq(
    // (visit_occurrence_id, person_id, visit_concept_id, start_date, start_dt, end_date, end_dt, discharged_to)
    (101L, 1L, 9202, d("2020-01-01"), ts("2020-01-01 09:00:00"), d("2020-01-01"), ts("2020-01-01 10:00:00"), null.asInstanceOf[Integer]),
    (102L, 1L, 9202, d("2020-01-11"), ts("2020-01-11 14:00:00"), d("2020-01-11"), ts("2020-01-11 15:00:00"), null.asInstanceOf[Integer]),
    (201L, 2L, 9201, d("2020-03-01"), ts("2020-03-01 08:00:00"), d("2020-03-02"), ts("2020-03-02 12:00:00"), Integer.valueOf(8536)),
    (301L, 3L, 9201, d("2020-05-01"), ts("2020-05-01 08:00:00"), d("2020-05-03"), ts("2020-05-03 12:00:00"), null.asInstanceOf[Integer]),
    (302L, 3L, 9201, d("2020-06-01"), ts("2020-06-01 00:00:00"), null.asInstanceOf[Date], null.asInstanceOf[Timestamp], Integer.valueOf(8536)),
    (303L, 3L, 0, d("2020-07-01"), ts("2020-07-01 11:00:00"), d("2020-07-01"), ts("2020-07-01 12:00:00"), null.asInstanceOf[Integer]),
    (401L, 4L, 9202, d("2021-02-01"), ts("2021-02-01 09:00:00"), d("2021-02-01"), ts("2021-02-01 09:30:00"), null.asInstanceOf[Integer]))
    .toDF("visit_occurrence_id", "person_id", "visit_concept_id", "visit_start_date",
      "visit_start_datetime", "visit_end_date", "visit_end_datetime", "discharged_to_concept_id")

  private lazy val person: DataFrame = Seq(
    (1L, ts("1980-06-15 00:00:00"), 8507, 8527),
    (2L, ts("1970-01-01 00:00:00"), 8532, 8516),
    (3L, ts("1990-03-10 00:00:00"), 0, 0),
    (4L, ts("2000-12-31 00:00:00"), 8507, 8527))
    .toDF("person_id", "birth_datetime", "gender_concept_id", "race_concept_id")

  private lazy val death: DataFrame = Seq((2L, d("2020-03-07")), (3L, d("2020-07-22")))
    .toDF("person_id", "death_date")

  /** Raw events as extract_ehr_records would emit them (+ visit_concept_id,
    * age, cohort_member_id as generate_training_data adds). */
  private lazy val patientEvents: DataFrame = Seq(
    (1L, "C1", d("2020-01-01"), ts("2020-01-01 09:30:00"), 101L, "condition", 9202),
    (1L, "C2", d("2020-01-11"), ts("2020-01-11 14:30:00"), 102L, "condition", 9202),
    (2L, "C3", d("2020-03-01"), ts("2020-03-01 09:00:00"), 201L, "condition", 9201),
    (2L, "C4", d("2020-03-02"), ts("2020-03-02 10:00:00"), 201L, "condition", 9201),
    (3L, "C5", d("2020-05-01"), ts("2020-05-01 10:00:00"), 301L, "condition", 9201),
    (3L, "C6", d("2020-05-01"), ts("2020-05-01 15:30:00"), 301L, "condition", 9201),
    (3L, "C7", d("2020-05-03"), ts("2020-05-03 09:00:00"), 301L, "condition", 9201),
    (3L, "C8", d("2020-06-01"), ts("2020-06-01 02:00:00"), 302L, "condition", 9201),
    (3L, "C9", d("2020-06-04"), ts("2020-06-04 06:00:00"), 302L, "condition", 9201),
    (3L, "C10", d("2020-07-01"), ts("2020-07-01 11:30:00"), 303L, "condition", 0),
    (4L, "C11", d("2021-02-01"), ts("2021-02-01 09:00:00"), 401L, "condition", 9202))
    .toDF("person_id", "standard_concept_id", "date", "datetime",
      "visit_occurrence_id", "domain", "visit_concept_id")
    .withColumn("event_group_id", lit(null).cast("string"))
    .withColumn("number_as_value", lit(null).cast("float"))
    .withColumn("concept_as_value", lit(null).cast("string"))
    .withColumn("unit", lit(OmopSchema.NA))
    .withColumn("age", lit(40))
    .withColumn("cohort_member_id", col("person_id"))

  private lazy val visitWithAge: DataFrame =
    visitOccurrence.join(
        person.select("person_id", "birth_datetime", "race_concept_id", "gender_concept_id"),
        "person_id")
      .withColumn("age",
        ceil(months_between(col("visit_start_date"), col("birth_datetime")) / lit(12)))
      .drop("birth_datetime")

  test("ClinicalEventDecorator attaches ranks, orders, segments per contract") {
    val out = new ClinicalEventDecorator(visitWithAge).decorate(patientEvents)
    assert(out.columns.toSet == OmopSchema.RequiredEventColumns)

    val p1 = out.filter($"person_id" === 1).orderBy("visit_rank_order").collect()
    assert(p1.map(_.getAs[Int]("visit_rank_order")).toSeq == Seq(1, 2))
    assert(p1.map(_.getAs[Int]("visit_segment")).toSeq == Seq(2, 1))
    // outpatient: concept_order constant 1
    assert(p1.forall(_.getAs[Int]("concept_order") == 1))
    // inpatient patient 2: two events on different days → concept orders 1, 2
    val p2 = out.filter($"person_id" === 2).orderBy("concept_order").collect()
    assert(p2.map(_.getAs[Int]("concept_order")).toSeq == Seq(1, 2))
    assert(p2.map(_.getAs[Int]("visit_concept_order")).toSeq == Seq(1, 2))
  }

  test("full ATT sequence matches reference token layout (cehr_bert, mix inpatient)") {
    val seqData = Sequences.createSequenceDataWithAtt(
      patientEvents, visitWithAge,
      includeVisitType = true,
      death = Some(death),
      attType = AttType.CehrBert,
      inpatientAttType = AttType.Mix)

    val rows = seqData.collect().map(r =>
      r.getAs[Long]("person_id") -> r.getSeq[String](r.fieldIndex("concept_ids"))).toMap

    // patient 1: [VS] 9202 C1 [VE] | W1 [VS] 9202 C2 [VE]
    // (gap = 2020-01-11 − 2020-01-01 = 10 days → floor(10/7) = W1)
    assert(rows(1L) == Seq("[VS]", "9202", "C1", "[VE]", "W1", "[VS]", "9202", "C2", "[VE]"))

    // patient 2 (inpatient): [VS] 9201 C3 i-D1 C4 8536 [VE] then death visit
    // W0 (5-day gap → floor(5/7)=0) [VS] [DEATH] [VE]
    assert(rows(2L) == Seq("[VS]", "9201", "C3", "i-D1", "C4", "8536", "[VE]",
      "W0", "[VS]", "[DEATH]", "[VE]"))
  }

  test("demographic decorator prepends year/age/gender/race prompt tokens") {
    val seqData = Sequences.createSequenceDataWithAtt(
      patientEvents, visitWithAge,
      includeVisitType = false,
      patientDemographic = Some(person),
      excludeDemographic = false,
      attType = AttType.Day,
      inpatientAttType = AttType.Day)

    val p1 = seqData.filter($"person_id" === 1).collect()(0)
    val ids = p1.getSeq[String](p1.fieldIndex("concept_ids"))
    assert(ids.take(4) == Seq("year:2020", "age:40", "8507", "8527"))
    // day tokens: 10-day gap → D10
    assert(ids.contains("D10"))
  }

  /** One pinned option set: `run` builds the sequences given a persistence
    * folder; each patient's concept_ids and the md5 of the sorted full rows
    * (every output column, dates, orders, priorities and epoch_times
    * included) must match with the folder off and on. */
  private def pin(label: String, concepts: Map[Long, Seq[String]], rowsMd5: String)(
      run: Option[String] => DataFrame): Unit = {
    for (folder <- Seq(None, Some(Files.createTempDirectory("graft-seq").toString))) {
      val rows = run(folder).collect()
      val ids = rows.map(r =>
        r.getAs[Long]("person_id") -> r.getSeq[String](r.fieldIndex("concept_ids")).toSeq).toMap
      assert(ids == concepts, s"$label, persistenceFolder=$folder")
      val md5 = MessageDigest.getInstance("MD5")
        .digest(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(md5 == rowsMd5, s"$label, persistenceFolder=$folder")
    }
  }

  private lazy val demographicsWithoutPatient4 = person.where($"person_id" =!= 4)

  test("pinned rows: CehrBert/Mix with visit types, death, demographics and hour tokens") {
    pin("cehrbert-mix-full", Map(
      1L -> Seq("year:2020", "age:40", "8507", "8527", "[VS]", "9202", "C1", "[VE]", "W1", "[VS]", "9202", "C2", "[VE]"),
      2L -> Seq("year:2020", "age:51", "8532", "8516", "[VS]", "9201", "i-H8", "C3", "i-D1", "i-H10", "C4", "i-H13", "8536", "[VE]", "W0", "[VS]", "[DEATH]", "[VE]"),
      3L -> Seq("year:2020", "age:31", "Gender/0", "Race/0", "[VS]", "9201", "i-H8", "C5", "C6", "i-D2", "i-H9", "C7", "i-H14", "Discharge/0", "[VE]", "M0", "[VS]", "9201", "C8", "C9", "8536", "[VE]", "M1", "[VS]", "Visit/0", "C10", "[VE]", "W3", "[VS]", "[DEATH]", "[VE]"),
      4L -> Seq("year:2021", "[VS]", "9202", "C11", "[VE]")),
      "e8f6c37979147de8b80142516bab9cc5") { folder =>
      Sequences.createSequenceDataWithAtt(patientEvents, visitWithAge,
        includeVisitType = true,
        patientDemographic = Some(demographicsWithoutPatient4),
        death = Some(death),
        attType = AttType.CehrBert,
        inpatientAttType = AttType.Mix,
        excludeDemographic = false,
        includeInpatientHourToken = true,
        persistenceFolder = folder)
    }
  }

  test("pinned rows: Day/Day with excludeVisitTokens") {
    pin("day-day-no-visit-tokens", Map(
      1L -> Seq("C1", "D10", "C2"),
      2L -> Seq("C3", "i-D1", "C4", "8536"),
      3L -> Seq("C5", "C6", "i-D2", "C7", "Discharge/0", "D29", "C8", "C9", "8536", "D30", "C10"),
      4L -> Seq("C11")),
      "014c7d7737ef27dccb76e1eeb2837634") { folder =>
      Sequences.createSequenceDataWithAtt(patientEvents, visitWithAge,
        excludeVisitTokens = true,
        death = Some(death),
        attType = AttType.Day,
        inpatientAttType = AttType.Day,
        persistenceFolder = folder)
    }
  }

  test("pinned rows: Mix with age groups and hour tokens") {
    pin("mix-age-group-hours", Map(
      1L -> Seq("year:2020", "age:30-40", "8507", "8527", "[VS]", "C1", "[VE]", "W2", "[VS]", "C2", "[VE]"),
      2L -> Seq("year:2020", "age:50-60", "8532", "8516", "[VS]", "i-H8", "C3", "i-D1", "i-H10", "C4", "i-H13", "8536", "[VE]", "D5", "[VS]", "[DEATH]", "[VE]"),
      3L -> Seq("year:2020", "age:30-40", "Gender/0", "Race/0", "[VS]", "i-H8", "C5", "C6", "i-D2", "i-H9", "C7", "i-H14", "Discharge/0", "[VE]", "W5", "[VS]", "C8", "C9", "8536", "[VE]", "W5", "[VS]", "C10", "[VE]", "W3", "[VS]", "[DEATH]", "[VE]"),
      4L -> Seq("year:2021", "[VS]", "C11", "[VE]")),
      "1ba32907e834398551f587ec70adefe7") { folder =>
      Sequences.createSequenceDataWithAtt(patientEvents, visitWithAge,
        patientDemographic = Some(demographicsWithoutPatient4),
        death = Some(death),
        attType = AttType.Mix,
        inpatientAttType = AttType.Mix,
        excludeDemographic = false,
        useAgeGroup = true,
        includeInpatientHourToken = true,
        persistenceFolder = folder)
    }
  }

  test("pinned rows: the default set (visit types, death, CehrBert/Mix)") {
    pin("default", Map(
      1L -> Seq("[VS]", "9202", "C1", "[VE]", "W1", "[VS]", "9202", "C2", "[VE]"),
      2L -> Seq("[VS]", "9201", "C3", "i-D1", "C4", "8536", "[VE]", "W0", "[VS]", "[DEATH]", "[VE]"),
      3L -> Seq("[VS]", "9201", "C5", "C6", "i-D2", "C7", "Discharge/0", "[VE]", "M0", "[VS]", "9201", "C8", "C9", "8536", "[VE]", "M1", "[VS]", "Visit/0", "C10", "[VE]", "W3", "[VS]", "[DEATH]", "[VE]"),
      4L -> Seq("[VS]", "9202", "C11", "[VE]")),
      "e5cd4f7570c1e6810ae41089c80670fb") { folder =>
      Sequences.createSequenceDataWithAtt(patientEvents, visitWithAge,
        includeVisitType = true,
        death = Some(death),
        attType = AttType.CehrBert,
        inpatientAttType = AttType.Mix,
        persistenceFolder = folder)
    }
  }

  test("persistence layout: one demographic token barrier, first-hour tokens with the visit tokens") {
    val folder = Files.createTempDirectory("graft-seq-layout").toString
    Sequences.createSequenceDataWithAtt(patientEvents, visitWithAge,
      patientDemographic = Some(demographicsWithoutPatient4),
      excludeDemographic = false,
      includeInpatientHourToken = true,
      persistenceFolder = Some(folder)).count()

    val demographicBarriers = Files.list(Paths.get(folder, "demographic_events"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(demographicBarriers == Set("sequence_start_year_tokens", "sequence_demographic_tokens"))

    val firstHour = $"priority" === OmopSchema.FirstVisitHourTokenPriority
    val visitTokens = spark.read.parquet(s"$folder/att_events/artificial_tokens")
    assert(visitTokens.where(firstHour).select("person_id", "standard_concept_id")
      .as[(Long, String)].collect().sorted.toSeq == Seq(2L -> "i-H8", 3L -> "i-H8"))
    assert(spark.read.parquet(s"$folder/att_events/inpatient_att_events").where(firstHour).isEmpty)
  }

  test("createSequenceData (classic) orders by week bins") {
    val clinical = new ClinicalEventDecorator(visitWithAge).decorate(patientEvents)
    val seqData = Sequences.createSequenceData(clinical)
    val p1 = seqData.filter($"person_id" === 1).collect()(0)
    assert(p1.getSeq[String](p1.fieldIndex("concept_ids")) == Seq("C1", "C2"))
    assert(p1.getAs[Int]("num_of_visits") == 2)
    assert(p1.getAs[Long]("num_of_concepts") == 2L)
  }

  test("createConceptFrequencyData counts per-concept frequencies") {
    val freq = Sequences.createConceptFrequencyData(patientEvents)
    val p2 = freq.filter($"person_id" === 2).collect()(0)
    val concepts = p2.getSeq[String](p2.fieldIndex("concept_ids"))
    assert(concepts.toSet == Set("C3", "C4"))
    assert(p2.getAs[Long]("num_of_visits") == 1)
  }

  test("createVisitPersonJoin computes readmission and prolonged-stay flags") {
    val visits = Seq(
      (1L, 301L, 9201, d("2020-01-01"), d("2020-01-10")),
      (1L, 302L, 9201, d("2020-01-20"), d("2020-01-21")),
      (1L, 303L, 9202, d("2020-05-01"), d("2020-05-01")))
      .toDF("person_id", "visit_occurrence_id", "visit_concept_id",
        "visit_start_date", "visit_end_date")
    val persons = Seq((1L, ts("1980-01-01 00:00:00"), 1980))
      .toDF("person_id", "birth_datetime", "year_of_birth")

    val out = Sequences.createVisitPersonJoin(persons, visits)
      .orderBy("visit_rank_order").collect()
    assert(out.map(_.getAs[Int]("is_inpatient")).toSeq == Seq(1, 1, 0))
    // visit 302 starts 10 days after 301 ends → readmission
    assert(out.map(_.getAs[Int]("is_readmission")).toSeq == Seq(0, 1, 0))
    assert(out.map(_.getAs[Int]("prolonged_stay")).toSeq == Seq(1, 0, 0))
    assert(out(1).getAs[String]("time_interval_att") == "W1")
  }
}
