package graft.omop

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.omop.tools.{ConnectOmopVisits, ConvertPredictionTimeToStr, SampleOmopTables, UpdateOmopVisit}

/** The four small OMOP tools: visit-id rewrite (round-tripped through the
  * real ConnectOmopVisits mapping), person sampling, parquet re-encode, and
  * CLI table-name validation. */
class ToolsSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(): String = Files.createTempDirectory("graft-tools").toString

  test("ConnectOmopVisits -> UpdateOmopVisit rewrites every mapped visit_occurrence_id") {
    import spark.implicits._
    val out = tmp()
    val in = tmp()
    // person 1: two inpatient visits 2h apart (merge: 102 -> 101) and an
    // outpatient visit starting inside the first span (fold: 201 -> 101);
    // person 2: an isolated outpatient visit (unchanged)
    val visits = Seq(
      (1L, 101L, 9201, "2020-01-01 08:00:00", "2020-01-02 20:00:00"),
      (1L, 102L, 9201, "2020-01-02 22:00:00", "2020-01-03 12:00:00"),
      (1L, 201L, 9202, "2020-01-01 10:00:00", "2020-01-01 11:00:00"),
      (2L, 301L, 9202, "2020-03-05 09:00:00", "2020-03-05 10:00:00"))
      .toDF("person_id", "visit_occurrence_id", "visit_concept_id", "s", "e")
      .withColumn("visit_start_datetime", col("s").cast("timestamp"))
      .withColumn("visit_end_datetime", col("e").cast("timestamp"))
      .withColumn("visit_start_date", col("s").cast("date"))
      .withColumn("visit_end_date", col("e").cast("date"))
      .drop("s", "e")

    val result = ConnectOmopVisits.run(visits, persistence = Some(out))
    result.mapping.write.mode("overwrite").parquet(s"$out/visit_mapping")
    val mapped = result.mapping.select("visit_occurrence_id")
      .as[Long].collect().toSet
    assert(mapped == Set(102L, 201L))

    // domain rows spread over mapped and unmapped visits
    Seq((1L, 102L, 11L), (1L, 201L, 12L), (2L, 301L, 13L), (1L, 101L, 14L))
      .toDF("person_id", "visit_occurrence_id", "condition_concept_id")
      .write.mode("overwrite").parquet(s"$in/condition_occurrence")
    // vocabulary pass-through source
    val vocab = tmp()
    Seq((9201L, "Inpatient Visit")).toDF("concept_id", "concept_name")
      .write.mode("overwrite").parquet(s"$vocab/concept")

    UpdateOmopVisit.run(spark, in, out, vocabularyFolder = Some(vocab))

    // 102 and 201 repointed at master 101; 301 and 101 untouched
    val got = spark.read.parquet(s"$out/condition_occurrence")
      .select("condition_concept_id", "visit_occurrence_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(11L -> 101L, 12L -> 101L, 13L -> 301L, 14L -> 101L))
    // no absorbed id survives anywhere
    assert(!got.values.exists(mapped.contains))
    // column order mirrors the reference: visit_occurrence_id first
    assert(spark.read.parquet(s"$out/condition_occurrence").columns.head
      == "visit_occurrence_id")
    // vocabulary copied through byte-for-byte
    assert(spark.read.parquet(s"$out/concept").count() == 1)
  }

  test("SampleOmopTables keeps only sampled persons, once each") {
    import spark.implicits._
    val omop = tmp(); val out = tmp(); val samplePath = tmp() + "/sample"
    Seq(1L, 2L, 2L).toDF("person_id").write.parquet(samplePath) // dup in sample
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("person_id", "visit_occurrence_id")
      .write.parquet(s"$omop/visit_occurrence")
    SampleOmopTables.run(spark, samplePath, omop, out)
    val got = spark.read.parquet(s"$out/visit_occurrence")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 20L))) // person 3 dropped, no dup rows
  }

  test("ConvertPredictionTimeToStr rewrites prediction_time as ISO string, preserving layout") {
    import spark.implicits._
    val in = tmp(); val out = tmp()
    Seq((1L, ts("2023-05-06 07:08:09.123456")))
      .toDF("person_id", "prediction_time")
      .write.parquet(s"$in/cohort_a/labels")
    Seq((2L, "no-ts-column")).toDF("id", "v").write.parquet(s"$in/aux")
    val converted = ConvertPredictionTimeToStr.run(spark, in, out)
    assert(converted.toSet == Set("cohort_a/labels", "aux"))
    val row = spark.read.parquet(s"$out/cohort_a/labels").collect()(0)
    assert(row.schema("prediction_time").dataType.typeName == "string")
    assert(row.getAs[String]("prediction_time") == "2023-05-06 07:08:09.123456")
    assert(spark.read.parquet(s"$out/aux").count() == 1) // passthrough intact
  }

  test("ExtractFeatures.readCohort reads CSV with header + inferSchema (S8)") {
    import graft.omop.tools.ExtractFeatures
    val dir = tmp()
    val csv = new java.io.File(s"$dir/cohort.csv")
    val w = new java.io.PrintWriter(csv)
    // custom column names exercise the rename path; inferSchema must type
    // subject as a number and when as a timestamp-able string
    w.println("subject,when,outcome")
    w.println("7,2021-03-04 05:06:07,1")
    w.println("3,2020-01-02 03:04:05,0")
    w.close()
    val cfg = ExtractFeatures.Config(
      cohortDir = csv.toString, cohortName = "c", inputFolder = "", outputFolder = "",
      ehrTableList = Seq.empty, personIdColumn = "subject",
      indexDateColumn = "when", labelColumn = "outcome")
    val got = ExtractFeatures.readCohort(spark, cfg)
    assert(got.columns.toSeq ==
      Seq("person_id", "index_date", "label", "cohort_member_id"))
    assert(got.schema("index_date").dataType.typeName == "timestamp")
    assert(got.schema("label").dataType.typeName == "integer")
    val rows = got.collect().map(r =>
      (r.getAs[Number]("person_id").longValue(), r.getAs[Int]("label"),
        r.getAs[Int]("cohort_member_id"))).toSet
    // cohort_member_id is the (person_id, index_date)-ordered row_number
    assert(rows == Set((3L, 0, 1), (7L, 1, 2)))
  }

  test("ExtractFeatures.readCohort scans parquet recursively across nested dirs (S4/S9)") {
    import spark.implicits._
    import graft.omop.tools.ExtractFeatures
    val dir = tmp()
    // two leaf files in DIFFERENT nested subdirectories — a plain
    // non-recursive read of the root would miss both
    Seq((1L, ts("2020-05-06 00:00:00"), 1))
      .toDF("person_id", "index_date", "label")
      .write.parquet(s"$dir/part_a/chunk_0")
    Seq((2L, ts("2021-07-08 00:00:00"), 0))
      .toDF("person_id", "index_date", "label")
      .write.parquet(s"$dir/part_b/nested/chunk_1")
    val cfg = ExtractFeatures.Config(
      cohortDir = dir, cohortName = "c", inputFolder = "", outputFolder = "",
      ehrTableList = Seq.empty)
    val got = ExtractFeatures.readCohort(spark, cfg)
      .select("person_id", "label", "cohort_member_id")
      .as[(Long, Int, Int)].collect().toSet
    assert(got == Set((1L, 1, 1), (2L, 0, 2)))
  }

  test("ConvertPredictionTimeToLocal shifts prediction_time from UTC distributedly (S13)") {
    import spark.implicits._
    import graft.omop.tools.ConvertPredictionTimeToLocal
    // session timezone is pinned UTC, so the shifted wall-clock is stable:
    // 12:00 UTC -> 07:00 America/New_York (EST, -5) / 08:00 EDT (-4)
    val df = Seq(
      (1L, ts("2023-01-15 12:00:00")), // winter: EST, UTC-5
      (2L, ts("2023-07-15 12:00:00"))) // summer: EDT, UTC-4
      .toDF("subject_id", "prediction_time")
    val got = ConvertPredictionTimeToLocal(df, "America/New_York")
      .as[(Long, Timestamp)].collect().toMap
    assert(got(1L) == ts("2023-01-15 07:00:00"))
    assert(got(2L) == ts("2023-07-15 08:00:00"))
    // non-default column name path
    val other = ConvertPredictionTimeToLocal(
      df.withColumnRenamed("prediction_time", "t"), "Asia/Tokyo", "t")
      .as[(Long, Timestamp)].collect().toMap
    assert(other(1L) == ts("2023-01-15 21:00:00")) // UTC+9, no DST
  }

  test("validateTableNames rejects a typo'd CDM table name fast") {
    assertThrows[IllegalArgumentException] {
      Apps.validateTableNames(Seq("condition_occurrence", "conditon_occurence"))
    }
    assert(Apps.validateTableNames(Seq("measurement", "death")) ==
      Seq("measurement", "death"))
  }
}
