package graft.omop

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase
import graft.omop.tools.QualifiedConceptList

/**
 * Numeric-domain event extraction (`Events.numericEvents` through
 * `extractEventsByDomain` and `extractEhrRecords`) on [[TinyCdm]] plus a
 * measurement table written into this suite's own copy of the fixture:
 *  - person 1, visit 11: concept 3004410 at 09:10 (120, unit `mg/dL{calc}`)
 *    and 09:40 (130, `mg/dL`), one hour's two readings;
 *  - person 1, visit 999, which is not in visit_occurrence: the same concept
 *    at 09:20 (140);
 *  - person 2, visit 21: concept 3000905 (7.5, unit `/uL`) and a reading of
 *    concept "0", which extraction drops;
 *  - person 3, visit 31: concept 3003000 with no number, only a value
 *    concept.
 */
class EventsSpec extends SparkSpecBase {

  /** A TinyCdm copy with the measurement table above. */
  private def cdmWithMeasurements(prefix: String): String = {
    import spark.implicits._
    val dir = TinyCdm.create(spark, prefix)
    Seq(
      ("1", "1", "3004410", "2015-01-10 09:10:00", Some(120.0), null, "mg/dL{calc}", "11"),
      ("2", "1", "3004410", "2015-01-10 09:40:00", Some(130.0), null, "mg/dL", "11"),
      ("3", "1", "3004410", "2015-01-10 09:20:00", Some(140.0), null, "mg/dL", "999"),
      ("4", "2", "3000905", "2015-01-10 10:00:00", Some(7.5), null, "/uL", "21"),
      ("5", "2", "0", "2015-01-10 10:30:00", Some(1.0), null, "mg", "21"),
      ("6", "3", "3003000", "2015-01-10 11:00:00", None, "45878583", null, "31"))
      .map { case (id, p, c, t, v, vc, unit, visit) =>
        (id, p, c, t.take(10), t, v, vc, null: String, unit, visit) }
      .toDF("measurement_id", "person_id", "measurement_concept_id", "measurement_date",
        "measurement_datetime", "value_as_number", "value_as_concept_id", "unit_concept_id",
        "unit_source_value", "visit_occurrence_id")
      .write.parquet(s"$dir/${OmopSchema.Measurement}")
    dir
  }

  private lazy val cdm = cdmWithMeasurements("graft-events")

  /** (visit, concept, datetime, number, concept value, unit), sorted. */
  private def rows(events: DataFrame): Seq[(String, String, String, Any, String, String)] =
    events.select("visit_occurrence_id", "standard_concept_id", "datetime", "number_as_value",
        "concept_as_value", "unit").collect().toSeq
      .map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2).toString.stripSuffix(".0"), r.get(3), r.getString(4), r.getString(5)))
      .sortBy(_.toString)

  private def processedPaths(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("processed_")).toSeq

  private def extractMeasurements(dir: String, aggregateByHour: Boolean): DataFrame =
    Events.extractEventsByDomain(
      Preprocess.domainTable(spark, dir, OmopSchema.Measurement),
      concept = Some(Preprocess.domainTable(spark, dir, OmopSchema.Concept)),
      aggregateByHour = aggregateByHour)

  test("numeric events: unit cleanup, concept 0 dropped, value concepts kept") {
    assert(rows(extractMeasurements(cdm, aggregateByHour = false)) == Seq(
      ("11", "3004410", "2015-01-10 09:10:00", 120.0, null, "mg/dL"),
      ("11", "3004410", "2015-01-10 09:40:00", 130.0, null, "mg/dL"),
      ("21", "3000905", "2015-01-10 10:00:00", 7.5, null, "1/uL"),
      ("31", "3003000", "2015-01-10 11:00:00", null, "45878583", OmopSchema.NA),
      ("999", "3004410", "2015-01-10 09:20:00", 140.0, null, "mg/dL")))
  }

  test("numeric events by hour: the mean at the hour's earliest datetime") {
    assert(rows(extractMeasurements(cdm, aggregateByHour = true)) == Seq(
      ("11", "3004410", "2015-01-10 09:10:00", 125.0, null, "mg/dL"),
      ("21", "3000905", "2015-01-10 10:00:00", 7.5, null, "1/uL"),
      ("31", "3003000", "2015-01-10 11:00:00", null, "45878583", OmopSchema.NA),
      ("999", "3004410", "2015-01-10 09:20:00", 140.0, null, "mg/dL")))
  }

  test("a concept list built first does not change a later extraction") {
    val expected = Seq(
      ("11", "3004410", "2015-01-10 09:10:00", 125.0, null, "mg/dL"),
      ("21", "3000905", "2015-01-10 10:00:00", 7.5, null, "1/uL"),
      ("31", "3003000", "2015-01-10 11:00:00", null, "45878583", OmopSchema.NA))
    def records(dir: String) = rows(Events.extractEhrRecords(spark, dir,
      Seq(OmopSchema.Measurement), aggregateByHour = true))

    val fresh = cdmWithMeasurements("graft-events-fresh")
    assert(records(fresh) == expected)
    assert(processedPaths(fresh).isEmpty)

    // the concept list reads the same table without the visit check and
    // without hourly aggregation
    val concepts = QualifiedConceptList.build(spark, cdm, minNumOfPatients = 1,
      domainTableList = Seq(OmopSchema.Measurement)).collect()
    assert(concepts.map(_.getString(0)).sorted.toSeq == Seq("3000905", "3003000", "3004410"))
    assert(processedPaths(cdm).isEmpty)
    assert(records(cdm) == expected)
    assert(processedPaths(cdm).isEmpty)
  }
}
