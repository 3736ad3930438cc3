package graft.omop

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase

/**
 * Pins `ArtificialVisits.construct` directly. In `GenerateTrainingData` the
 * inner join to the visit table leaves it no orphans unless
 * `disconnectProblemListRecords` is set, so the pipeline specs do not reach
 * its re-link and mint branches.
 *
 * Events and visits carry string ids, as the CDM fixture stores them.
 */
class ArtificialVisitsSpec extends SparkSpecBase {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** (visit id, person, visit concept, start datetime, end datetime). */
  private def visits(rows: (String, String, String, String, String)*): DataFrame =
    rows.map { case (v, p, c, start, end) =>
        (v, p, c, Date.valueOf(start.take(10)), ts(start), Date.valueOf(end.take(10)), ts(end)) }
      .toDF("visit_occurrence_id", "person_id", "visit_concept_id", "visit_start_date",
        "visit_start_datetime", "visit_end_date", "visit_end_datetime")

  /** (person, concept, datetime, visit id, visit concept). */
  private def events(rows: (String, String, String, String, String)*): DataFrame =
    rows.map { case (p, c, t, v, vc) =>
        (p, c, Date.valueOf(t.take(10)), ts(t), v, vc, "condition") }
      .toDF("person_id", "standard_concept_id", "date", "datetime", "visit_occurrence_id",
        "visit_concept_id", "domain")

  private def eventRows(df: DataFrame): Seq[(String, String, String, String, String)] =
    df.select("person_id", "standard_concept_id", "datetime", "visit_occurrence_id",
        "visit_concept_id").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).toString.stripSuffix(".0"),
        r.getString(3), r.getString(4)))
      .sortBy(_.toString)

  /** The visit rows `construct` added to `visitOccurrence`:
    * (id, person, concept, start date, start datetime, end date, end datetime). */
  private def mintedVisits(result: ArtificialVisits.Result, input: DataFrame) =
    result.visitOccurrence.except(input).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDate(3).toString,
        r.getTimestamp(4).toString.stripSuffix(".0"), r.getDate(5).toString,
        r.getTimestamp(6).toString.stripSuffix(".0")))
      .sortBy(_._1)

  test("an orphan re-links to the earliest of two overlapping visits") {
    val vo = visits(
      ("11", "1", "9201", "2015-01-10 08:00:00", "2015-01-12 16:00:00"),
      ("12", "1", "9202", "2015-01-11 08:00:00", "2015-01-11 16:00:00"))
    val ev = events(
      ("1", "320128", "2015-01-11 10:00:00", null, null),
      ("1", "320129", "2015-01-11 12:00:00", "12", "9202"))
    val result = ArtificialVisits.construct(ev, vo)

    assert(eventRows(result.patientEvents) == Seq(
      ("1", "320128", "2015-01-11 10:00:00", "11", "9201"),
      ("1", "320129", "2015-01-11 12:00:00", "12", "9202")))
    assert(mintedVisits(result, vo).isEmpty)
  }

  test("an orphan inside two visits with one start links to the lower id, in either row order") {
    // "9" is the numeric minimum but not the lexicographic one
    val rows = Seq(
      ("9", "1", "9201", "2015-01-10 00:00:00", "2015-01-12 16:00:00"),
      ("11", "1", "9202", "2015-01-10 00:00:00", "2015-01-11 16:00:00"))
    val ev = events(("1", "320128", "2015-01-11 10:00:00", null, null))
    for (vo <- Seq(visits(rows: _*), visits(rows.reverse: _*))) {
      assert(eventRows(ArtificialVisits.construct(ev, vo).patientEvents) == Seq(
        ("1", "320128", "2015-01-11 10:00:00", "9", "9201")))
    }
  }

  test("orphans mint one visit per day above the numeric maximum id") {
    // "999" is the lexicographic maximum, 1999 the numeric one
    val vo = visits(
      ("999", "1", "9202", "2015-01-10 08:00:00", "2015-01-10 16:00:00"),
      ("1999", "1", "9202", "2015-02-10 08:00:00", "2015-02-10 16:00:00"))
    val ev = events(
      ("2", "320128", "2016-05-01 09:00:00", null, null),
      ("2", "320129", "2016-05-01 14:00:00", null, null),
      ("2", "320130", "2016-05-02 11:00:00", null, null))
    val result = ArtificialVisits.construct(ev, vo)

    // the events keep a null visit_concept_id; the minted visit rows carry 0
    assert(eventRows(result.patientEvents) == Seq(
      ("2", "320128", "2016-05-01 09:00:00", "2000", null),
      ("2", "320129", "2016-05-01 14:00:00", "2000", null),
      ("2", "320130", "2016-05-02 11:00:00", "2001", null)))
    assert(mintedVisits(result, vo) == Seq(
      ("2000", "2", "0", "2016-05-01", "2016-05-01 09:00:00", "2016-05-01", "2016-05-01 14:00:00"),
      ("2001", "2", "0", "2016-05-02", "2016-05-02 11:00:00", "2016-05-02", "2016-05-02 11:00:00")))
    assert(result.visitOccurrence.count() == 4)
  }

  private val problemListVisits = visits(
    ("31", "3", "9202", "2015-01-10 08:00:00", "2015-01-10 16:00:00"),
    ("32", "3", "9201", "2015-03-01 08:00:00", "2015-03-03 16:00:00"))

  // one event inside its visit's ±1 day bounds, one far outside them that
  // falls within the inpatient stay 32, and one outside every visit
  private val problemListEvents = events(
    ("3", "320128", "2015-01-11 09:00:00", "31", "9202"),
    ("3", "320129", "2015-03-02 09:00:00", "31", "9202"),
    ("3", "320130", "2015-06-01 09:00:00", "31", "9202"))

  test("disconnect moves records outside their visit's bounds") {
    val result = ArtificialVisits.construct(problemListEvents, problemListVisits,
      disconnectProblemListRecords = true)

    assert(eventRows(result.patientEvents) == Seq(
      ("3", "320128", "2015-01-11 09:00:00", "31", "9202"),
      ("3", "320129", "2015-03-02 09:00:00", "32", "9201"),
      ("3", "320130", "2015-06-01 09:00:00", "33", null)))
    assert(mintedVisits(result, problemListVisits) == Seq(
      ("33", "3", "0", "2015-06-01", "2015-06-01 09:00:00", "2015-06-01", "2015-06-01 09:00:00")))
  }

  test("disconnect with duplicateRecords keeps each moved record in its visit too") {
    val result = ArtificialVisits.construct(problemListEvents, problemListVisits,
      duplicateRecords = true, disconnectProblemListRecords = true)

    assert(eventRows(result.patientEvents) == Seq(
      ("3", "320128", "2015-01-11 09:00:00", "31", "9202"),
      ("3", "320129", "2015-03-02 09:00:00", "31", "9202"),
      ("3", "320129", "2015-03-02 09:00:00", "32", "9201"),
      ("3", "320130", "2015-06-01 09:00:00", "31", "9202"),
      ("3", "320130", "2015-06-01 09:00:00", "33", null)))
    assert(mintedVisits(result, problemListVisits).map(_._1) == Seq("33"))
  }

  test("exact duplicate orphans are kept twice, linked or minted") {
    val vo = visits(("41", "4", "9202", "2015-01-10 08:00:00", "2015-01-10 16:00:00"))
    val linked = ("4", "320128", "2015-01-10 09:00:00", null: String, null: String)
    val minted = ("4", "320129", "2015-07-01 09:00:00", null: String, null: String)
    val result = ArtificialVisits.construct(events(linked, linked, minted, minted), vo)

    assert(eventRows(result.patientEvents) == Seq(
      ("4", "320128", "2015-01-10 09:00:00", "41", "9202"),
      ("4", "320128", "2015-01-10 09:00:00", "41", "9202"),
      ("4", "320129", "2015-07-01 09:00:00", "42", null),
      ("4", "320129", "2015-07-01 09:00:00", "42", null)))
    assert(mintedVisits(result, vo).map(_._1) == Seq("42"))
  }
}
