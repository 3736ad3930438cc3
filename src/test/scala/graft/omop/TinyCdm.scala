package graft.omop

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * A small OMOP CDM for the integration specs, stored the way the upstream
 * Synthea sample is (FIXTURES.md §1): every clinical column string-typed,
 * the CDM 5.2 `discharge_to_concept_id` name on visit_occurrence, and int32
 * vocabulary ids.
 *
 * Contents:
 *  - persons 1–6 and 10–13, all born 1970-01-01;
 *  - persons 1–4: outpatient visits on 2015-01-10 and 2015-04-20, and
 *    person 2 an inpatient stay 2015-03-01..02 discharged to 8536; each of
 *    these visits carries one condition (concepts 320128..320130 in turn);
 *  - persons 1–6 and 10: one 2004-06-15 outpatient visit carrying one
 *    condition (320128) and one drug (19019073);
 *  - person 11: one 2010-06-15 outpatient visit carrying one condition;
 *  - persons 12–13: no rows outside person and observation_period;
 *  - observation periods 2000-01-01..2020-12-31, except person 2's, which
 *    ends 2019-11-24;
 *  - a vocabulary in which drug 19019073 rolls up to the Ingredient 1125315;
 *  - patient_splits: persons 1–3 train, person 4 test.
 */
object TinyCdm {

  val Persons: Seq[String] = Seq("1", "2", "3", "4", "5", "6", "10", "11", "12", "13")

  val Drug = "19019073"
  val Ingredient = 1125315

  /** Write the CDM into a fresh temp directory; returns its path. */
  def create(spark: SparkSession, prefix: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(prefix).toString
    def table(name: String, df: DataFrame): Unit =
      df.write.parquet(s"$dir/$name")

    table("person", Persons.map(p => (p, "8507", "1970", "1", "1", "1970-01-01 00:00:00", "8527"))
      .toDF("person_id", "gender_concept_id", "year_of_birth", "month_of_birth", "day_of_birth",
        "birth_datetime", "race_concept_id"))

    // (visit id, person, visit concept, start day, end day, discharged to)
    val visits2015 = Seq("1", "2", "3", "4").flatMap(p => Seq(
        (s"${p}1", p, "9202", "2015-01-10", "2015-01-10", null: String),
        (s"${p}2", p, "9202", "2015-04-20", "2015-04-20", null: String))) :+
      (("23", "2", "9201", "2015-03-01", "2015-03-02", "8536"))
    val visits2004 = Seq("1", "2", "3", "4", "5", "6", "10").map(p =>
      (s"${p}0", p, "9202", "2004-06-15", "2004-06-15", null: String))
    val visit2010 = ("111", "11", "9202", "2010-06-15", "2010-06-15", null: String)
    val visits = visits2015 ++ visits2004 :+ visit2010
    table("visit_occurrence", visits.map { case (v, p, c, start, end, disch) =>
        (v, p, c, start, s"$start 08:00:00", end, s"$end 16:00:00", "44818517", disch) }
      .toDF("visit_occurrence_id", "person_id", "visit_concept_id", "visit_start_date",
        "visit_start_datetime", "visit_end_date", "visit_end_datetime", "visit_type_concept_id",
        "discharge_to_concept_id"))

    table("observation_period", Persons.map { p =>
        (p, p, "2000-01-01", if (p == "2") "2019-11-24" else "2020-12-31", "44814724") }
      .toDF("observation_period_id", "person_id", "observation_period_start_date",
        "observation_period_end_date", "period_type_concept_id"))

    val conditions2015 = visits2015.zipWithIndex.map { case ((v, p, _, start, _, _), i) =>
      (s"$i", p, s"${320128 + i % 3}", start, s"$start 09:00:00", v, "32020") }
    val conditionsOther = (visits2004 :+ visit2010).zipWithIndex.map {
      case ((v, p, _, start, _, _), i) =>
        (s"${100 + i}", p, "320128", start, s"$start 09:00:00", v, "32020") }
    table("condition_occurrence", (conditions2015 ++ conditionsOther)
      .toDF("condition_occurrence_id", "person_id", "condition_concept_id",
        "condition_start_date", "condition_start_datetime", "visit_occurrence_id",
        "condition_type_concept_id"))

    table("drug_exposure", visits2004.zipWithIndex.map { case ((v, p, _, start, _, _), i) =>
        (s"${200 + i}", p, Drug, start, s"$start 10:00:00", start, "38000177", v) }
      .toDF("drug_exposure_id", "person_id", "drug_concept_id", "drug_exposure_start_date",
        "drug_exposure_start_datetime", "drug_exposure_end_date", "drug_type_concept_id",
        "visit_occurrence_id"))

    table("concept", Seq(
        (320128, "Condition 320128", "Condition", "SNOMED", "Clinical Finding", "S", "320128"),
        (320129, "Condition 320129", "Condition", "SNOMED", "Clinical Finding", "S", "320129"),
        (320130, "Condition 320130", "Condition", "SNOMED", "Clinical Finding", "S", "320130"),
        (Drug.toInt, s"Drug $Drug", "Drug", "RxNorm", "Clinical Drug", "S", Drug),
        (Ingredient, s"Ingredient $Ingredient", "Drug", "RxNorm", "Ingredient", "S", s"$Ingredient"))
      .toDF("concept_id", "concept_name", "domain_id", "vocabulary_id", "concept_class_id",
        "standard_concept", "concept_code"))
    table("concept_ancestor", Seq((320128, 320128, 0, 0), (Ingredient, Drug.toInt, 1, 1))
      .toDF("ancestor_concept_id", "descendant_concept_id", "min_levels_of_separation",
        "max_levels_of_separation"))
    table("concept_relationship", Seq((320128, 320128, "Maps to"))
      .toDF("concept_id_1", "concept_id_2", "relationship_id"))
    table("patient_splits", Seq(("1", "train"), ("2", "train"), ("3", "train"), ("4", "test"))
      .toDF("person_id", "split"))
    dir
  }
}
