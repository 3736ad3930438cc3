package graft.omop

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.SparkSpecBase

/** The CDM fixture holds what the integration specs built on it state:
  * storage types as in the upstream sample, the per-person event layout,
  * and a vocabulary under which the default drug rollup maps a drug to its
  * Ingredient. */
class TinyCdmSpec extends SparkSpecBase {

  private lazy val cdm = TinyCdm.create(spark, "graft-tiny-cdm")

  test("tables are stored as in the sample CDM") {
    for (t <- Seq("person", "visit_occurrence", "observation_period",
        "condition_occurrence", "drug_exposure"))
      assert(spark.read.parquet(s"$cdm/$t").schema.forall(_.dataType == StringType), t)
    for (t <- Seq("concept", "concept_ancestor"))
      assert(spark.read.parquet(s"$cdm/$t").schema.filter(_.name.endsWith("concept_id"))
        .forall(_.dataType == IntegerType), t)
    assert(spark.read.parquet(s"$cdm/visit_occurrence").columns.contains("discharge_to_concept_id"))
    assert(Preprocess.domainTable(spark, cdm, OmopSchema.VisitOccurrence)
      .columns.contains("discharged_to_concept_id"))
  }

  test("per-person events and observation periods") {
    import spark.implicits._
    def personsWith(table: String, dateCol: String, before: String): Set[String] =
      spark.read.parquet(s"$cdm/$table").where(col(dateCol) < before)
        .select("person_id").as[String].collect().toSet
    val targets = Set("1", "2", "3", "4", "5", "6", "10")
    assert(personsWith("condition_occurrence", "condition_start_date", "2015-01-01") ==
      targets + "11")
    assert(personsWith("condition_occurrence", "condition_start_date", "2005-01-01") == targets)
    assert(personsWith("drug_exposure", "drug_exposure_start_date", "2005-01-01") == targets)
    val clinical = Seq("visit_occurrence", "condition_occurrence", "drug_exposure")
      .flatMap(t => spark.read.parquet(s"$cdm/$t").select("person_id").as[String].collect())
      .toSet
    assert(clinical == targets + "11")
    val ends = spark.read.parquet(s"$cdm/observation_period")
      .select("person_id", "observation_period_end_date").as[(String, String)].collect().toMap
    assert(ends.keySet == TinyCdm.Persons.toSet)
    assert(ends("2") == "2019-11-24")
    assert((ends - "2").values.forall(_ == "2020-12-31"))
  }

  test("the default drug rollup maps the drug to its Ingredient") {
    import spark.implicits._
    val drugs = Preprocess.domainTable(spark, cdm, OmopSchema.DrugExposure)
      .select(col("drug_concept_id").cast("int")).as[Int].collect()
    assert(drugs.length == 7)
    assert(drugs.forall(_ == TinyCdm.Ingredient))
  }
}
