package graft.omop.cohort

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions.col

import graft.omop.{OmopSchema, Preprocess, Vocab}

/**
 * Builds a base cohort (person_id, index_date, visit_occurrence_id, age,
 * gender, race) from a [[QueryBuilder]] spec: materialize ancestor tables and
 * dependency queries as global temp views, run the templated main SQL,
 * post-process, then interval-join observation_period, attach demographics,
 * and apply age/date bounds.
 *
 * Reference: /root/reference/src/cehrbert_data/cohorts/spark_app_base.py:89-273.
 *
 * Scale: cohort SQL touches dimension-sized tables (cohort entries ≪ events);
 * the observation-period interval join keeps person_id as the equi key so
 * Catalyst plans a hash join with a range residual (SURVEY §2.3 J10).
 */
final class BaseCohortBuilder(
    queryBuilder: QueryBuilder,
    inputFolder: String,
    outputFolder: String,
    dateLowerBound: String,
    dateUpperBound: String,
    ageLowerBound: Int,
    ageUpperBound: Int,
    priorObservationPeriod: Int,
    postObservationPeriod: Int) {

  require(ageLowerBound >= 0 && ageUpperBound > 0 && ageLowerBound < ageUpperBound)
  require(priorObservationPeriod >= 0 && postObservationPeriod >= 0)

  val cohortRequiredColumns = Seq("person_id", "index_date", "visit_occurrence_id")

  val outputDataFolder = BaseCohortBuilder.cohortFolder(outputFolder, queryBuilder.cohortName)

  val DefaultDependency: Seq[String] = BaseCohortBuilder.DefaultDependency

  private var dependencyDict: Map[String, DataFrame] = Map.empty

  /** Register dependency tables as global temp views (spark_app_base.py:68-74). */
  def instantiateDependencies(spark: SparkSession): Map[String, DataFrame] = {
    dependencyDict = BaseCohortBuilder.registerDependencies(spark, inputFolder,
      queryBuilder.dependencyList ++ DefaultDependency)
    dependencyDict
  }

  private def validateCohort(df: DataFrame, context: String): DataFrame = {
    cohortRequiredColumns.foreach { c =>
      if (!df.columns.contains(c))
        throw new AssertionError(s"$c is a required column in the cohort ($context)")
    }
    df
  }

  /** Resolve ancestor tables + dependency/entry/negative queries, run the
    * main query, apply post-process queries (spark_app_base.py:146-192). */
  def createCohort(spark: SparkSession): DataFrame = {
    queryBuilder.ancestorTableSpecs.foreach { spec =>
      val table =
        if (spec.isStandard)
          Vocab.getDescendantConcepts(
            spark.table(s"global_temp.${OmopSchema.ConceptAncestor}"),
            spark.table(s"global_temp.${OmopSchema.Concept}"),
            spec.ancestorConceptIds)
        else
          Vocab.buildAncestryTableFor(
            spark.table(s"global_temp.${OmopSchema.ConceptRelationship}"),
            spec.ancestorConceptIds)
      table.createOrReplaceGlobalTempView(spec.tableName)
    }

    (queryBuilder.dependencyQueries ++
      queryBuilder.entryCohortQuery.toSeq ++
      queryBuilder.negativeQuery.toSeq).foreach { q =>
      spark.sql(q.sql).createOrReplaceGlobalTempView(q.tableName)
    }

    var cohort = spark.sql(queryBuilder.query.sql)
    cohort.createOrReplaceGlobalTempView(queryBuilder.query.tableName)
    queryBuilder.postQueries.foreach { q =>
      cohort = spark.sql(q.sql)
      cohort.createOrReplaceGlobalTempView(queryBuilder.query.tableName)
    }
    validateCohort(cohort, "createCohort")
  }

  /** J10 interval join against observation_period (spark_app_base.py:226-245). */
  def applyObservationPeriod(spark: SparkSession, cohort: DataFrame): DataFrame = {
    cohort.createOrReplaceGlobalTempView("cohort")
    val qualified = spark.sql(
      s"""SELECT c.*
         |FROM global_temp.cohort AS c
         |JOIN global_temp.observation_period AS p
         |  ON c.person_id = p.person_id
         |  AND c.index_date - INTERVAL $priorObservationPeriod DAY >= p.observation_period_start_date
         |  AND c.index_date + INTERVAL $postObservationPeriod DAY <= p.observation_period_end_date
         |""".stripMargin)
    spark.sql("DROP VIEW global_temp.cohort")
    validateCohort(qualified, "applyObservationPeriod")
  }

  /** Demographic attach + age at index (spark_app_base.py:247-262). */
  def addDemographics(cohort: DataFrame): DataFrame =
    validateCohort(
      cohort.join(dependencyDict(OmopSchema.Person), "person_id")
        .withColumn("year_of_birth",
          F.coalesce(F.year(col("birth_datetime")), col("year_of_birth")))
        .withColumn("age", F.year(col("index_date")) - col("year_of_birth"))
        .select("person_id", "age", "gender_concept_id", "race_concept_id",
          "index_date", "visit_occurrence_id")
        .distinct(),
      "addDemographics")

  /** Full build: cohort → observation-period filter → demographics → bounds →
    * parquet (spark_app_base.py:194-223). */
  def build(spark: SparkSession): BaseCohortBuilder = {
    if (dependencyDict.isEmpty) instantiateDependencies(spark)
    var cohort = createCohort(spark)
    cohort = applyObservationPeriod(spark, cohort)
    cohort = addDemographics(cohort)
    cohort = cohort
      .where(col("age").between(ageLowerBound, ageUpperBound))
      .where(col("index_date").between(F.lit(dateLowerBound).cast("timestamp"),
        F.lit(dateUpperBound).cast("timestamp")))
    cohort.write.mode("overwrite").parquet(outputDataFolder)
    this
  }

  def loadCohort(spark: SparkSession): DataFrame = spark.read.parquet(outputDataFolder)
}

object BaseCohortBuilder {

  /** Tables every cohort build reads through global temp views. */
  val DefaultDependency: Seq[String] = Seq("person", "visit_occurrence",
    "observation_period", "concept", "concept_ancestor", "concept_relationship")

  /** `outputFolder/<slug>`, the slug being the lowercased cohort name with
    * every run of other characters replaced by `_`. */
  def cohortFolder(outputFolder: String, cohortName: String): String =
    s"$outputFolder/${cohortName.toLowerCase.replaceAll("[^a-z0-9]+", "_")}"

  /** Read each named table through [[Preprocess.domainTable]] and register
    * it as a global temp view under its own name. */
  def registerDependencies(spark: SparkSession, inputFolder: String,
                           names: Seq[String]): Map[String, DataFrame] =
    names.distinct.map { name =>
      val table = Preprocess.domainTable(spark, inputFolder, name)
      table.createOrReplaceGlobalTempView(name)
      name -> table
    }.toMap
}
