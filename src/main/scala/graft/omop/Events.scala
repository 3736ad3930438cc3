package graft.omop

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DateType, FloatType, StringType, TimestampType}

import graft.core.Checkpoints
import graft.omop.OmopSchema._

/**
 * Domain-table → unified patient-event normalization.
 *
 * Reference: /root/reference/src/cehrbert_data/utils/spark_utils.py —
 * DOMAIN_KEY_FIELDS (:41-95) + name-scanning fallbacks (:100-155), the
 * non-numeric projection (:158-237), the measurement/observation/device SQL
 * branches (:1054-1264, deduplicated here into one parameterized pipeline),
 * `invalidate_visit_id` (:827-843) and `extract_ehr_records` (:845-943).
 *
 * Scale: everything is a projection/filter/left-join-on-tiny-concept — the
 * concept unit lookup is broadcast (vocabulary tables are MBs, events are TBs),
 * and `.distinct()` shuffles on the full event row — the reference's dedup
 * semantic, kept as-is.
 */
object Events {

  /** (conceptField, dateField, datetimeField, domainTableName) — the key-field
    * mapping keyed by a sentinel column present in the table
    * (spark_utils.py:41-95). visit_occurrence maps to two event families. */
  final case class DomainKeys(conceptField: String, dateField: String,
                              datetimeField: String, domainTableName: String)

  val DomainKeyFields: Seq[(String, Seq[DomainKeys])] = Seq(
    "condition_occurrence_id" -> Seq(DomainKeys("condition_concept_id",
      "condition_start_date", "condition_start_datetime", ConditionOccurrence)),
    "procedure_occurrence_id" -> Seq(DomainKeys("procedure_concept_id",
      "procedure_date", "procedure_datetime", ProcedureOccurrence)),
    "drug_exposure_id" -> Seq(DomainKeys("drug_concept_id",
      "drug_exposure_start_date", "drug_exposure_start_datetime", DrugExposure)),
    "measurement_id" -> Seq(DomainKeys("measurement_concept_id",
      "measurement_date", "measurement_datetime", Measurement)),
    "observation_id" -> Seq(DomainKeys("observation_concept_id",
      "observation_date", "observation_datetime", Observation)),
    "device_exposure_id" -> Seq(DomainKeys("device_concept_id",
      "device_exposure_start_date", "device_exposure_start_datetime", DeviceExposure)),
    "death_date" -> Seq(DomainKeys("cause_concept_id", "death_date", "death_datetime", Death)))

  /** Key discovery: sentinel-column lookup, then name-scanning fallback
    * (spark_utils.py:100-155). */
  def getKeyFields(df: DataFrame): Seq[DomainKeys] = {
    val names = df.schema.fieldNames
    DomainKeyFields.collectFirst { case (k, v) if names.contains(k) => v }.getOrElse {
      val conceptField = names.find(_.contains("concept_id")).getOrElse(
        throw new IllegalArgumentException(s"no concept_id column in ${names.mkString(",")}"))
      Seq(DomainKeys(
        conceptField,
        names.find(n => n.contains("date") && !n.contains("datetime")).getOrElse(
          throw new IllegalArgumentException("no date column")),
        names.find(_.contains("datetime")).getOrElse(conceptField),
        conceptField.replace("_concept_id", "")))
    }
  }

  def isDomainNumeric(domainTableName: String): Boolean =
    Seq(Measurement, Observation, DeviceExposure).exists(_.startsWith(domainTableName))

  def domainHasUnit(df: DataFrame): Boolean =
    df.schema.fieldNames.exists(_.contains("unit_concept_id"))

  /** P10 unit cleanup: strip `{...}` annotations; leading "/" → "1/"
    * (spark_utils.py:1044-1051). */
  def cleanUpUnit(df: DataFrame): DataFrame = df
    .withColumn("unit", F.regexp_replace(col("unit"), "\\{.*?\\}", ""))
    .withColumn("unit", F.regexp_replace(col("unit"), "^/", "1/"))

  /** Unified event projection for non-numeric domains (spark_utils.py:207-230). */
  def nonNumericEvents(domainTable: DataFrame, keys: DomainKeys): DataFrame = {
    val filtered = domainTable
      .where(col(keys.dateField).isNotNull)
      .where(col(keys.conceptField).isNotNull)
      .where(col(keys.conceptField).cast("string") =!= "0")
      .withColumn("date", F.to_date(col(keys.dateField)))
      .withColumn("datetime", F.to_timestamp(
        F.coalesce(col(keys.datetimeField), col(keys.dateField))))
    filtered.select(
      col("person_id"),
      // the unified event schema is string-typed (SURVEY §1.1): artificial
      // tokens ("[VS]", "W1", …) union in later, and ANSI coercion would
      // otherwise resolve the union numerically and fail on them
      col(keys.conceptField).cast(StringType).as("standard_concept_id"),
      col("date").cast(DateType),
      col("datetime").cast(TimestampType),
      col("visit_occurrence_id"),
      lit(keys.domainTableName.split("_")(0)).as("domain"),
      lit(null).cast(StringType).as("event_group_id"),
      lit(null).cast(FloatType).as("number_as_value"),
      lit(null).cast(StringType).as("concept_as_value"),
      (if (domainHasUnit(filtered)) col("unit") else lit(NA).as("unit"))
    ).distinct()
  }

  /**
   * Numeric domains (measurement/observation/device): unit concept lookup,
   * unit cleanup on numeric rows, optional hourly aggregation
   * (spark_utils.py:1054-1264 — three near-identical SQL branches expressed
   * once; the concept join is broadcast: vocabulary is tiny next to events).
   */
  def numericEvents(domainTable: DataFrame, concept: DataFrame, keys: DomainKeys,
                    aggregateByHour: Boolean = false,
                    persistence: Option[String] = None,
                    refresh: Boolean = false): DataFrame = {
    val domainName = keys.domainTableName.split("_")(0)
    val processedName = s"processed_$domainName"

    val spark = domainTable.sparkSession
    val processed = persistence.map(folder => s"$folder/$processedName")
    if (!refresh && processed.exists(Checkpoints.exists(spark, _)))
      return Preprocess.normalize(spark.read.parquet(processed.get))

    // device_exposure carries quantity (no value_as_concept_id); measurement
    // and observation carry value_as_number + value_as_concept_id
    val valueNumber =
      if (domainTable.columns.contains("value_as_number")) col("value_as_number")
      else col("quantity")
    val valueConcept =
      if (domainTable.columns.contains("value_as_concept_id"))
        col("value_as_concept_id").cast(StringType)
      else lit(null).cast(StringType)
    val unitSource =
      if (domainTable.columns.contains("unit_source_value")) col("unit_source_value")
      else lit(null).cast(StringType)

    val conceptCodes = F.broadcast(
      concept.select(col("concept_id").as("__unit_concept_id"),
        col("concept_code").as("__unit_code")))

    val events = domainTable
      .join(conceptCodes, col("unit_concept_id") === col("__unit_concept_id"), "left_outer")
      .select(
        col("person_id"),
        col(keys.conceptField).cast(StringType).as("standard_concept_id"),
        col(keys.dateField).cast(DateType).as("date"),
        F.coalesce(col(keys.datetimeField), col(keys.dateField)).cast(TimestampType).as("datetime"),
        col("visit_occurrence_id"),
        lit(domainName).as("domain"),
        lit(null).cast(StringType).as("event_group_id"),
        valueNumber.as("number_as_value"),
        valueConcept.as("concept_as_value"),
        F.coalesce(col("__unit_code"), unitSource, lit(NA)).as("unit"))
      .distinct()

    val numeric = cleanUpUnit(events.where(col("number_as_value").isNotNull))
    val nonNumeric = events.where(col("number_as_value").isNull)

    val numericOut =
      if (aggregateByHour) {
        numeric.withColumn("lab_hour", F.hour(col("datetime")))
          .groupBy("person_id", "visit_occurrence_id", "standard_concept_id",
            "unit", "date", "lab_hour")
          .agg(F.min("datetime").as("datetime"), F.avg("number_as_value").as("number_as_value"))
          .withColumn("domain", lit(domainName).cast(StringType))
          .withColumn("concept_as_value", lit(null).cast(StringType))
          .withColumn("event_group_id", lit(null).cast(StringType))
          .drop("lab_hour")
      } else numeric

    Checkpoints.lineageBarrier(numericOut.unionByName(nonNumeric), persistence, processedName)
  }

  /** Route a preprocessed domain table into unified events
    * (spark_utils.py:158-237). */
  def extractEventsByDomain(domainTable: DataFrame,
                            concept: Option[DataFrame] = None,
                            aggregateByHour: Boolean = false,
                            refresh: Boolean = false,
                            persistence: Option[String] = None): DataFrame =
    getKeyFields(domainTable).map { keys =>
      if (isDomainNumeric(keys.domainTableName)) {
        val c = concept.getOrElse(throw new IllegalArgumentException(
          s"concept table required for numeric domain ${keys.domainTableName}"))
        numericEvents(domainTable, c, keys, aggregateByHour, persistence, refresh)
          .where(col("standard_concept_id") =!= "0")
      } else nonNumericEvents(domainTable, keys)
    }.reduce(_.unionByName(_))

  /** Null-out visit ids that don't exist in visit_occurrence
    * (spark_utils.py:827-843) — left join + conditional, one shuffle on
    * visit_occurrence_id (or broadcast when the visit table is small). */
  def invalidateVisitId(domainTable: DataFrame, visitOccurrence: DataFrame): DataFrame = {
    val validIds = visitOccurrence.select(
      col("visit_occurrence_id").as("__valid_visit_id")).distinct()
    domainTable
      .join(validIds, col("visit_occurrence_id") === col("__valid_visit_id"), "left")
      .withColumn("visit_occurrence_id",
        when(col("__valid_visit_id").isNotNull, col("visit_occurrence_id")).otherwise(lit(null)))
      .drop("__valid_visit_id")
  }

  /** Multi-domain union + optional concept-list semi-filter + age enrichment
    * (spark_utils.py:845-943). */
  def extractEhrRecords(spark: SparkSession, inputFolder: String,
                        domainTableList: Seq[String],
                        includeVisitType: Boolean = false,
                        withDiagnosisRollup: Boolean = false,
                        withDrugRollup: Boolean = false,
                        qualifiedConceptList: Option[DataFrame] = None,
                        refreshMeasurement: Boolean = false,
                        aggregateByHour: Boolean = false,
                        keepOrphanRecords: Boolean = false): DataFrame = {
    val concept = Preprocess.domainTable(spark, inputFolder, Concept)
    val visitOccurrence = Preprocess.domainTable(spark, inputFolder, VisitOccurrence)

    var records = domainTableList.map { name =>
      val domainTable = Preprocess.domainTable(spark, inputFolder, name,
        withDiagnosisRollup, withDrugRollup)
      extractEventsByDomain(
        invalidateVisitId(domainTable, visitOccurrence),
        concept = Some(concept),
        aggregateByHour = aggregateByHour,
        refresh = refreshMeasurement,
        persistence = Some(inputFolder))
    }.reduce(_.unionByName(_))

    qualifiedConceptList.foreach { q =>
      records = records.join(F.broadcast(q.select("standard_concept_id")), "standard_concept_id")
    }

    if (!keepOrphanRecords)
      records = records.where(col("visit_occurrence_id").isNotNull).distinct()

    val person = Preprocess.domainTable(spark, inputFolder, Person)
      .withColumn("birth_datetime", Preprocess.birthDatetime)

    var out = records.join(person, "person_id")
      .withColumn("age", Sequences.ageAt(col("date"), col("birth_datetime")))

    if (includeVisitType) {
      val vo = Preprocess.domainTable(spark, inputFolder, VisitOccurrence)
      val recordCols = Seq("person_id", "standard_concept_id", "date", "datetime",
        "visit_occurrence_id", "domain", "unit", "number_as_value",
        "concept_as_value", "event_group_id", "age")
      out = out.join(vo.select("visit_occurrence_id", "visit_concept_id"),
          Seq("visit_occurrence_id"), "left_outer")
        .select((recordCols :+ "visit_concept_id").map(col): _*)
    }
    out
  }
}
