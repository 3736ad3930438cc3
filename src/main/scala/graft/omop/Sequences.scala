package graft.omop

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.functions.TimeTokens.AttType
import graft.omop.decorators._

/**
 * Per-patient sequence assembly: run the decorator chain, order events,
 * struct-pack, collect per (cohort_member_id, person_id), sort, and explode
 * field-wise into parallel arrays.
 *
 * Reference: /root/reference/src/cehrbert_data/utils/spark_utils.py:299-659.
 *
 * Critical ordering semantic (SURVEY §1.3): `sort_array` on array<struct>
 * sorts lexicographically by field position, so `order` (a row_number over
 * (visit_rank_order, concept_order, priority, datetime, standard_concept_id))
 * MUST stay the first struct field. Field order below matches the reference
 * exactly. The reference collects with `collect_set`, but no two structs of a
 * group are equal: `order` is a row_number over the same
 * (cohort_member_id, person_id) the aggregation groups on. So `collect_list`
 * keeps the same elements without hashing each struct.
 *
 * Scale: the struct-pack + collect_list aggregation shuffles once on
 * (cohort_member_id, person_id) — the natural high-cardinality key; windows
 * use the same key, so with AQE the shuffle is reused. Nothing here requires
 * a global window.
 */
object Sequences {

  /** Decorator-chain + array assembly (spark_utils.py:428-632). */
  def createSequenceDataWithAtt(
      patientEventsIn: DataFrame,
      visitOccurrence: DataFrame,
      dateFilter: Option[String] = None,
      includeVisitType: Boolean = false,
      excludeVisitTokens: Boolean = false,
      patientDemographic: Option[DataFrame] = None,
      death: Option[DataFrame] = None,
      attType: AttType = AttType.CehrBert,
      inpatientAttType: AttType = AttType.Mix,
      excludeDemographic: Boolean = true,
      useAgeGroup: Boolean = false,
      includeInpatientHourToken: Boolean = false,
      cohortIndex: Option[DataFrame] = None,
      persistenceFolder: Option[String] = None): DataFrame = {

    var patientEvents = dateFilter match {
      case Some(d) => patientEventsIn.where(col("date").cast("date") >= lit(d))
      case None => patientEventsIn
    }

    // For prediction cohorts: clamp visit_start to index_date − 1 day for
    // visits starting after the index (spark_utils.py:469-493). The
    // reference also keeps only visits that appear in the events; the
    // decorators read visits through the events, so that filter is implied.
    var visits = visitOccurrence
    cohortIndex.foreach { idx =>
      val joinKeys =
        if (visits.columns.contains("cohort_member_id")) Seq("person_id", "cohort_member_id")
        else Seq("person_id")
      visits = visits
        .join(idx, joinKeys)
        .withColumn("visit_start_datetime",
          when(col("visit_start_datetime") > col("index_date"),
            F.expr("index_date - INTERVAL 1 DAY"))
          .otherwise(col("visit_start_datetime")))
        .withColumn("visit_start_date", F.to_date(col("visit_start_datetime")))
    }

    val decorators: Seq[PatientEventDecorator] = Seq(
      new ClinicalEventDecorator(visits, persistenceFolder),
      new AttEventDecorator(visits, includeVisitType, excludeVisitTokens, attType,
        inpatientAttType, includeInpatientHourToken, persistenceFolder),
      new DeathEventDecorator(death, attType, persistenceFolder)) ++
      (if (!excludeDemographic)
        Seq(new DemographicEventDecorator(patientDemographic, useAgeGroup, persistenceFolder))
      else Nil)

    patientEvents = decorators.foldLeft(patientEvents)((df, d) => d.decorate(df))

    // Prediction tasks only keep events at or before the index datetime
    cohortIndex.foreach { idx =>
      patientEvents = patientEvents
        .join(idx, Seq("person_id", "cohort_member_id"))
        .where(col("datetime") <= col("index_date") ||
          col("standard_concept_id") === OmopSchema.EndToken)
        .drop("index_date")
    }

    val orderCol = F.row_number().over(
      Window.partitionBy("cohort_member_id", "person_id")
        .orderBy("visit_rank_order", "concept_order", "priority", "datetime",
          "standard_concept_id"))
    val recordRank = F.dense_rank().over(
      Window.partitionBy("cohort_member_id", "person_id")
        .orderBy("visit_rank_order", "concept_order", "priority", "datetime"))

    // field order is the sort order — do not reorder
    val structColumns = Seq(
      "order", "record_rank", "date_in_week", "standard_concept_id",
      "visit_segment", "age", "visit_rank_order", "concept_value_mask",
      "number_as_value", "concept_as_value", "is_numeric_type",
      "mlm_skip_value", "visit_concept_id", "visit_concept_order",
      "concept_order", "priority", "unit", "epoch_time")

    val grouped = patientEvents
      .withColumn("order", orderCol)
      .withColumn("epoch_time", F.unix_timestamp(col("datetime")))
      .withColumn("record_rank", recordRank)
      .withColumn("data_for_sorting", F.struct(structColumns.map(col): _*))
      .groupBy("cohort_member_id", "person_id")
      .agg(
        F.sort_array(F.collect_list(col("data_for_sorting"))).as("data_for_sorting"),
        F.max("visit_rank_order").as("num_of_visits"),
        F.count("standard_concept_id").as("num_of_concepts"))

    grouped
      .withColumn("orders", col("data_for_sorting.order").cast(ArrayType(IntegerType)))
      .withColumn("record_ranks", col("data_for_sorting.record_rank").cast(ArrayType(IntegerType)))
      .withColumn("dates", col("data_for_sorting.date_in_week"))
      .withColumn("concept_ids", col("data_for_sorting.standard_concept_id"))
      .withColumn("visit_segments", col("data_for_sorting.visit_segment"))
      .withColumn("ages", col("data_for_sorting.age"))
      .withColumn("visit_rank_orders", col("data_for_sorting.visit_rank_order"))
      .withColumn("visit_concept_orders", col("data_for_sorting.visit_concept_order"))
      .withColumn("concept_orders", col("data_for_sorting.concept_order"))
      .withColumn("priorities", col("data_for_sorting.priority"))
      .withColumn("concept_value_masks", col("data_for_sorting.concept_value_mask"))
      .withColumn("number_as_values", col("data_for_sorting.number_as_value"))
      .withColumn("concept_as_values", col("data_for_sorting.concept_as_value"))
      .withColumn("is_numeric_types", col("data_for_sorting.is_numeric_type"))
      .withColumn("mlm_skip_values", col("data_for_sorting.mlm_skip_value"))
      .withColumn("visit_concept_ids", col("data_for_sorting.visit_concept_id"))
      .withColumn("units", col("data_for_sorting.unit"))
      .withColumn("epoch_times", col("data_for_sorting.epoch_time"))
      .select("cohort_member_id", "person_id", "concept_ids", "visit_segments",
        "orders", "dates", "ages", "visit_concept_orders", "num_of_visits",
        "num_of_concepts", "concept_value_masks", "number_as_values",
        "concept_as_values", "is_numeric_types", "mlm_skip_values",
        "priorities", "visit_concept_ids", "visit_rank_orders",
        "concept_orders", "record_ranks", "units", "epoch_times")
  }

  /** Classic (week-binned) sequence assembly (spark_utils.py:299-425). */
  def createSequenceData(
      patientEventIn: DataFrame,
      dateFilter: Option[String] = None,
      includeVisitType: Boolean = false,
      classicBertSeq: Boolean = false): DataFrame = {

    var patientEvent = dateFilter match {
      case Some(d) => patientEventIn.where(col("date") >= lit(d))
      case None => patientEventIn
    }

    val dateInWeek = (F.unix_timestamp(col("date")) / lit(24 * 60 * 60 * 7)).cast("int")
    val earliestVisitDate = F.min("date_in_week").over(Window.partitionBy("visit_occurrence_id"))
    val visitRank = F.dense_rank().over(
      Window.partitionBy("cohort_member_id", "person_id").orderBy("earliest_visit_date"))

    patientEvent = patientEvent
      .where(col("visit_occurrence_id").isNotNull)
      .withColumn("date_in_week", dateInWeek)
      .withColumn("earliest_visit_date", earliestVisitDate)
      .withColumn("visit_rank_order", visitRank)
      .withColumn("visit_segment", col("visit_rank_order") % lit(2) + 1)
      .withColumn("priority", lit(0))

    if (classicBertSeq) {
      val visitStartDate = F.first("date").over(
        Window.partitionBy("cohort_member_id", "person_id", "visit_occurrence_id").orderBy("date"))
      val prevVisitId = F.lag("visit_occurrence_id", 1).over(
        Window.partitionBy("cohort_member_id", "person_id")
          .orderBy("visit_start_date", "visit_occurrence_id"))
      val separators = patientEvent
        .withColumn("visit_start_date", visitStartDate)
        .withColumn("prev_visit_occurrence_id", prevVisitId)
        .where(col("prev_visit_occurrence_id").isNotNull)
        .where(col("visit_occurrence_id") =!= col("prev_visit_occurrence_id"))
        .withColumn("domain", lit("Separator"))
        .withColumn("standard_concept_id", lit("SEP"))
        .withColumn("priority", lit(-1))
        .withColumn("visit_segment", lit(0))
        .select(patientEvent.columns.map(col): _*)
      patientEvent = patientEvent.union(separators)
    }

    val orderCol = F.row_number().over(
      Window.partitionBy("cohort_member_id", "person_id")
        .orderBy("earliest_visit_date", "visit_occurrence_id", "priority",
          "date_in_week", "standard_concept_id"))

    val structColumns =
      Seq("order", "date_in_week", "standard_concept_id", "visit_segment",
        "age", "visit_rank_order") ++
        (if (includeVisitType) Seq("visit_concept_id") else Nil)

    var grouped = patientEvent
      .withColumn("order", orderCol)
      .withColumn("date_concept_id_period", F.struct(structColumns.map(col): _*))
      .groupBy("person_id", "cohort_member_id")
      .agg(
        F.sort_array(F.collect_list(col("date_concept_id_period"))).as("date_concept_id_period"),
        F.min("earliest_visit_date").as("earliest_visit_date"),
        F.max("date").as("max_event_date"),
        F.max("visit_rank_order").as("num_of_visits"),
        F.count("standard_concept_id").as("num_of_concepts"))
      .withColumn("orders", col("date_concept_id_period.order").cast(ArrayType(IntegerType)))
      .withColumn("dates", col("date_concept_id_period.date_in_week"))
      .withColumn("concept_ids", col("date_concept_id_period.standard_concept_id"))
      .withColumn("visit_segments", col("date_concept_id_period.visit_segment"))
      .withColumn("ages", col("date_concept_id_period.age"))
      .withColumn("visit_concept_orders", col("date_concept_id_period.visit_rank_order"))

    var outCols = Seq("cohort_member_id", "person_id", "earliest_visit_date",
      "max_event_date", "orders", "dates", "ages", "concept_ids",
      "visit_segments", "visit_concept_orders", "num_of_visits", "num_of_concepts")

    if (includeVisitType) {
      grouped = grouped.withColumn("visit_concept_ids",
        col("date_concept_id_period.visit_concept_id"))
      outCols = outCols :+ "visit_concept_ids"
    }
    grouped.select(outCols.map(col): _*)
  }

  /** Bag-of-concepts features (spark_utils.py:635-659), with the reference's
    * two row-pluck Python UDFs replaced by native struct-field access. */
  def createConceptFrequencyData(patientEventIn: DataFrame,
                                 dateFilter: Option[String] = None): DataFrame = {
    val patientEvent = dateFilter match {
      case Some(d) => patientEventIn.where(col("date") >= lit(d))
      case None => patientEventIn
    }

    val numOfVisitsConcepts = patientEvent
      .groupBy("cohort_member_id", "person_id")
      .agg(F.countDistinct("visit_occurrence_id").as("num_of_visits"),
        F.count("standard_concept_id").as("num_of_concepts"))

    patientEvent
      .groupBy("cohort_member_id", "person_id", "standard_concept_id")
      .count()
      .withColumn("concept_id_freq", F.struct("standard_concept_id", "count"))
      .groupBy("cohort_member_id", "person_id")
      .agg(F.collect_list("concept_id_freq").as("sequence"))
      .withColumn("concept_ids", col("sequence.standard_concept_id"))
      .withColumn("frequencies", col("sequence.count").cast(ArrayType(IntegerType)))
      .select("cohort_member_id", "person_id", "concept_ids", "frequencies")
      .join(numOfVisitsConcepts, Seq("person_id", "cohort_member_id"))
  }

  /** Visit-level features: inpatient flag, 30-day readmission, prolonged stay,
    * inter-visit ATT (spark_utils.py:946-1041; pandas ATT UDF → Column expr). */
  def createVisitPersonJoin(person: DataFrame, visitOccurrence: DataFrame,
                            includeIncompleteVisit: Boolean = true): DataFrame = {
    import graft.functions.TimeTokens

    val w = Window.partitionBy("person_id")
      .orderBy("visit_start_date", "visit_end_date", "visit_occurrence_id")

    val isInpatient =
      col("visit_concept_id").isin(OmopSchema.InpatientConceptIdsReadmission: _*).cast("integer")
    val readmission = F.coalesce(
      ((col("time_interval") <= 30)
        && col("visit_concept_id").isin(OmopSchema.InpatientConceptIdsReadmission: _*)
        && col("prev_visit_concept_id").isin(OmopSchema.InpatientConceptIdsReadmission: _*))
        .cast("integer"),
      lit(0))
    val prolonged = F.coalesce(
      (F.datediff(col("visit_end_date"), col("visit_start_date")) >= 7).cast("integer"), lit(0))

    val visitFilter =
      if (includeIncompleteVisit) col("visit_start_date").isNotNull
      else col("visit_start_date").isNotNull && col("visit_end_date").isNotNull

    val visits = visitOccurrence
      .select("visit_occurrence_id", "person_id", "visit_concept_id",
        "visit_start_date", "visit_end_date")
      .where(visitFilter)
      .withColumn("visit_rank_order", F.row_number().over(w))
      .withColumn("visit_segment", col("visit_rank_order") % lit(2) + 1)
      .withColumn("prev_visit_occurrence_id", F.lag("visit_occurrence_id", 1).over(w))
      .withColumn("prev_visit_concept_id", F.lag("visit_concept_id", 1).over(w))
      .withColumn("prev_visit_start_date", F.lag("visit_start_date", 1).over(w))
      .withColumn("prev_visit_end_date", F.lag("visit_end_date", 1).over(w))
      .withColumn("time_interval", F.datediff(col("visit_start_date"), col("prev_visit_end_date")))
      .withColumn("time_interval",
        when(col("time_interval") < 0, lit(0)).otherwise(col("time_interval")))
      .withColumn("time_interval_att", TimeTokens.cehrBertToken(col("time_interval")))
      .withColumn("is_inpatient", isInpatient)
      .withColumn("is_readmission", readmission)
      .withColumn("prolonged_stay", prolonged)
      .select("visit_occurrence_id", "visit_concept_id", "person_id",
        "prolonged_stay", "is_readmission", "is_inpatient", "time_interval_att",
        "visit_rank_order", "visit_start_date", "visit_segment")

    val personBirth = person.select(col("person_id"), Preprocess.birthDatetime.as("birth_datetime"))

    visits.join(personBirth, "person_id")
  }

  /** Age at event: ceil(months_between(date, birth)/12)
    * (spark_utils.py:920-922, extract_features.py:255). */
  def ageAt(dateCol: Column, birthCol: Column): Column =
    F.ceil(F.months_between(dateCol, birthCol) / lit(12))
}
