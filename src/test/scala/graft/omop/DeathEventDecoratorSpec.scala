package graft.omop

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.SparkSpecBase
import graft.functions.TimeTokens.AttType
import graft.omop.OmopSchema._
import graft.omop.decorators.DeathEventDecorator

/**
 * The death decorator on a hand-built decorated-event frame (the 24-column
 * contract, as the ATT decorator leaves it):
 *  - person 1 (cohort member 20): visits 101 and 102, [VE]s on 2020-01-01
 *    and 2020-02-01; died 2020-02-15, 14 days after → "W2";
 *  - person 2 (cohort member 10): visit 201 with its [VE] on 2020-03-05 and
 *    a later-numbered visit 205 without one; died 2020-03-01, before that
 *    [VE] → the gap clamps to "W0";
 *  - person 3 is alive; its visit 301 is the largest id in the frame.
 */
class DeathEventDecoratorSpec extends SparkSpecBase {

  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)
  private def ts(s: String) = Timestamp.valueOf(s)

  // (person, member, concept, unit, date, visit id, visit_rank_order, priority)
  private lazy val events: DataFrame = Seq(
    (1L, 20L, "[VS]", NA, "2020-01-01", 101L, 1, VsTokenPriority),
    (1L, 20L, "C1", NA, "2020-01-01", 101L, 1, DefaultPriority),
    (1L, 20L, "[VE]", NA, "2020-01-01", 101L, 1, VeTokenPriority),
    (1L, 20L, "[VS]", NA, "2020-02-01", 102L, 2, VsTokenPriority),
    (1L, 20L, "C2", "mg", "2020-02-01", 102L, 2, DefaultPriority),
    (1L, 20L, "[VE]", "ve-unit", "2020-02-01", 102L, 2, VeTokenPriority),
    (2L, 10L, "[VS]", NA, "2020-03-05", 201L, 1, VsTokenPriority),
    (2L, 10L, "C3", NA, "2020-03-05", 201L, 1, DefaultPriority),
    (2L, 10L, "[VE]", NA, "2020-03-05", 201L, 1, VeTokenPriority),
    (2L, 10L, "C4", NA, "2020-02-20", 205L, 1, DefaultPriority),
    (3L, 30L, "[VS]", NA, "2020-04-01", 301L, 1, VsTokenPriority),
    (3L, 30L, "C5", NA, "2020-04-01", 301L, 1, DefaultPriority),
    (3L, 30L, "[VE]", NA, "2020-04-01", 301L, 1, VeTokenPriority))
    .map { case (p, m, c, u, day, v, rank, prio) =>
      (m, p, c, u, d(day), ts(s"$day 12:00:00"), v, "condition", rank, prio) }
    .toDF("cohort_member_id", "person_id", "standard_concept_id", "unit", "date", "datetime",
      "visit_occurrence_id", "domain", "visit_rank_order", "priority")
    .selectExpr("*",
      "CAST(NULL AS STRING) AS concept_as_value", "0 AS is_numeric_type",
      "CAST(NULL AS FLOAT) AS number_as_value", "visit_rank_order % 2 + 1 AS visit_segment",
      "0 AS date_in_week", "0 AS concept_value_mask", "0 AS mlm_skip_value", "40 AS age",
      "9202 AS visit_concept_id", "date AS visit_start_date",
      "datetime AS visit_start_datetime", "1 AS visit_concept_order", "1 AS concept_order",
      s"'$NA' AS event_group_id")

  private lazy val death: DataFrame =
    Seq((1L, d("2020-02-15")), (2L, d("2020-03-01"))).toDF("person_id", "death_date")

  private def decorate(folder: Option[String]): DataFrame =
    new DeathEventDecorator(Some(death), AttType.CehrBert, folder).decorate(events)

  /** The appended rows, as (person, member, concept, priority, unit, visit id,
    * visit_rank_order, date, event_group_id), sorted. */
  private def deathRows(out: DataFrame): Seq[Row] =
    out.where(col("domain") === "death")
      .select("person_id", "cohort_member_id", "standard_concept_id", "priority", "unit",
        "visit_occurrence_id", "visit_rank_order", "date", "event_group_id")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getDouble(3)))

  test("four tokens per deceased member after its last [VE], ids minted above the max") {
    val out = decorate(None)
    assert(out.columns.toSet == RequiredEventColumns)
    assert(out.schema("visit_occurrence_id").dataType == LongType)
    assert(out.count() == events.count() + 8)

    // the max is taken over the deceased patients' events (visit 205), as
    // the reference does; ids follow (person_id, cohort_member_id) order
    val max = 205L
    assert(deathRows(out) == Seq(
      Row(1L, 20L, "W2", AttTokenPriority, NA, max + 1, 102, d("2020-02-01"), NA),
      Row(1L, 20L, VsToken, VsTokenPriority, NA, max + 1, 102, d("2020-02-01"), NA),
      Row(1L, 20L, DeathToken, DeathTokenPriority, "ve-unit", max + 1, 102, d("2020-02-01"), NA),
      Row(1L, 20L, VeToken, VeTokenPriority, NA, max + 1, 102, d("2020-02-01"), NA),
      Row(2L, 10L, "W0", AttTokenPriority, NA, max + 2, 101, d("2020-03-05"), NA),
      Row(2L, 10L, VsToken, VsTokenPriority, NA, max + 2, 101, d("2020-03-05"), NA),
      Row(2L, 10L, DeathToken, DeathTokenPriority, NA, max + 2, 101, d("2020-03-05"), NA),
      Row(2L, 10L, VeToken, VeTokenPriority, NA, max + 2, 101, d("2020-03-05"), NA)))
  }

  test("string visit ids mint as before: bigint ids above the max") {
    val stringIds = events.withColumn("visit_occurrence_id", col("visit_occurrence_id").cast("string"))
    val out = new DeathEventDecorator(Some(death), AttType.CehrBert).decorate(stringIds)
    assert(out.schema("visit_occurrence_id").dataType == LongType)
    assert(out.where(col("domain") === "death").select("person_id", "visit_occurrence_id")
      .distinct().as[(Long, Long)].collect().sorted.toSeq == Seq(1L -> 206L, 2L -> 207L))
  }

  test("a checkpoint folder changes no row") {
    val folder = Files.createTempDirectory("graft-death").toString
    val withBarrier = decorate(Some(folder))
    assert(Files.exists(Paths.get(s"$folder/death_tokens/death_events")))
    val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    assert(rows(withBarrier.select(events.columns.map(col).toIndexedSeq: _*)) ==
      rows(decorate(None).select(events.columns.map(col).toIndexedSeq: _*)))
  }

  test("decorating leaves nothing in the cache manager") {
    spark.catalog.clearCache()
    decorate(None).count()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
