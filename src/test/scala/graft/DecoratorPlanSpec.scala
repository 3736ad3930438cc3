package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.functions.TimeTokens.AttType
import graft.omop.{GenerateTrainingData, OmopSchema, Preprocess, TinyCdm}
import graft.omop.cohort.NestedCohortBuilder
import graft.omop.decorators._

/**
 * Plan-shape lint for the decorator chain on `TinyCdm`, with adaptive
 * execution and broadcast joins off so the counts do not depend on sizes.
 *
 * Each decorator reads its input once: fed an input cut by
 * `localCheckpoint`, its optimized plan holds that input's `LogicalRDD`
 * leaf once. The death decorator may hold it twice: its id mint above the
 * input's largest visit id needs one row per deceased member beside the
 * stream. A decorator that joins a derived table back to its input, or
 * unions a derived branch with it, copies the whole upstream plan into each
 * branch; without parquet barriers those copies multiply down the chain.
 *
 * The pipeline without barriers (`GenerateTrainingData.run` with no output
 * folder) is bounded in shuffle exchanges, window operators and
 * `visit_occurrence` scans. The bounds are set from the current code; a
 * change that reads an intermediate more than once again fails here. By
 * default the pipeline skips `ArtificialVisits.construct`, which has no
 * orphan to act on; with `disconnectProblemListRecords` it runs, and a
 * second case bounds the pipeline with it.
 *
 * A cohort's sequence features read the cohort a bounded number of times:
 * once in the join that bounds the records to each member's observation
 * window, and through the cohort index that sequence assembly reads.
 */
class DecoratorPlanSpec extends SparkSpecBase {

  import spark.implicits._

  private lazy val cdm = TinyCdm.create(spark, "graft-plan-shape")

  private def withFixedPlans[T](body: => T): T = {
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val previous = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val cfg = GenerateTrainingData.Config(
    inputFolder = "",
    domainTableList = Seq(OmopSchema.ConditionOccurrence, OmopSchema.DrugExposure),
    excludeDemographic = false,
    shouldConstructArtificialVisits = true)

  /** How often `plan` reads the frame `input` was cut to. */
  private def reads(plan: LogicalPlan, input: DataFrame): Int = {
    val rddId = input.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get
    plan.collect { case r: LogicalRDD if r.rdd.id == rddId => r }.size
  }

  test("each decorator reads its input once (death at most twice)") {
    withFixedPlans {
      val (events, visits, person) =
        GenerateTrainingData.buildPatientEvents(spark, cfg.copy(inputFolder = cdm))
      val death = Seq((1L, Date.valueOf("2016-01-01")), (2L, Date.valueOf("2019-11-24")))
        .toDF("person_id", "death_date")
      val found = Seq.newBuilder[(String, Int, Int)]
      /** Decorates `input`, records how often the plan reads it, and returns
        * the output cut for the next decorator. */
      def check(decorator: PatientEventDecorator, input: DataFrame, allowed: Int): DataFrame = {
        val out = decorator.decorate(input)
        found += ((decorator.name, reads(out.queryExecution.optimizedPlan, input), allowed))
        out.localCheckpoint()
      }
      def att(hours: Boolean) = new AttEventDecorator(visits, includeVisitType = true,
        excludeVisitTokens = false, AttType.CehrBert, AttType.Mix,
        includeInpatientHourToken = hours)

      val clinical = check(new ClinicalEventDecorator(visits), events.localCheckpoint(), 1)
      check(att(hours = false), clinical, 1)
      val withAtt = check(att(hours = true), clinical, 1)
      val withDeath = check(new DeathEventDecorator(Some(death), AttType.CehrBert), withAtt, 2)
      val withDemographics = check(new DemographicEventDecorator(Some(person)), withDeath, 1)

      val counts = found.result()
      assert(counts.forall { case (_, n, allowed) => n >= 1 && n <= allowed },
        counts.map { case (name, n, _) => s"$name: $n" }.mkString("input reads: ", ", ", ""))

      // no side-table join fans out a stream row: each decorator keeps its
      // input rows once and adds only its tokens (ATT tokens are visit rows
      // or inpatient "i-" tokens; two deceased members get four tokens each;
      // every member gets a year token and three demographic tokens)
      val passedThrough = withAtt.where(col("domain") =!= "visit" &&
        !col("standard_concept_id").startsWith("i-")).count()
      assert(passedThrough == clinical.count())
      assert(withDeath.count() == withAtt.count() + 8)
      val members = withDeath.select("cohort_member_id").distinct().count()
      assert(withDemographics.count() == withDeath.count() + 4 * members)
    }
  }

  /** Shuffle exchanges, window operators and `visit_occurrence` scans in the
    * executed plan of `GenerateTrainingData.run` under `config`. */
  private def pipelineCounts(config: GenerateTrainingData.Config): (Int, Int, Int) = {
    val plan: SparkPlan = GenerateTrainingData
      .run(spark, config.copy(inputFolder = cdm), gptPatientSequence = true)
      .queryExecution.executedPlan
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }.size
    val windows = plan.collect { case w: WindowExec => w }.size
    val visitScans = plan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == OmopSchema.VisitOccurrence) => s
    }.size
    info(s"shuffles $shuffles, windows $windows, visit_occurrence scans $visitScans")
    (shuffles, windows, visitScans)
  }

  test("the pipeline without barriers stays small: shuffles, windows, visit scans") {
    withFixedPlans {
      val (shuffles, windows, visitScans) = pipelineCounts(cfg)
      assert(shuffles <= 22 && windows <= 10 && visitScans <= 3)
    }
  }

  test("with problem-list records disconnected, artificial visits stay small too") {
    withFixedPlans {
      val (shuffles, windows, visitScans) =
        pipelineCounts(cfg.copy(disconnectProblemListRecords = true))
      assert(shuffles <= 38 && windows <= 11 && visitScans <= 7)
    }
  }

  test("cohort sequence features read the cohort at most four times") {
    withFixedPlans {
      val cohort = Seq(1L, 2L, 3L, 4L)
        .map(p => (p, p.toInt, Timestamp.valueOf("2015-06-01 00:00:00"), 0))
        .toDF("person_id", "cohort_member_id", "index_date", "label")
        .localCheckpoint()
      val dependencies = Seq(OmopSchema.Person, OmopSchema.VisitOccurrence)
        .map(t => t -> Preprocess.domainTable(spark, cdm, t)).toMap
      val features = new NestedCohortBuilder(NestedCohortBuilder.Config(
          cohortName = "plan shape",
          inputFolder = cdm,
          outputFolder = "",
          ehrTableList = Seq(OmopSchema.ConditionOccurrence, OmopSchema.DrugExposure),
          observationWindow = 365,
          holdOffWindow = 0,
          predictionStartDays = 1,
          predictionWindow = 360,
          isNewPatientRepresentation = true,
          excludeFeatures = false))
        .extractEhrRecordsForCohort(spark, cohort, dependencies)
      val n = reads(features.queryExecution.optimizedPlan, cohort)
      info(s"cohort reads $n")
      assert(n >= 1 && n <= 4, s"cohort reads: $n")
    }
  }
}
