package graft.omop

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.functions.TimeTokens.AttType
import graft.omop.tools.{ConnectOmopVisits, EhrShotToOmop, ExtractFeatures, QualifiedConceptList}

/**
 * spark-submit entry points mirroring the reference CLIs
 * (apps/generate_training_data.py, apps/generate_included_concept_list.py,
 * tools/extract_features.py, tools/connect_omop_visit.py,
 * tools/ehrshot_to_omop.py), with the same flag names. Flags: `--name value`
 * pairs plus boolean switches.
 */
object Apps {

  /** Minimal `--flag [value]` parser: switches (no value) become "true". */
  private[omop] def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val key = args(i).dropWhile(_ == '-')
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out(key) = args(i + 1); i += 2
      } else { out(key) = "true"; i += 1 }
    }
    out.toMap
  }

  private[omop] def att(m: Map[String, String], key: String): AttType =
    m.get(key).map(AttType.fromName).getOrElse(AttType.CehrBert)

  /** CDM table-name validation (reference utils/spark_utils.py:1283-1287):
    * a typo'd `--domain_table_list` fails fast with the offending name
    * instead of a raw path error deep inside a parquet scan. */
  private[omop] def validateTableNames(tables: Seq[String]): Seq[String] = {
    tables.foreach { t =>
      require(OmopSchema.CdmTables.contains(t),
        s"$t is an invalid CDM table name")
    }
    tables
  }

  private[omop] def session(appName: String): SparkSession = {
    // spark-submit injects the master; bare `sbt runMain` runs fall back local
    val builder = SparkSession.builder().appName(appName)
    val isLocal = sys.props.get("spark.master").isEmpty && sys.env.get("MASTER").isEmpty
    if (isLocal) {
      builder.master(s"local[${Runtime.getRuntime.availableProcessors()}]")
        .config("spark.sql.shuffle.partitions",
          Runtime.getRuntime.availableProcessors().toString)
    } else {
      // Cluster path: the 200-partition default is far too low for TB-scale
      // shuffles (partitions should land well under 1 GiB so they fit executor
      // memory and AQE can only COALESCE, never split non-skewed partitions).
      // Start high — AQE's runtime coalescing erases the cost of over-
      // partitioning, while under-partitioning OOMs. Deployments can override
      // via --conf; this is the default, not a pin.
      if (sys.props.get("spark.sql.shuffle.partitions").isEmpty)
        builder.config("spark.sql.shuffle.partitions", "2000")
    }
    GraftSession.withDefaults(builder).getOrCreate()
  }
}

object GenerateTrainingDataApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Generate CEHR-BERT Training Data")
      val cfg = GenerateTrainingData.Config(
        inputFolder = a("input_folder"),
        outputFolder = Some(a("output_folder")),
        domainTableList = validateTableNames(a.getOrElse("domain_table_list",
          "condition_occurrence procedure_occurrence drug_exposure").split("\\s+").toSeq),
        dateFilter = a.get("date_filter"),
        includeVisitType = a.contains("include_visit_type"),
        excludeVisitTokens = a.contains("exclude_visit_tokens"),
        attType = att(a, "att_type"),
        inpatientAttType = att(a, "inpatient_att_type"),
        includeDeath = a.contains("include_death"),
        excludeDemographic = a.contains("exclude_demographic"),
        useAgeGroup = a.contains("use_age_group"),
        includeInpatientHourToken = a.contains("include_inpatient_hour_token"),
        applyAgeFilter = a.contains("apply_age_filter"),
        withDrugRollup = !a.contains("no_drug_rollup"),
        aggregateByHour = a.contains("aggregate_by_hour"),
        isNewPatientRepresentation = a.contains("is_new_patient_representation"),
        isClassicBert = a.contains("is_classic_bert"),
        shouldConstructArtificialVisits = a.contains("should_construct_artificial_visits"),
        duplicateRecords = a.contains("duplicate_records"),
        disconnectProblemListRecords = a.contains("disconnect_problem_list_records"))
      val seq = GenerateTrainingData.run(spark, cfg,
        gptPatientSequence = a.contains("gpt_patient_sequence"))
      GenerateTrainingData.write(spark, cfg, seq, a("output_folder"))
      spark.stop()
    }
  }

object GenerateIncludedConceptListApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Generate qualified concept list")
      QualifiedConceptList.run(spark, a("input_folder"), a("output_folder"),
        minNumOfPatients = a.getOrElse("min_num_of_patients", "100").toInt)
      spark.stop()
    }
  }

object ExtractFeaturesApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session(s"Extract Features for existing cohort ${a.getOrElse("cohort_name", "")}")
      ExtractFeatures.run(spark, ExtractFeatures.Config(
        cohortDir = a("cohort_dir"),
        cohortName = a("cohort_name"),
        inputFolder = a("input_folder"),
        outputFolder = a("output_folder"),
        ehrTableList = validateTableNames(a.getOrElse("ehr_table_list",
          "condition_occurrence procedure_occurrence drug_exposure").split("\\s+").toSeq),
        personIdColumn = a.getOrElse("person_id_column", "person_id"),
        indexDateColumn = a.getOrElse("index_date_column", "index_date"),
        labelColumn = a.getOrElse("label_column", "label"),
        observationWindow = a.getOrElse("observation_window", "0").toInt,
        holdOffWindow = a.getOrElse("hold_off_window", "0").toInt,
        includeVisitType = a.contains("include_visit_type"),
        attType = att(a, "att_type"),
        inpatientAttType = att(a, "inpatient_att_type"),
        keepSamplesWithNoFeatures = a.contains("keep_samples_with_no_features"),
        shouldConstructArtificialVisits = a.contains("should_construct_artificial_visits"),
        patientSplitsFolder = a.get("patient_splits_folder"),
        cacheEvents = a.contains("cache_events")))
      spark.stop()
    }
  }

object ConnectOmopVisitsApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Clean up visit_occurrence")
      val visits = spark.read.parquet(s"${a("input_folder")}/visit_occurrence")
      val result = ConnectOmopVisits.run(visits,
        inpatientHourDiffThreshold = a.getOrElse("inpatient_hour_diff_threshold", "24").toInt,
        outpatientHourDiffThreshold = a.getOrElse("outpatient_hour_diff_threshold", "1").toInt,
        persistence = Some(a("output_folder")))
      result.visitOccurrence.write.mode("overwrite")
        .parquet(s"${a("output_folder")}/visit_occurrence")
      result.mapping.write.mode("overwrite")
        .parquet(s"${a("output_folder")}/visit_mapping")
      spark.stop()
    }
  }

object EhrShotToOmopApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Convert EHRShot Data")
      EhrShotToOmop.run(spark, a("ehr_shot_file"), a("vocabulary_folder"),
        a("output_folder"), dayCutoff = a.getOrElse("day_cutoff", "1").toInt)
      spark.stop()
    }
  }

/** Reference tools/update_omop_visit.py: rewrite domain-table visit ids
  * through the visit_mapping written by [[ConnectOmopVisitsApp]]. */
object UpdateOmopVisitApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Clean up visit_occurrence")
      tools.UpdateOmopVisit.run(spark, a("input_folder"), a("output_folder"),
        vocabularyFolder = a.get("vocabulary_folder"))
      spark.stop()
    }
  }

/** Reference tools/sample_omop_tables.py: person-sample every OMOP table. */
object SampleOmopTablesApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Sample OMOP Tables")
      tools.SampleOmopTables.run(spark, a("person_sample"), a("omop_folder"),
        a("output_folder"))
      spark.stop()
    }
  }

/** Reference tools/prepare_ehrshot_cohorts.py: run feature extraction for
  * every labeled_patients.csv cohort under --cohort_dir. */
object PrepareEhrShotCohortsApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Prepare EHRShot cohorts")
      val base = ExtractFeatures.Config(
        cohortDir = a("cohort_dir"), // replaced per discovered cohort
        cohortName = "",
        inputFolder = a("input_folder"),
        outputFolder = a("output_folder"),
        ehrTableList = validateTableNames(a.getOrElse("ehr_table_list",
          "condition_occurrence procedure_occurrence drug_exposure").split("\\s+").toSeq),
        observationWindow = a.getOrElse("observation_window", "0").toInt,
        holdOffWindow = a.getOrElse("hold_off_window", "0").toInt,
        includeVisitType = a.contains("include_visit_type"),
        attType = att(a, "att_type"),
        inpatientAttType = att(a, "inpatient_att_type"),
        keepSamplesWithNoFeatures = a.contains("keep_samples_with_no_features"),
        shouldConstructArtificialVisits = a.contains("should_construct_artificial_visits"),
        patientSplitsFolder = a.get("patient_splits_folder"))
      tools.PrepareEhrShotCohorts.run(spark, a("cohort_dir"), base)
      spark.stop()
    }
  }

/** Reference tools/convert_prediction_time_to_str.py: snappy re-encode with
  * prediction_time as an ISO string. */
object ConvertPredictionTimeToStrApp {
  import Apps._
    def main(args: Array[String]): Unit = {
      val a = parseArgs(args)
      val spark = session("Convert prediction_time to string")
      tools.ConvertPredictionTimeToStr.run(spark,
        a.getOrElse("input", a.getOrElse("i", "")),
        a.getOrElse("output", a.getOrElse("o", "")))
      spark.stop()
    }
  }
