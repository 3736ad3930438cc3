package graft.omop

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.omop.tools.{ExtractFeatures, PrepareEhrShotCohorts}

/**
 * End-to-end batch cohort prep: labeled_patients.csv per subdirectory →
 * one ExtractFeatures run each over the in-repo CDM fixture ([[TinyCdm]],
 * read-only), skipping cohorts whose output already exists.
 */
class PrepareEhrShotCohortsSpec extends SparkSpecBase {

  private lazy val omopInput = TinyCdm.create(spark, "graft-ehrshot-cdm")

  private def writeCohortCsv(dir: String, name: String, persons: Seq[Long]): Unit = {
    val sub = Paths.get(dir, name)
    Files.createDirectories(sub)
    val lines = "person_id,index_date,label" +:
      persons.map(p => s"$p,2005-01-01 00:00:00,1")
    Files.write(sub.resolve("labeled_patients.csv"),
      String.join("\n", lines: _*).getBytes)
  }

  test("discovers labeled cohorts and runs feature extraction for each") {
    val cohortDir = Files.createTempDirectory("graft-cohorts").toString
    val out = Files.createTempDirectory("graft-cohort-out").toString
    writeCohortCsv(cohortDir, "task_a", Seq(1L, 10L, 11L))
    writeCohortCsv(cohortDir, "task_b", Seq(12L, 13L))
    Files.createDirectories(Paths.get(cohortDir, "no_labels_here")) // skipped

    val base = ExtractFeatures.Config(
      cohortDir = "", cohortName = "",
      inputFolder = omopInput,
      outputFolder = out,
      ehrTableList = Seq("condition_occurrence", "drug_exposure"),
      keepSamplesWithNoFeatures = true)

    val ran = PrepareEhrShotCohorts.run(spark, cohortDir, base)
    assert(ran == Seq("task_a", "task_b"))
    for (name <- ran) {
      val cohort = spark.read.parquet(s"$out/$name/cohort")
      assert(cohort.count() > 0)
      assert(cohort.columns.contains("cohort_member_id"))
    }
    // second run: outputs exist → everything skipped
    assert(PrepareEhrShotCohorts.run(spark, cohortDir, base).isEmpty)
  }
}
