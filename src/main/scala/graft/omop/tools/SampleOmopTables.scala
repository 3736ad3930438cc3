package graft.omop.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.core.Checkpoints

/**
 * Subset every OMOP table to a person sample — the standard way users carve a
 * small test corpus out of a full CDM.
 *
 * Reference: tools/sample_omop_tables.py:19-36. The reference inner-joins
 * `patient_sample.select("person_id")` onto each table; this port uses a
 * broadcast LEFT SEMI join — same rows kept, but the sample (small by
 * definition: it's a sample) ships to executors once, no shuffle of the
 * domain tables, and no duplicate rows if the sample itself has duplicate
 * person_ids.
 */
object SampleOmopTables {

  /** Tables the reference subsets, in its order. */
  val OmopTables: Seq[String] = Seq("person", "visit_occurrence",
    "condition_occurrence", "procedure_occurrence", "drug_exposure",
    "measurement", "observation", "observation_period")

  def sampleTable(table: DataFrame, personSample: DataFrame): DataFrame =
    table.join(broadcast(personSample.select("person_id")), Seq("person_id"), "left_semi")

  def run(spark: SparkSession, personSamplePath: String, omopFolder: String,
          outputFolder: String): Unit = {
    val sample = spark.read.parquet(personSamplePath)
    OmopTables.filter(t => Checkpoints.exists(spark, s"$omopFolder/$t")).foreach { t =>
      sampleTable(spark.read.parquet(s"$omopFolder/$t"), sample)
        .write.mode("overwrite").parquet(s"$outputFolder/$t")
    }
  }
}
