package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Frozen-snapshot oracles for the driver queries that are deterministic but
 * not expressible in DuckDB SQL (seeded LSH / SimHash / IVF): the driver can
 * only rows-check them, so a silent change in `SimHashAgg`, the hyperplane
 * seeding or the IVF assignment would otherwise pass every gate. Each query
 * is canonicalized exactly like the driver's comparison (columns sorted by
 * name, rows as a sorted multiset, doubles rounded to 9 places) and its
 * content hash asserted against a value frozen at sf0.01.
 *
 * On an intentional semantic change: re-run, read the new hash from the
 * failure message, and update the constant IN THE SAME commit as the change.
 *
 * `s10_random_split` qualifies since round 5: the query pins a hash
 * repartition on the key before `randomSplit`, making the split a pure
 * function of (data, seed) — verified hash-identical across two separate
 * JVMs and two parallelism settings before freezing.
 */
class SnapshotOracleSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.01"

  private def canonicalHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    val canon = cols.map { c =>
      val base = df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => round(col(c), 9)
        case _ => col(c)
      }
      coalesce(base.cast("string"), lit("<null>"))
    }
    df.select(concat_ws("|", canon: _*).as("__row"))
      .agg(md5(concat_ws("\n", sort_array(collect_list(col("__row"))))).as("__h"))
      .collect()(0).getString(0)
  }

  private def check(query: String, expected: String): Unit = test(
    s"$query matches its frozen sf0.01 snapshot") {
    assume(Files.exists(Paths.get(sfDir)), s"$sfDir not present")
    val actual = canonicalHash(SparkEntry.queries(query)(spark, sfDir))
    assert(actual === expected,
      s"— snapshot drift in $query: frozen=$expected actual=$actual. If the " +
        "change is intentional, update the constant in SnapshotOracleSpec.")
  }

  check("dedup3_simhash", "595b68781e2394fdaa44560d0ffd6578")

  // Full clinical-sequence golden snapshot on the bundled OMOP sample: the
  // end-to-end GenerateTrainingData array output (concept/time/age/visit
  // parallel arrays and their §1.3 intra-visit struct ordering) frozen as
  // one content hash — pins the sequence semantics against refactors at a
  // finer grain than scripts/golden_compare.py's config-level field diffs.
  // The hash is of the upstream Synthea sample, which the repo does not
  // hold: the test is skipped unless that sample is present at `sample`.
  test("GenerateTrainingData(sample CDM, day-ATT config) matches its frozen snapshot") {
    val sample = "/root/reference/sample_data/omop_sample"
    assume(Files.exists(Paths.get(sample)), s"$sample not present")
    import graft.functions.TimeTokens.AttType
    val cfg = graft.omop.GenerateTrainingData.Config(
      inputFolder = sample,
      outputFolder = None,
      domainTableList = Seq(graft.omop.OmopSchema.ConditionOccurrence,
        graft.omop.OmopSchema.DrugExposure, graft.omop.OmopSchema.ProcedureOccurrence),
      dateFilter = Some("1985-01-01"),
      includeVisitType = true,
      applyAgeFilter = true,
      withDrugRollup = true,
      attType = AttType.Day,
      inpatientAttType = AttType.Day,
      excludeDemographic = false,
      includeInpatientHourToken = true)
    val seq = graft.omop.GenerateTrainingData.run(spark, cfg, gptPatientSequence = true)
    val actual = canonicalHash(seq)
    assert(actual === "bc2368d8ada45f73edd08e08e09a7d61",
      s"— snapshot drift in the golden sequence: actual=$actual. If the " +
        "change is intentional, update the constant in SnapshotOracleSpec.")
  }
  // refrozen r6: lshTopK auto-sizes planes (≈log2(n/32) → 4 at sf0.01's
  // n=500; was a fixed 10) — with a fixed plane count the average bucket
  // outgrows the cap at scale and the guard drops most of the corpus
  // (recall collapse); see BENCH_NOTES.md "Scale evidence"
  // refrozen r7: multi-probe (full Hamming-1 ball) became the default —
  // measured recall@3 0.46 → 0.95 at this sf (BENCH_NOTES "Recall
  // evidence"); more candidates ⇒ better neighbors ⇒ different rows
  check("knn2_lsh_top3", "6ea83d0a91d627463d8ec6cf78418a74")
  // refrozen r6: ivfTopK auto-sizes nCells (≈√2n → 32 at sf0.01's n=500;
  // was a fixed 16) after the sf10 scale run measured the fixed-k cell
  // join going quadratic — see BENCH_NOTES.md "Scale evidence"
  check("knn3_ivf_top3", "bc69ca7fde58e23e76e5ea173b12bd27")
  check("s10_random_split", "2474857a6780b0f7d73865782aff01dc")
}
