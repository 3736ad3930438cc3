package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.omop.{Preprocess, TinyCdm}

/** The opt-in bucketed base-table layout: with the gate off nothing
  * changes; with it on, materialized tables resolve to bucketed catalog
  * scans whose HashPartitioning elides the leading exchange of key-aligned
  * groupBy/join chains — same values, fewer shuffles. */
class BucketedLayoutSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val omopDir = TinyCdm.create(spark, "graft-bucketed-cdm")

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def exchanges(df: DataFrame): Int =
    "\\(\\d+\\) Exchange\\b".r.findAllIn(formatted(df)).length

  private def dropLayout(names: String*): Unit = names.foreach { n =>
    val t = Tables.bucketedTableName(n)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def withGate[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.getOption(Tables.BucketedLayoutConf)
    spark.conf.set(Tables.BucketedLayoutConf, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Tables.BucketedLayoutConf, v)
      case None => spark.conf.unset(Tables.BucketedLayoutConf)
    }
  }

  test("gate off: plain parquet path even when a layout table exists") {
    dropLayout("events")
    Tables.materializeBucketed(Tables.load(spark, sfDir, "events"), "events",
      sfDir, "raw", buckets = 4, keys = Seq("user_id"))
    withGate(false) {
      assert(Tables.bucketedLayout(spark, "events", sfDir, "raw").isEmpty)
      assert(Decisions.snapshot("tables.bucketedLayout(events)") === "false")
    }
    // and on: resolves
    withGate(true) {
      assert(Tables.bucketedLayout(spark, "events", sfDir, "raw").isDefined)
      assert(Decisions.snapshot("tables.bucketedLayout(events)") === "true")
    }
    // on but not materialized for this name: falls back, records false
    withGate(true) {
      assert(Tables.bucketedLayout(spark, "orders", sfDir, "raw").isEmpty)
      assert(Decisions.snapshot("tables.bucketedLayout(orders)") === "false")
    }
    dropLayout("events")
  }

  test("provenance mismatch: a layout for another dir or convention falls back to plain") {
    dropLayout("events")
    Tables.materializeBucketed(Tables.load(spark, sfDir, "events"), "events",
      sfDir, "raw", buckets = 4, keys = Seq("user_id"))
    withGate(true) {
      // same name, DIFFERENT source dir: must not serve sf0.001's data to a
      // session reading sf0.01
      assert(Tables.bucketedLayout(spark, "events",
        "/root/testdata/sf0.01", "raw").isEmpty)
      assert(Decisions.snapshot("tables.bucketedLayout(events)") === "false")
      assert(Decisions.snapshot.contains("tables.bucketedLayoutMismatch(events)"))
      // same dir, DIFFERENT convention: a raw materialization must not be
      // read where normalized values are expected
      assert(Tables.bucketedLayout(spark, "events", sfDir, "normalized").isEmpty)
      // trailing slash must NOT defeat the match (canonicalized)
      assert(Tables.bucketedLayout(spark, "events", sfDir + "/", "raw").isDefined)
      // loadNormalized goes through the same validation: the raw-convention
      // table is skipped, values match the plain normalized path
      val viaGate = Tables.loadNormalized(spark, sfDir, "events")
      assert(Decisions.snapshot("tables.bucketedLayout(events)") === "false")
      val plain = Tables.normalize(Tables.load(spark, sfDir, "events"))
      assert(viaGate.collect().toSet === plain.collect().toSet)
    }
    dropLayout("events")
  }

  test("seq1 through SparkEntry: identical values, leading exchange elided") {
    dropLayout("events")
    Tables.materializeBucketed(Tables.load(spark, sfDir, "events"), "events",
      sfDir, "raw", buckets = 4, keys = Seq("user_id"))
    val q = graft.SparkEntry.queries("seq1_event_sequences")

    val plainRows = withGate(false) { q(spark, sfDir).collect().toSet }
    withGate(true) {
      val bucketed = q(spark, sfDir)
      assert(bucketed.collect().toSet === plainRows,
        "bucketed layout must be value-identical to the plain path")
      val plan = formatted(bucketed)
      assert(plan.contains("Bucketed: true"), plan)
      assert(exchanges(bucketed) === 0,
        s"groupBy on the bucket key must start pre-partitioned:\n$plan")
    }
    withGate(false) {
      assert(exchanges(q(spark, sfDir)) >= 1,
        "plain path keeps its aggregation exchange (sanity)")
    }
    dropLayout("events")
  }

  test("OMOP: person-bucketed CDM tables are value-identical and co-join without exchanges") {
    dropLayout("person", "condition_occurrence")
    Preprocess.materializeBucketedCdm(spark, omopDir,
      Seq("person", "condition_occurrence"), buckets = 4)

    val plainPerson = withGate(false) {
      Preprocess.domainTable(spark, omopDir, "person").collect().toSet
    }
    val plainCond = withGate(false) {
      Preprocess.domainTable(spark, omopDir, "condition_occurrence").collect().toSet
    }
    withGate(true) {
      val person = Preprocess.domainTable(spark, omopDir, "person")
      val cond = Preprocess.domainTable(spark, omopDir, "condition_occurrence")
      assert(person.collect().toSet === plainPerson)
      assert(cond.collect().toSet === plainCond)

      // the chain's dominant shuffle: person-keyed equi-join — both sides
      // bucketed on person_id with equal bucket counts → zero exchanges
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = cond.join(person.select("person_id", "year_of_birth"), "person_id")
        assert(exchanges(joined) === 0,
          s"co-bucketed person join must not shuffle:\n${formatted(joined)}")
        assert(joined.count() === cond.filter(col("person_id").isNotNull).count())
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    dropLayout("person", "condition_occurrence")
  }

  test("materializeBucketedCdm rejects concept/vocabulary dims") {
    intercept[IllegalArgumentException] {
      Preprocess.materializeBucketedCdm(spark, omopDir, Seq("concept"), 4)
    }
    intercept[IllegalArgumentException] {
      Preprocess.materializeBucketedCdm(spark, omopDir,
        Seq("concept_ancestor"), 4)
    }
  }
}
