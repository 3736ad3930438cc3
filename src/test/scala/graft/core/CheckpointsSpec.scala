package graft.core

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.SparkSpecBase

/** The shared materialization path: the two barrier kinds, the split sink
  * and the Hadoop-FileSystem path lookups. */
class CheckpointsSpec extends SparkSpecBase {

  private def tmp(): String = Files.createTempDirectory("graft-checkpoints").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def tagged: DataFrame = {
    import spark.implicits._
    Seq((1L, "a", "train"), (2L, "b", "test"), (3L, "c", "train"), (3L, "c", "train"),
      (4L, null, "test"), (5L, "e", "train"))
      .toDF("person_id", "token", "split")
  }

  test("writeSplits: train ∪ test equals the tagged input row for row, temp is removed") {
    val out = s"${tmp()}/cohort"
    Checkpoints.writeSplits(tagged, out)

    val train = spark.read.parquet(s"$out/train")
    val test = spark.read.parquet(s"$out/test")
    assert(train.columns.toSeq == tagged.columns.toSeq)
    assert(train.where(col("split") =!= "train").isEmpty)
    assert(test.where(col("split") =!= "test").isEmpty)
    assert(rows(train.unionByName(test)) == rows(tagged))
    assert(!Files.exists(Paths.get(s"$out/temp")))
    assert(!Checkpoints.exists(spark, s"$out/temp"))
  }

  test("writeSplits: a MEDS frame keyed on subject_id / prediction_time") {
    import spark.implicits._
    val meds = Seq(
      (7L, Timestamp.valueOf("2020-01-01 00:00:00"), true, "test"),
      (8L, Timestamp.valueOf("2020-02-01 00:00:00"), false, "train"),
      (8L, Timestamp.valueOf("2020-03-01 00:00:00"), true, "train"))
      .toDF("subject_id", "prediction_time", "boolean_value", "split")
      .orderBy("subject_id", "prediction_time")
    val out = s"file:${tmp()}/meds"
    Checkpoints.writeSplits(meds, out)

    val train = spark.read.parquet(s"$out/train")
    assert(train.select("subject_id").as[Long].collect().toSeq == Seq(8L, 8L))
    assert(rows(train.unionByName(spark.read.parquet(s"$out/test"))) == rows(meds))
    assert(!Checkpoints.exists(spark, s"$out/temp"))
  }

  test("lineageBarrier is the identity without a folder; stabilityBarrier still cuts") {
    val df = tagged.where(col("person_id") > 1)
    assert(Checkpoints.lineageBarrier(df, None, "x") eq df)

    val cut = Checkpoints.stabilityBarrier(df, None, "x")
    assert(cut.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(rows(cut) == rows(df))
  }

  test("with a folder both barriers round-trip through parquet under folder/name") {
    val folder = tmp()
    val df = tagged.where(col("person_id") > 1)
    val lineage = Checkpoints.lineageBarrier(df, Some(folder), "lineage/a")
    val stable = Checkpoints.stabilityBarrier(df, Some(folder), "stable")
    Seq(lineage, stable).foreach(d => assert(rows(d) == rows(df)))
    assert(Files.isDirectory(Paths.get(s"$folder/lineage/a")))
    assert(Files.isDirectory(Paths.get(s"$folder/stable")))
  }

  test("exists / status resolve plain paths and file: URIs alike") {
    val dir = tmp()
    Files.write(Paths.get(s"$dir/f.csv"), "a\n".getBytes)
    for (prefix <- Seq("", "file:", "file://")) {
      assert(Checkpoints.exists(spark, s"$prefix$dir/f.csv"), prefix)
      assert(Checkpoints.status(spark, s"$prefix$dir").exists(_.isDirectory), prefix)
      assert(!Checkpoints.status(spark, s"$prefix$dir/f.csv").exists(_.isDirectory), prefix)
      assert(!Checkpoints.exists(spark, s"$prefix$dir/missing"), prefix)
    }
  }
}
