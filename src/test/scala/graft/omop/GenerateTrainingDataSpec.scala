package graft.omop

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase

/** The pre-training sequence sink. */
class GenerateTrainingDataSpec extends SparkSpecBase {

  private def tmp(): String = Files.createTempDirectory("graft-gtd").toString

  test("write splits into train/test when the input folder is a file: URI") {
    import spark.implicits._
    val in = tmp()
    val out = tmp()
    Seq((1L, "train"), (2L, "test"), (3L, "train")).toDF("person_id", "split")
      .write.parquet(s"$in/patient_splits")
    val sequences = Seq((1L, Seq("a", "b")), (2L, Seq("c")), (3L, Seq("d")))
      .toDF("person_id", "concept_ids")

    GenerateTrainingData.write(spark, GenerateTrainingData.Config(inputFolder = s"file:$in"),
      sequences, out)

    val train = spark.read.parquet(s"$out/patient_sequence/train")
    val test = spark.read.parquet(s"$out/patient_sequence/test")
    assert(train.select("person_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(test.select("person_id").as[Long].collect().toSet == Set(2L))
    assert(train.columns.toSeq == Seq("person_id", "concept_ids", "split"))
    assert(!Files.exists(Paths.get(s"$out/patient_sequence/temp")))
  }
}
