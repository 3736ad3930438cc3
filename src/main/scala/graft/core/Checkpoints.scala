package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The one materialization path: lineage barriers, the train/test split sink,
 * and path lookups through the Hadoop `FileSystem`.
 *
 * The reference materializes intermediate DataFrames to parquet and re-reads
 * them (~20 `try_persist_data` sites; patient_event_decorator_base.py:38-43,
 * spark_utils.py:733-813) both to keep decorator-chain plans shallow and, in
 * places, as a *semantic* barrier so nondeterministically minted ids become
 * stable (ehrshot_to_omop.py:486-494). It writes split-aware outputs through
 * a `temp` copy it deletes afterwards (spark_app_base.py:586-607).
 *
 *  - [[lineageBarrier]] applies where the cut only keeps plans shallow: with
 *    no folder configured the plan is left whole.
 *  - [[stabilityBarrier]] applies where ids come from a nondeterministic
 *    source and must not change on replay: it always cuts lineage, in memory
 *    when no folder is configured.
 *  - [[writeSplits]] applies to a result already tagged with a `split`
 *    column that must land as `train/` and `test/` directories.
 */
object Checkpoints {

  /** Parquet write + reload barrier (reference `try_persist_data` semantics). */
  def persist(df: DataFrame, folder: String, name: String): DataFrame = {
    val p = s"$folder/$name"
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.parquet(p)
  }

  /** Optional lineage cut: [[persist]] under `folder`, else the identity. */
  def lineageBarrier(df: DataFrame, folder: Option[String], name: String): DataFrame =
    folder.fold(df)(persist(df, _, name))

  /** Stability barrier: [[persist]] under `folder`, else [[cut]]. */
  def stabilityBarrier(df: DataFrame, folder: Option[String], name: String): DataFrame =
    folder.fold(cut(df))(persist(df, _, name))

  /** In-memory lineage cut for iterative algorithms (eager). */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Split sink: write `tagged` (with its row order) to `folder/temp`, write
    * its `split = "train"` / `"test"` rows to `folder/train` / `folder/test`
    * from that copy, then delete the copy. */
  def writeSplits(tagged: DataFrame, folder: String): Unit = {
    val copy = persist(tagged, folder, "temp")
    Seq("train", "test").foreach { s =>
      copy.where(col("split") === s).write.mode("overwrite").parquet(s"$folder/$s")
    }
    val temp = new Path(s"$folder/temp")
    temp.getFileSystem(hadoopConf(tagged.sparkSession)).delete(temp, /* recursive = */ true)
  }

  /** File status of `path` on whatever filesystem its URI names (local
    * paths, `file:`, `hdfs:`, object stores), or None when it is absent. */
  def status(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    try Some(p.getFileSystem(hadoopConf(spark)).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  def exists(spark: SparkSession, path: String): Boolean = status(spark, path).isDefined

  private def hadoopConf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration
}
