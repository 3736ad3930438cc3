package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StringType}

import graft.SparkSpecBase

/** [[Tables.load]]'s schema memo must follow the table's data files, not
  * just the table directory's own status. */
class TablesSpec extends SparkSpecBase {

  import spark.implicits._

  private def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sorted

  test("an in-place rewrite of a part file is seen by the next load") {
    val root = Files.createTempDirectory("graft-tables")
    val table = root.resolve("t.parquet")
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.parquet(table.toString)
    assert(Tables.load(spark, root.toString, "t").schema("x").dataType == LongType)

    // the same single part file rewritten with a string column; the table
    // directory keeps its file set and (restored) modification time
    val other = root.resolve("other.parquet")
    Seq("a", "b", "c").toDF("x").coalesce(1).write.parquet(other.toString)
    val dirMtime = Files.getLastModifiedTime(table)
    val Seq(part) = partFiles(table)
    val Seq(newPart) = partFiles(other)
    Files.copy(newPart, part, StandardCopyOption.REPLACE_EXISTING)
    val crc = (p: Path) => p.resolveSibling(s".${p.getFileName}.crc")
    Files.deleteIfExists(crc(part))
    Files.setLastModifiedTime(table, dirMtime)
    assert(Files.getLastModifiedTime(table) == dirMtime)

    val reloaded = Tables.load(spark, root.toString, "t")
    assert(reloaded.schema("x").dataType == StringType)
    assert(reloaded.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }
}
