package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source lints over the pipeline code.
 *
 * No raw unpartitioned `Window.orderBy(...)` in the full-data tools — every
 * global ordering there must go through [[graft.operators.IdAllocator]],
 * which either parallelizes the allocation (sequentialId / denseKeyId) or
 * names the single-partition choice explicitly (sequentialIdSinglePartition,
 * for label-sized tables). An unpartitioned window funnels the whole dataset
 * through one task — the first wall at measurement-table scale.
 *
 * No open-coded materialization: barriers, split sinks and path checks go
 * through [[graft.core.Checkpoints]]. `java.io.File` only sees the local
 * filesystem, so a `file:`/`hdfs:` URI silently reads as absent. Nor does
 * the OMOP code `cache()` or `persist()` a frame itself: a cache freezes the
 * plan's shuffle width and is never released.
 *
 * No constant-key window (`Window.partitionBy(lit(...))`): it is an
 * unpartitioned window under another name.
 *
 * No `monotonically_increasing_id` in the OMOP code: its values depend on
 * the partitioning, so a replayed task or another plan mints other ids. Ids
 * are minted from the data through `IdAllocator`.
 *
 * Every `spark.graft.*` conf is read through [[graft.core.Tunables]], so the
 * engine has one config surface and each read lands in `Decisions`.
 */
class WindowLintSpec extends AnyFunSuite {

  private val lintedDirs = Seq(
    "src/main/scala/graft/omop/tools",
    "src/main/scala/graft/omop")

  /** `file:line: text` of every non-comment line under `dirs` that `bad`
    * accepts, skipping files named in `exempt`. `bad` sees the line and the
    * one before it (empty for a file's first line). */
  private def pairOffenders(dirs: Seq[String], exempt: Set[String] = Set.empty)(
      bad: (String, String) => Boolean): Seq[String] =
    dirs.flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(p => exempt.contains(p.getFileName.toString))
        .flatMap { p =>
          val lines = Files.readAllLines(p).asScala.toIndexedSeq
          lines.indices.collect {
            case i if bad(lines(i), if (i == 0) "" else lines(i - 1)) &&
                !lines(i).trim.startsWith("//") && !lines(i).trim.startsWith("*") =>
              s"$p:${i + 1}: ${lines(i).trim}"
          }
        }
    }

  /** [[pairOffenders]] for a check that looks at the line alone. */
  private def offenders(dirs: Seq[String], exempt: Set[String] = Set.empty)(
      bad: String => Boolean): Seq[String] =
    pairOffenders(dirs, exempt)((line, _) => bad(line))

  test("no raw unpartitioned Window.orderBy in tools or pipelines") {
    // IdAllocator itself owns the documented single-partition variant
    val found = offenders(lintedDirs, exempt = Set("IdAllocator.scala"))(_.contains("Window.orderBy"))
    assert(found.isEmpty,
      s"unpartitioned windows found — route through IdAllocator:\n${found.mkString("\n")}")
  }

  test("no open-coded materialization or local-only path checks") {
    val localFile = "java\\.io\\.File\\b".r
    val found =
      offenders(lintedDirs)(line => localFile.findFirstIn(line).isDefined) ++
        offenders(Seq("src/main/scala/graft"))(line =>
          line.contains("Checkpoints.maybePersist") || line.contains("Option[(SparkSession, String)]"))
    assert(found.isEmpty,
      s"materialize through graft.core.Checkpoints (barriers, writeSplits, exists/status):\n" +
        found.mkString("\n"))
  }

  test("the OMOP pipelines mint no id from monotonically_increasing_id") {
    val found = offenders(Seq("src/main/scala/graft/omop"))(_.contains("monotonically_increasing_id"))
    assert(found.isEmpty,
      s"nondeterministic id source in the OMOP pipelines:\n${found.mkString("\n")}")
  }

  test("no cache, persist or constant-key window in the OMOP pipelines") {
    val selfCached = "\\.cache\\(\\)|(?<!Checkpoints)\\.persist\\(".r
    val found =
      offenders(Seq("src/main/scala/graft/omop"))(line => selfCached.findFirstIn(line).isDefined) ++
        offenders(lintedDirs)(_.contains("partitionBy(lit("))
    assert(found.isEmpty,
      s"materialize through graft.core.Checkpoints; mint global ids through IdAllocator:\n" +
        found.mkString("\n"))
  }

  test("every spark.graft.* conf is read through Tunables") {
    // the key literal sits in the Tunables.long( call or on the line after it
    val found = pairOffenders(Seq("src/main/scala/graft"), exempt = Set("Tunables.scala")) {
      (line, prev) =>
        line.contains("\"spark.graft.") &&
          !line.contains("Tunables.long(") && !prev.contains("Tunables.long(")
    }
    assert(found.isEmpty,
      s"read spark.graft.* confs through graft.core.Tunables:\n${found.mkString("\n")}")
  }
}
