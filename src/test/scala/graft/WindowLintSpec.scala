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
 */
class WindowLintSpec extends AnyFunSuite {

  private val lintedDirs = Seq(
    "src/main/scala/graft/omop/tools",
    "src/main/scala/graft/omop")

  /** `file:line: text` of every non-comment line under `dirs` that `bad`
    * accepts, skipping files named in `exempt`. */
  private def offenders(dirs: Seq[String], exempt: Set[String] = Set.empty)(
      bad: String => Boolean): Seq[String] =
    dirs.flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(p => exempt.contains(p.getFileName.toString))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i)
                if bad(line) && !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
    }

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

  test("no cache, persist or constant-key window in the OMOP pipelines") {
    val selfCached = "\\.cache\\(\\)|(?<!Checkpoints)\\.persist\\(".r
    val found =
      offenders(Seq("src/main/scala/graft/omop"))(line => selfCached.findFirstIn(line).isDefined) ++
        offenders(lintedDirs)(_.contains("partitionBy(lit("))
    assert(found.isEmpty,
      s"materialize through graft.core.Checkpoints; mint global ids through IdAllocator:\n" +
        found.mkString("\n"))
  }
}
