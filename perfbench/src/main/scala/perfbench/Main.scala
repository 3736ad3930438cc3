package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/**
 * One benchmark run: set up the workload's inputs, time passes for the
 * requested seconds, check every pass's output, print one JSON result line.
 *
 * Usage (normally through `run.py`, which builds the classpath first):
 * {{{
 *   java ... perfbench.Main --workload pretrain_cdm --seed 1 --seconds 10 \
 *     --trace 0 --work <work dir> --reference <hash file> --cores 4
 * }}}
 *
 * `setup_s` is the session start plus the median of [[SetupReps]] input
 * set-ups, each into a fresh directory. Every pass writes to
 * a fresh, empty directory; before it starts, the run checks that no
 * persisted intermediate (`processed_*`, `all_patient_events`,
 * `graft_bucketed_*`) exists, drops every `global_temp` view and clears the
 * cache, all outside the timed window.
 */
object Main {

  val SetupReps = 3
  val MinCoverage = 0.99

  final case class Pass(wallS: Double, spans: Seq[Trace.SpanResult], problems: Seq[String],
                        hash: Option[String])

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, reference: Option[String], cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.get("reference"), need("cores").toInt)
  }

  def workload(o: Opts): Workload = o.workload match {
    case "pretrain_cdm" => new Workloads.PretrainCdm(1000, o.seed, o.cores)
    case "cohort_task" => new Workloads.CohortTask(1000, o.seed, o.cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(o: Opts): SparkSession = {
    val s = GraftSession.withDefaults(
      SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${o.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Per-pass isolation, outside the timed window. */
  private def isolate(spark: SparkSession, dirs: Seq[String], out: String): Unit = {
    spark.catalog.listTables("global_temp").collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropGlobalTempView(t.name))
    spark.catalog.clearCache()
    delete(new File(out))
    val left = spark.catalog.listTables().collect().map(_.name).filter(Workloads.isLeftover) ++
      dirs.flatMap(d => Option(new File(d).list()).toSeq.flatten).filter(Workloads.isLeftover)
    require(left.isEmpty, s"persisted intermediates exist before a pass: ${left.mkString(", ")}")
    require(!new File(out).exists(), s"pass output directory $out is not fresh")
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o)
    Files.createDirectories(Paths.get(o.work))

    // ---------------------------------------------------------------- set-up
    // the session is made once; the inputs are made SetupReps times, each in
    // a fresh directory, and setup_s = session start + median input set-up
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    var inputDir = ""
    val setupTimes = (1 to SetupReps).map { rep =>
      if (inputDir.nonEmpty) delete(new File(inputDir))
      val t1 = System.nanoTime()
      inputDir = s"${o.work}/input-$rep"
      w.prepare(spark, inputDir)
      spark.range(1000000).selectExpr("sum(id)").collect()
      (System.nanoTime() - t1) / 1e9
    }
    // the gate's expected values and the provenance counts, outside set-up
    val tableRows = w.inputRows(spark, inputDir)
    val expected = w.expected(spark, inputDir)
    val referenceHash = o.reference.flatMap(Reference.lookup(_, w.name, o.seed, w.patients))

    // ---------------------------------------------------------------- passes
    val trace = new Trace(spark)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var n = 0
    // a traced run makes the same passes as an untraced one, with every pass
    // split into spans; the tracing overhead is the difference between the
    // two runs' wall_s on one seed
    trace.detailed = o.trace
    while (passes.isEmpty || elapsed < o.seconds) {
      val out = s"${o.work}/pass-$n"
      n += 1
      isolate(spark, Seq(inputDir, s"${o.work}/warehouse"), out)
      trace.reset()
      val t0 = System.nanoTime()
      val failure =
        try { trace.span("pass") { w.pass(spark, trace, inputDir, out) }; None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      trace.settle()
      val (problems, hash) = failure match {
        case Some(f) => (Seq(f), None)
        case None =>
          try {
            val got = w.output(spark, out)
            val hashProblem = referenceHash.filter(_ != got.hash)
              .map(h => s"content hash ${got.hash} != recorded $h")
            (w.check(got, expected) ++ hashProblem, Some(got.hash))
          } catch { case NonFatal(e) => (Seq(s"output unreadable: ${e.getMessage}"), None) }
      }
      val pass = Pass(wall, trace.results(), problems, hash)
      // in a traced pass the layer spans must account for the whole pass
      val uncovered = Option.when(o.trace && Layers.coverage(pass) < MinCoverage)(
        f"layer spans cover ${Layers.coverage(pass)}%.4f of the pass")
      passes += pass.copy(problems = problems ++ uncovered)
      passes.last.problems.foreach(p => System.err.println(s"[perfbench] pass $n failed the gate: $p"))
      delete(new File(out))
    }
    // every pass of the run must produce the same content
    val hashes = passes.flatMap(_.hash).distinct
    val mismatch = hashes.size > 1
    if (mismatch) System.err.println(s"[perfbench] passes disagree: ${hashes.mkString(", ")}")

    // ---------------------------------------------------------------- result
    val attempted = passes.size
    val failed = passes.count(_.problems.nonEmpty) + (if (mismatch) 1 else 0) min attempted
    val okWalls = passes.filter(_.problems.isEmpty).map(_.wallS).toSeq
    val wall = median(okWalls)
    def passTotal(f: Trace.SpanResult => Double, agg: Seq[Double] => Double) =
      median(passes.map(p => agg(p.spans.map(f))).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", sessionS + median(setupTimes), "s"),
        ("wall_s", wall, "s"),
        ("patients_per_s", w.patients / wall, "1/s"))
      else Layers.metrics(passes.toSeq)

    val provenance = Seq(
      "workload" -> Json.str(w.name), "seed" -> o.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString,
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "patients" -> w.patients.toString,
      "table_rows" -> Json.obj(tableRows.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "expected" -> Json.obj(expected.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "content_hash" -> hashes.headOption.map(Json.str).getOrElse("null"),
      "hash_recorded" -> referenceHash.isDefined.toString,
      "bytes_written_mb" -> Json.num(passTotal(_.writtenMb, _.sum)),
      "peak_task_mem_mb" -> Json.num(passTotal(_.peakTaskMemMb, _.max)),
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "pass_walls_s" -> passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]"))
    println(Json.obj(Seq("provenance" -> Json.obj(provenance))))
    if (o.trace) {
      val lines = passes.zipWithIndex.flatMap { case (p, i) =>
        p.spans.map(s => s.json.dropRight(1) + s""","pass":$i}""")
      }
      Files.write(Paths.get(s"${o.work}/spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    trace.close()
    spark.stop()
    val correct = failed == 0 && okWalls.nonEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}
