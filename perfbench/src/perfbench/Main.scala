package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.Comparator

import scala.collection.mutable
import scala.util.{Failure, Success, Try, Using}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.GraftSession
import graft.config.ConfigReader
import graft.core.{Comparison, ComparisonResult}
import graft.jobs.ComparisonJob
import graft.sources.IoUtils

/** The comparison-job benchmark, one workload per process.
  *
  * Untraced (`--trace 0`): set-up, input generation, untimed warm-up
  * jobs, then timed `runComparisonJob` calls for about `--seconds`; every job's reports
  * are read back after the timer stops and checked against the oracle.
  * Traced (`--trace 1`): the same warm-up, then untraced jobs alternate
  * with a composition of the same job from the layers' public functions,
  * with a span around each call and Spark listener counters per span.
  *
  * The last stdout line is the JSON result; the lines before it print each
  * metric by name, unit and sample count.
  */
object Main {
  /** The second job of a fresh JVM is still far from warm: its time and CPU
    * vary 2-3x more between runs than later jobs'. */
  val WarmupJobs = 2

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, launchNs: Long,
      dir: Path, sf: Double, spansOut: Option[Path])

  final case class Outcome(wallS: Double, cpuS: Double, storeBytes: Long, errors: Seq[String]) {
    def ok: Boolean = errors.isEmpty
  }

  private def nowNs: Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    Opts(
      workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("launch-ns").toLong, Paths.get(need("dir")).toAbsolutePath,
      m.get("sf").map(_.toDouble).getOrElse(Workloads.DefaultScale(workload)),
      m.get("spans").map(Paths.get(_)))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = GraftSession.local(4)
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
    val setupS = (nowNs - o.launchNs) / 1e9
    System.err.println(f"set-up: $setupS%.3f s")

    val gen0 = System.nanoTime()
    val inputs = Workloads.generate(spark, o.workload, o.sf, o.seed, o.dir)
    val generateS = (System.nanoTime() - gen0) / 1e9
    val bench = new Bench(spark, inputs, o.dir.resolve("out").resolve(o.workload))
    val outcomes = mutable.ArrayBuffer.empty[Outcome]

    // Untimed warm-up jobs (the first is the cold job), then a fixed number
    // of timed jobs from --seconds and the workload's nominal job time, so
    // the sample count never depends on how fast the jobs ran.
    val timedJobs =
      math.max(2, math.ceil(o.seconds / Workloads.NominalJobSeconds(o.workload)).toInt)
    for (_ <- 1 to WarmupJobs) outcomes += bench.plain()
    val coldJobS = outcomes.head.wallS

    val report =
      if (!o.trace) {
        for (_ <- 1 to timedJobs) outcomes += bench.plain()
        val timed = outcomes.drop(WarmupJobs).filter(_.ok)
        val jobS = median(timed.map(_.wallS))
        // Printed, not gated: about 1 fresh JVM in 10 runs clean_gate's warm
        // jobs with ~70% more CPU, which puts the 10-run spread of cpu_s
        // above any bound BENCHMARK.json may set.
        println(s"cpu_s = ${median(timed.map(_.cpuS))} s (n=${timed.size})")
        Seq(
          ("setup_s", setupS, "s", 1),
          ("job_s", jobS, "s", timed.size),
          ("rows_per_s", inputs.rows / jobS, "rows/s", timed.size),
          ("store_mb", median(timed.map(_.storeBytes / 1e6)), "MB", timed.size))
      } else {
        val tracer = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(tracer.listener)
        val layers = new Layers(spark, bench, tracer, inputs)
        val plain = mutable.ArrayBuffer.empty[Outcome]
        def plainJob(): Unit = {
          val p = bench.plain()
          outcomes += p
          layers.residual(p)
          if (p.ok) plain += p
        }
        // untraced/traced pairs in ABBA order, so the JIT's shortening of
        // successive jobs does not favour either side of trace.overhead
        for (i <- 1 to 2 * math.max(1, (timedJobs + 1) / 4)) {
          if (i % 2 == 1) plainJob()
          outcomes += layers.traced()
          if (i % 2 == 0) plainJob()
        }
        spark.sparkContext.removeSparkListener(tracer.listener)
        o.spansOut.foreach { p =>
          Files.createDirectories(p.toAbsolutePath.getParent)
          Files.writeString(p, tracer.spansJson)
        }
        layers.metrics(coldJobS, median(plain.map(_.wallS)), median(plain.map(_.cpuS)))
      }

    val failed = outcomes.count(!_.ok)
    outcomes.flatMap(_.errors).distinct.take(20).foreach(e => println(s"FAILED CHECK: $e"))
    println(f"workload ${o.workload} seed ${o.seed} sf ${o.sf}%s: ${inputs.rows} input rows, " +
      f"${inputs.inputBytes} input bytes, generated in $generateS%.1f s, " +
      f"cold job $coldJobS%.3f s, checks took ${bench.checkSeconds}%.1f s")
    println(s"failed_ratio = ${failed.toDouble / outcomes.size} ratio (n=${outcomes.size})")
    report.foreach { case (name, v, unit, n) => println(s"$name = $v $unit (n=$n)") }
    val metrics = report.map { case (name, v, unit, _) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$name": {"value": $num, "unit": "$unit"}"""
    }
    println(s"""{"correct": ${failed == 0}, "attempted": ${outcomes.size}, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    spark.stop()
  }
}

/** Runs and checks one job at a time. */
final class Bench(spark: SparkSession, inputs: Inputs, val jobDir: Path) {
  import Main.Outcome

  var checkSeconds = 0.0

  def clearOutput(): Unit = if (Files.exists(jobDir))
    Using.resource(Files.walk(jobDir))(_.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))

  /** Block-manager storage held by persisted frames (memory plus disk). */
  def rddBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Block-manager storage memory in use, broadcast blocks included. */
  def storageUsedBytes(): Long =
    spark.sparkContext.getExecutorMemoryStatus.valuesIterator.map { case (max, free) => max - free }.sum

  /** `runComparisonJob` from config to every report written. */
  def plain(): Outcome = {
    clearOutput()
    val cpu0 = Process.cpuNs
    val t0 = System.nanoTime()
    val r = Try(ComparisonJob.runComparisonJob(
      spark, ConfigReader.parseComparisonJobConfigJson(inputs.configJson)))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Process.cpuNs - cpu0) / 1e9
    finish(r, wall, cpu, rddBytes(), _.unpersist())
  }

  def finish(r: Try[ComparisonResult], wall: Double, cpu: Double, store: Long,
      release: ComparisonResult => Unit): Outcome = r match {
    case Success(res) =>
      release(res)
      val c0 = System.nanoTime()
      val errors = Try(Check(spark, jobDir, inputs.expects)).fold(e => Seq(s"check threw: $e"), identity)
      checkSeconds += (System.nanoTime() - c0) / 1e9
      System.err.println(f"job: $wall%.3f s wall, $cpu%.2f CPU-s, ${errors.size} check errors")
      Outcome(wall, cpu, store, errors)
    case Failure(e) =>
      spark.catalog.clearCache()
      System.err.println(f"job: $wall%.3f s wall, threw $e")
      Outcome(wall, cpu, store, Seq(s"job threw: $e"))
  }
}

/** The traced composition of the job and the per-layer metrics derived from
  * its spans. Datasets run one after another here, while `runComparisonJob`
  * overlaps them, so on a multi-dataset job the traced wall time also loses
  * that overlap.
  */
final class Layers(spark: SparkSession, bench: Bench, tracer: Tracer, inputs: Inputs) {
  import Main.{Outcome, median}

  private val perIteration = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val residuals = mutable.ArrayBuffer.empty[Double]

  private def codegenNs: Long = WholeStageCodegenExec.codeGenTime + CodeGenerator.compileTime

  /** Storage still held after the job's frames were released. */
  def residual(o: Outcome): Unit = if (o.ok) {
    ListenerBusDrain(spark.sparkContext)
    residuals += bench.storageUsedBytes() / 1e6
  }

  def traced(): Outcome = {
    bench.clearOutput()
    tracer.iteration += 1
    var codegen = 0L
    val cpu0 = Process.cpuNs
    val r = Try(tracer.span("job") {
      val cfg = tracer.span("config.parse")(ConfigReader.parseComparisonJobConfigJson(inputs.configJson))
      val results = cfg.datasetConfigs.map { dc =>
        val src = tracer.span("sources.read")(IoUtils.readDataframe(spark, dc.sourceConfig))
        val tgt = tracer.span("sources.read")(IoUtils.readDataframe(spark, dc.targetConfig))
        val c0 = codegenNs
        val res = tracer.span("core.compare")(Comparison.compareDataFrames(spark, src, tgt, dc.params))
        codegen += codegenNs - c0
        res
      }
      val all = tracer.span("jobs.consolidate")(ComparisonJob.consolidate(results, cfg.normalizeRowKeys))
      tracer.span("jobs.write")(ComparisonJob.writeResults(all, cfg.jobName, cfg.outputConfig))
      all
    })
    val cpu = (Process.cpuNs - cpu0) / 1e9
    val root = tracer.spans.last
    val store = bench.rddBytes()
    val outcome = bench.finish(r, root.seconds, cpu, store, res => tracer.span("core.unpersist")(res.unpersist()))
    residual(outcome)
    if (outcome.ok) perIteration += layerMetrics(root, store, codegen)
    outcome
  }

  private def layerMetrics(root: Span, store: Long, codegenNs: Long): Map[String, Double] = {
    val spans = tracer.spans.filter(_.iteration == root.iteration).toSeq
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def work(n: String) = named(n).map(s => tracer.workOf(s.id))
    def sum(n: String)(f: Work => Long): Double = work(n).map(f).sum.toDouble
    def driverCpu(n: String) = named(n).map(_.cpuSeconds).sum - sum(n)(_.taskCpuNs) / 1e9
    val allWork = spans.map(s => tracer.workOf(s.id))
    Map(
      "core.driver_cpu_s" -> driverCpu("core.compare"),
      "core.planning_ms" -> sum("core.compare")(_.planningMs),
      "core.sql_execs" -> sum("core.compare")(_.sqlExecs),
      "core.jobs" -> sum("core.compare")(_.jobs),
      "core.stages" -> sum("core.compare")(_.stages),
      "core.tasks" -> sum("core.compare")(_.tasks),
      "core.exec_cpu_s" -> sum("core.compare")(_.taskCpuNs) / 1e9,
      "core.shuffle_write_bytes" -> sum("core.compare")(_.shuffleWriteBytes),
      "core.shuffle_records" -> sum("core.compare")(_.shuffleRecords),
      "core.spill_bytes" -> sum("core.compare")(_.spillBytes),
      "core.compare_s" -> secs("core.compare"),
      "core.scan_passes" -> sum("core.compare")(_.scanBytes) / inputs.inputBytes,
      "core.codegen_ms" -> codegenNs / 1e6,
      "core.store_mb" -> store / 1e6,
      "core.unpersist_ms" -> secs("core.unpersist") * 1e3,
      "jobs.write_s" -> secs("jobs.write"),
      "jobs.write_driver_cpu_s" -> driverCpu("jobs.write"),
      "jobs.write_exec_cpu_s" -> sum("jobs.write")(_.taskCpuNs) / 1e9,
      "jobs.write_jobs" -> sum("jobs.write")(_.jobs),
      "jobs.write_tasks" -> sum("jobs.write")(_.tasks),
      "jobs.write_shuffle_bytes" -> sum("jobs.write")(_.shuffleWriteBytes),
      "jobs.consolidate_s" -> secs("jobs.consolidate"),
      "jobs.self_s" -> tracer.selfSeconds(root),
      "sources.read_s" -> secs("sources.read"),
      "sources.input_bytes" -> allWork.map(_.scanBytes).sum.toDouble,
      "sources.output_bytes" -> allWork.map(_.outputBytes).sum.toDouble,
      "sources.output_files" -> outputFiles().toDouble,
      "config.parse_ms" -> secs("config.parse") * 1e3,
      "trace.job_s" -> root.seconds)
  }

  private def outputFiles(): Long =
    Using.resource(Files.walk(bench.jobDir))(_.filter(_.getFileName.toString.startsWith("part-")).count())

  def metrics(coldJobS: Double, plainJobS: Double, plainCpuS: Double): Seq[(String, Double, String, Int)] = {
    val n = perIteration.size
    def med(k: String) = median(perIteration.map(_(k)).toSeq)
    val last = residuals.lastOption.getOrElse(Double.NaN)
    val growth =
      if (residuals.size < 2) 0.0 else (residuals.last - residuals.head) / (residuals.size - 1)
    Layers.Units.map { case (k, unit) =>
      k match {
        case "core.residual_store_mb" => (k, last, unit, residuals.size)
        case "core.residual_growth_mb" => (k, growth, unit, residuals.size)
        case "session.cold_job_s" => (k, coldJobS, unit, 1)
        case "trace.overhead" => (k, med("trace.job_s") / plainJobS - 1, unit, n)
        case "jobs.cpu_s" => (k, plainCpuS, unit, n)
        case _ => (k, med(k), unit, n)
      }
    }
  }
}

object Layers {
  /** Every per-layer metric, in report order, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "core.driver_cpu_s" -> "s", "core.planning_ms" -> "ms", "core.sql_execs" -> "count",
    "core.jobs" -> "count", "core.stages" -> "count", "core.tasks" -> "count",
    "core.exec_cpu_s" -> "s", "core.shuffle_write_bytes" -> "bytes",
    "core.shuffle_records" -> "count", "core.spill_bytes" -> "bytes", "core.compare_s" -> "s",
    "core.scan_passes" -> "ratio", "core.codegen_ms" -> "ms", "core.store_mb" -> "MB",
    "core.residual_store_mb" -> "MB", "core.residual_growth_mb" -> "MB/job",
    "core.unpersist_ms" -> "ms",
    "jobs.write_s" -> "s", "jobs.write_driver_cpu_s" -> "s", "jobs.write_exec_cpu_s" -> "s",
    "jobs.write_jobs" -> "count", "jobs.write_tasks" -> "count",
    "jobs.write_shuffle_bytes" -> "bytes", "jobs.consolidate_s" -> "s", "jobs.self_s" -> "s",
    "jobs.cpu_s" -> "s",
    "sources.read_s" -> "s", "sources.input_bytes" -> "bytes", "sources.output_bytes" -> "bytes",
    "sources.output_files" -> "count", "config.parse_ms" -> "ms",
    "session.cold_job_s" -> "s", "trace.job_s" -> "s", "trace.overhead" -> "ratio")
}
