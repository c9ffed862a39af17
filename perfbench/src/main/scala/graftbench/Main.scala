package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{OpCompiler, OpSpec, Pipeline, PipelineConfig, Sessions}
import scala.collection.mutable.ArrayBuffer

/** End-to-end benchmark of YAML pipelines run through `Pipeline.execute`.
  *
  * One invocation runs one workload in one JVM on local[nproc - 1]:
  *  1. set-up: session bring-up, seeded input generation and one warm-up
  *     execute, repeated three times (`setup_s` is their median);
  *  2. one more untimed execute, then untraced runs of `Pipeline.execute`,
  *     from YAML text to a written sink, for `--seconds` (at least four
  *     runs); each run's output is checked;
  *  3. with `--trace 1`, one traced run that makes the lifecycle's public
  *     calls one layer at a time and then `Pipeline.execute` itself.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR [--bench DIR] [--smoke]
  * `--smoke` uses tiny inputs, skips warm-up, makes one untraced and one
  * traced run and reports every metric. The last stdout line is the JSON
  * result; the lines before it are the per-workload report.
  */
object Main {

  final case class Run(wallS: Double, cpuS: Double, counts: Counts, status: String,
                       error: String, checks: Seq[Check]) {
    def ok: Boolean = status == "success" && checks.forall(_.passed)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val smoke = argv.contains("--smoke")
    val benchDir = args.getOrElse("bench", "perfbench")
    val w = Workloads.byName(args("workload"), benchDir)
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.get("trace").contains("1") || smoke
    val work = Paths.get(args("work")).toAbsolutePath
    val dataDir = work.resolve("data").toString
    val outDir = work.resolve("out").toString
    // one vCPU is left to the driver thread, the JIT and GC: with every vCPU
    // running a task, their bursts preempt tasks and wall times on a 4-vCPU
    // host swing by a quarter between identical runs
    val cores = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val yaml = PipelineConfig.substituteEnv(
      new String(Files.readAllBytes(Paths.get(w.yamlPath)), "UTF-8"), w.vars(dataDir, outDir).get)

    var spark: SparkSession = null
    var counters: Counters = null
    def startSession(): Unit = {
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = Sessions.configure(SparkSession.builder().master(s"local[$cores]")
        .appName("graft-perfbench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString), cores).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      counters = new Counters
      spark.sparkContext.addSparkListener(counters)
    }

    /** The storage path is pointed into the work directory: the shipped
      * sales example writes to a fixed path outside it. */
    def parse(): PipelineConfig.PipelineConf = {
      val conf = Pipeline.fromYaml(yaml)
      conf.copy(storage = conf.storage.map(_.copy(path = outDir)))
    }

    def clearOutput(): Unit = deleteTree(Paths.get(outDir))

    def runUntraced(checked: Boolean): Run = {
      clearOutput()
      // collect the previous run's and the check's garbage now, so that no
      // run pays a pause for work done outside it
      System.gc()
      val c0 = counters.snapshot(spark.sparkContext)
      val cpu0 = Probes.threadCpuNs(); val t0 = System.nanoTime()
      val res = Pipeline.execute(spark, parse())
      val t1 = System.nanoTime(); val cpu1 = Probes.threadCpuNs()
      val c1 = counters.snapshot(spark.sparkContext)
      Run((t1 - t0) / 1e9, Probes.cpuNsBetween(cpu0, cpu1) / 1e9, c1 - c0, res.status,
        res.errors.mkString("; "), if (checked) safeCheck() else Nil)
    }

    def safeCheck(): Seq[Check] =
      try w.check(spark, outDir)
      catch { case t: Throwable => Seq(Check("output_readable", passed = false, String.valueOf(t.getMessage))) }

    // 1. set-up
    val setups = (1 to (if (trace) 1 else w.setupRounds)).map { _ =>
      val t0 = System.nanoTime()
      startSession()
      val t1 = System.nanoTime()
      w.generate(spark, dataDir, seed, smoke)
      val t2 = System.nanoTime()
      if (!smoke) runUntraced(checked = false)
      val t3 = System.nanoTime()
      System.err.println(f"[setup] session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    w.prepare(spark, dataDir, seed)
    // one more untimed execute: after three fresh sessions the JIT is still
    // compiling the pipeline's hot code, and the first timed run would pay it
    if (!smoke) runUntraced(checked = false)

    // 2. untraced runs
    val runs = ArrayBuffer.empty[Run]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // at least four runs, so the median never rests on one early run
    do runs += runUntraced(checked = true) while (!smoke && (System.nanoTime() < deadline || runs.size < 4))

    // 3. the traced run
    val traced = if (!trace) None else Some(tracedRun(spark, counters, w, seed, parse _, clearOutput _, safeCheck _))
    val allRuns = runs.toSeq ++ traced.map(_._2)

    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    line(s"== ${w.name}  seed=$seed  local[$cores]  ${allRuns.size} checked runs ==")
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

    if (!trace || smoke) {
      val e2e = Seq(
        ("setup_s", median(setups), "s", s"median of ${setups.size} set-ups: ${setups.map(d => f"$d%.2f").mkString(" ")}"),
        ("run_s", median(runs.map(_.wallS).toSeq), "s",
          f"median of ${runs.size} runs (min ${runs.map(_.wallS).min}%.3f, max ${runs.map(_.wallS).max}%.3f)"),
        ("cpu_s", median(runs.map(_.cpuS).toSeq), "s", "driver + executor thread CPU per run, median"),
        ("jobs", median(runs.map(_.counts.jobs.toDouble).toSeq), "count",
          s"per run, values ${runs.map(_.counts.jobs).distinct.mkString(",")}"),
        ("shuffle_mb", median(runs.map(_.counts.shuffleWriteB / 1e6).toSeq), "MB", "shuffle written per run, median"),
        ("fail_frac", runs.count(!_.ok).toDouble / runs.size, "ratio",
          s"${runs.count(!_.ok)} failed / ${runs.size} attempted"))
      line("end-to-end (untraced)")
      e2e.foreach { case (n, v, u, why) =>
        metrics(n) = (v, u); line(f"  $n%-12s ${fmt(v)}%12s $u%-5s  $why")
      }
    }

    traced.foreach { case (tr, tracedRunResult) =>
      val untracedRunS = median(runs.map(_.wallS).toSeq)
      perLayer(tr, untracedRunS, cores, line).foreach { case (n, vu) => metrics(n) = vu }
      tr.write(work.getParent.resolve(s"trace-${w.name}-seed$seed.jsonl"))
      line(s"  spans written to ${work.getParent.resolve(s"trace-${w.name}-seed$seed.jsonl")}")
      if (!tracedRunResult.ok) line(s"  traced execute: ${tracedRunResult.status} ${tracedRunResult.error.take(300)}")
    }

    line("output checks")
    val checkNames = allRuns.flatMap(_.checks.map(_.name)).distinct
    checkNames.foreach { n =>
      val cs = allRuns.flatMap(_.checks.filter(_.name == n))
      line(s"  $n: ${cs.count(_.passed)}/${cs.size} passed  (${cs.last.detail})")
    }
    allRuns.filter(_.status != "success").map(_.error).distinct.foreach(e =>
      line(s"  status failed: ${e.take(400)}"))

    print(out)
    println("checks_ran " + graft.core.Json.value(checkNames))
    val correct = allRuns.forall(_.checks.forall(_.passed)) && allRuns.forall(_.checks.nonEmpty)
    println(graft.core.Json.value(Map(
      "correct" -> correct,
      "attempted" -> allRuns.size,
      "failed" -> allRuns.count(!_.ok),
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) })))
    spark.stop()
  }

  /** The lifecycle's public calls, one span each, in the order
    * `Pipeline.execute` makes them, then `Pipeline.execute` itself. */
  def tracedRun(spark: SparkSession, counters: Counters, w: Workload, seed: Long,
                parse: () => PipelineConfig.PipelineConf, clearOutput: () => Unit,
                check: () => Seq[Check]): (Tracer, Run) = {
    val tr = new Tracer(spark.sparkContext, counters, s"${w.name}-$seed-traced")
    clearOutput()
    var res: Pipeline.Result = null
    tr.span("run") {
      val conf = tr.span("config.parse")(parse())
      val (primary, catalog) = tr.span("sources.load")(Pipeline.load(spark, conf))
      val caches = ArrayBuffer.empty[DataFrame]
      val compiled = tr.span("core.build") {
        conf.operations.zipWithIndex.foldLeft(primary) { case (d, (op, i)) =>
          tr.span(f"op.${i + 1}%02d_${opName(op)}")(OpCompiler.applyOp(d, op, catalog, caches))
        }
      }
      tr.span("exec.run")(compiled.write.format("noop").mode("overwrite").save())
      caches.foreach(_.unpersist(blocking = true))
      res = tr.span("pipeline.execute")(Pipeline.execute(spark, parse()))
    }
    val wall = tr.named("config.parse").seconds + tr.named("pipeline.execute").seconds
    val s = tr.named("pipeline.execute")
    (tr, Run(wall, Double.NaN, s.counts, res.status, res.errors.mkString("; "), check()))
  }

  /** YAML operation name: the `operation` param where the op has one. */
  def opName(op: OpSpec): String = op match {
    case OpSpec.TextProcessing(p)       => p.getOrElse("operation", "text").toString
    case OpSpec.TimeSeriesProcessing(p) => p.getOrElse("operation", "time_series").toString
    case other => other.getClass.getSimpleName.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase
  }

  /** Per-layer metrics from the traced run's spans and listener counters,
    * printed as a table with every ratio beside its base. */
  def perLayer(tr: Tracer, untracedRunS: Double, cores: Int, line: String => Unit): Seq[(String, (Double, String))] = {
    val parse = tr.named("config.parse"); val load = tr.named("sources.load")
    val build = tr.named("core.build"); val exec = tr.named("exec.run")
    val pipe = tr.named("pipeline.execute")
    val ops = tr.children(build)
    line("per-layer (one traced run)")
    line(f"  ${"span"}%-28s ${"wall_s"}%9s ${"self_s"}%9s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s ${"cpu_s"}%8s ${"shufR_mb"}%9s ${"shufW_mb"}%9s ${"spill_mb"}%8s ${"gc_s"}%6s ${"idle_s"}%8s")
    tr.spans.foreach { s =>
      val depth = Iterator.iterate(s.parent)(p => tr.spans.find(_.id == p).map(_.parent).getOrElse(-1))
        .takeWhile(_ >= 0).size
      val c = s.counts
      line(f"  ${"  " * depth + s.name}%-28s ${s.seconds}%9.3f ${tr.selfSeconds(s)}%9.3f ${c.jobs}%5d ${c.stages}%6d ${c.tasks}%6d ${c.taskMs / 1e3}%8.2f ${c.cpuNs / 1e9}%8.2f ${c.shuffleReadB / 1e6}%9.2f ${c.shuffleWriteB / 1e6}%9.2f ${c.spillB / 1e6}%8.2f ${s.gcMs / 1e3}%6.2f ${s.idleMs / 1e3}%8.3f")
    }
    val usefulJobs = load.counts.jobs + build.counts.jobs + exec.counts.jobs
    val tracedRunS = parse.seconds + pipe.seconds
    val m = Seq(
      "config.parse_s" -> (parse.seconds, "s"),
      "sources.load_s" -> (load.seconds, "s"),
      "sources.load_jobs" -> (load.counts.jobs.toDouble, "count"),
      "core.build_s" -> (build.seconds, "s"),
      "core.build_jobs" -> (build.counts.jobs.toDouble, "count"),
      "core.build_idle_s" -> (build.idleMs / 1e3, "s"),
      "exec.run_s" -> (exec.seconds, "s"),
      "exec.jobs" -> (exec.counts.jobs.toDouble, "count"),
      "exec.stages" -> (exec.counts.stages.toDouble, "count"),
      "exec.tasks" -> (exec.counts.tasks.toDouble, "count"),
      "exec.task_s" -> (exec.counts.taskMs / 1e3, "s"),
      "exec.cpu_s" -> (exec.counts.cpuNs / 1e9, "s"),
      "exec.shuffle_read_mb" -> (exec.counts.shuffleReadB / 1e6, "MB"),
      "exec.shuffle_write_mb" -> (exec.counts.shuffleWriteB / 1e6, "MB"),
      "exec.spill_mb" -> (exec.counts.spillB / 1e6, "MB"),
      "exec.gc_s" -> (exec.gcMs / 1e3, "s"),
      "exec.idle_s" -> (exec.idleMs / 1e3, "s"),
      "pipeline.jobs" -> (pipe.counts.jobs.toDouble, "count"),
      "pipeline.idle_s" -> (pipe.idleMs / 1e3, "s"),
      "pipeline.lifecycle_s" -> (pipe.seconds - load.seconds - build.seconds - exec.seconds, "s"),
      "pipeline.passes" -> (pipe.counts.jobs.toDouble / math.max(1L, usefulJobs), "ratio"),
      "trace.overhead_s" -> (tracedRunS - untracedRunS, "s")) ++
      ops.flatMap(o => Seq(s"${o.name}.build_s" -> (o.seconds, "s"),
        s"${o.name}.build_jobs" -> (o.counts.jobs.toDouble, "count")))
    line("ratios (value = numerator / base)")
    def ratio(n: String, num: Double, den: Double, base: String): Unit =
      line(f"  $n%-30s ${if (den == 0) Double.NaN else num / den}%8.3f = ${fmt(num)} / ${fmt(den)}  ($base)")
    ratio("pipeline.passes", pipe.counts.jobs, usefulJobs,
      s"pipeline.jobs / (load ${load.counts.jobs} + build ${build.counts.jobs} + exec ${exec.counts.jobs} jobs)")
    ratio("build share of execute", build.seconds, pipe.seconds, "core.build_s / pipeline.execute wall")
    ratio("lifecycle share of execute", pipe.seconds - load.seconds - build.seconds - exec.seconds,
      pipe.seconds, "pipeline.lifecycle_s / pipeline.execute wall")
    ratio("pipeline idle share", pipe.idleMs / 1e3, pipe.seconds, "pipeline.idle_s / pipeline.execute wall")
    ratio("exec task-busy share", exec.counts.taskMs / 1e3, exec.seconds * cores,
      "exec.task_s / (exec.run_s x cores)")
    ratio("exec cpu share of task time", exec.counts.cpuNs / 1e9, exec.counts.taskMs / 1e3, "exec.cpu_s / exec.task_s")
    ratio("traced / untraced run", tracedRunS, untracedRunS, "traced parse+execute / untraced run_s median")
    m.foreach { case (n, (v, u)) => line(f"  $n%-34s ${fmt(v)}%12s $u") }
    m
  }

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e12) f"$v%.0f" else f"$v%.4f"

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
