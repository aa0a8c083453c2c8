package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  * {{{
  * Main --workload <cmf_train|corpus_pipeline|query_sweep> --seed <n>
  *      --seconds <n> --trace <0|1> --bench-dir <dir> --out <result.json>
  * Main --record-rows --bench-dir <dir>
  * }}}
  *
  * Prints the workload's own figures (and with tracing the non-zero module
  * metrics) as `name = value unit` lines, then one JSON line: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. The full result (inputs, set-up parts,
  * problems, figures, and with tracing the per-span file) goes to `--out`. */
object Main {
  val Workloads: Seq[Workload] = Seq(CmfTrain, CorpusPipeline, QuerySweep)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val benchDir = opt("bench-dir")
    val t0 = System.nanoTime()
    val spark = GraftSession.get()
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (args.contains("--record-rows")) {
      QuerySweep.record(spark, s"$benchDir/data/sf0.01", s"$benchDir/query_rows_sf0.01.tsv")
      spark.stop()
      return
    }
    val w = Workloads.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val trace = opt("trace") == "1"
    val c = new Ctx(spark, new Tracer(spark, trace), opt("seed").toLong, opt("seconds").toInt, benchDir)
    try w.run(c)
    catch {
      case e: Exception =>
        c.out.failed += 1
        c.out.problems += s"run aborted: $e"
    }
    val r = new Report(w, c, sessionS)
    Files.write(Paths.get(opt("out")), r.resultJson.getBytes(UTF_8))
    if (trace) Files.write(Paths.get(opt("out").stripSuffix(".json") + ".spans.jsonl"),
      r.spansJsonl.getBytes(UTF_8))
    c.out.samples.foreach { case (k, (unit, xs)) =>
      println(f"$k = ${Stats.median(xs.toSeq)}%.6g $unit (median of ${xs.length})")
    }
    if (trace) r.perModule.filter(_._2 != 0).foreach { case (n, v, u) => println(f"$n = $v%.6g $u") }
    c.out.problems.take(20).foreach(p => println(s"problem: $p"))
    println(r.line)
    spark.stop()
  }
}

/** Turns a finished run into its metrics. */
final class Report(w: Workload, c: Ctx, sessionS: Double) {
  private val spans = c.tracer.spans.toIndexedSeq
  private val children = spans.groupBy(_.parent)
  private val passes = spans.filter(_.name == "bench.pass")
  private val nPass = math.max(1, passes.length)

  private def under(root: Span): Seq[Span] =
    root +: children.getOrElse(root.id, Nil).flatMap(under)
  private val measured = passes.flatMap(under)
  private def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
  private def named(n: String) = measured.filter(_.name == n)

  val setupS: Double = sessionS + c.out.setupParts.values.sum

  /** Every end-to-end metric listed in BENCHMARK.json. */
  lazy val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("wall_s", Stats.median(passes.map(_.ms / 1000)), "s"),
    ("req_p50_ms", Stats.median(named(w.requestStep).map(_.ms)), "ms"))

  /** Median per-pass time in the steps that build state. */
  def writeS: Double =
    Stats.median(passes.map(p => under(p).filter(s => w.writeSteps(s.name)).map(_.ms).sum / 1000))

  private lazy val work = c.tracer.work()
  /** Spark work of these spans and everything under them. */
  private def workUnder(ss: Seq[Span]): Work = {
    val t = new Work
    ss.flatMap(under).distinct.foreach(s => work.get(s.id).foreach(t.add))
    t
  }
  private def sumMs(ns: String*) = ns.flatMap(named).map(_.ms).sum / nPass
  private def selfOf(layer: String) = measured.filter(_.layer == layer).map(selfMs).sum / nPass
  private def figure(n: String) = c.out.samples.get(n).fold(0.0)(s => Stats.median(s._2.toSeq))

  /** The per-layer metrics every workload measures: a traced run's JSON
    * line, the `per_layer` list of BENCHMARK.json. Per measured pass, or
    * per request for `req.*`. */
  lazy val perLayer: Seq[(String, Double, String)] = {
    val total = workUnder(passes)
    val writes = workUnder(measured.filter(s => w.writeSteps(s.name)))
    val reqs = named(w.requestStep)
    val req = workUnder(reqs)
    val nReq = math.max(1, reqs.length)
    def counter(i: Int) = passes.map(_.counters(i)).sum.toDouble / nPass
    val wallMs = passes.map(_.ms).sum
    Seq(
      ("session.start_ms", sessionS * 1000, "ms"),
      ("catalyst.analysis_ms", total.analysisMs.toDouble / nPass, "ms"),
      ("catalyst.optimization_ms", total.optimizationMs.toDouble / nPass, "ms"),
      ("catalyst.planning_ms", total.planningMs.toDouble / nPass, "ms"),
      ("codegen.compiles", counter(2), "count"),
      ("codegen.compile_ms", counter(3) / 1000, "ms"),
      ("jvm.jit_ms", counter(0), "ms"),
      ("jvm.gc_ms", counter(1), "ms"),
      ("exec.jobs", total.jobs.toDouble / nPass, "count"),
      ("exec.stages", total.stages.toDouble / nPass, "count"),
      ("exec.tasks", total.tasks.toDouble / nPass, "count"),
      ("exec.empty_task_ratio", if (total.tasks == 0) 0.0 else total.emptyTasks.toDouble / total.tasks, "ratio"),
      ("exec.task_run_ms", total.runMs.toDouble / nPass, "ms"),
      ("exec.task_cpu_ms", total.cpuNs / 1e6 / nPass, "ms"),
      ("exec.sched_delay_ms", total.schedDelayMs.toDouble / nPass, "ms"),
      ("exec.slot_busy_ratio",
        if (wallMs == 0) 0.0 else total.runMs / (c.spark.sparkContext.defaultParallelism * wallMs), "ratio"),
      ("exec.shuffle_write_bytes", total.shuffleWriteBytes.toDouble / nPass, "bytes"),
      ("exec.shuffle_records", total.shuffleRecords.toDouble / nPass, "count"),
      ("exec.spill_bytes", total.spillBytes.toDouble / nPass, "bytes"),
      ("write.jobs", writes.jobs.toDouble / nPass, "count"),
      ("write.task_cpu_ms", writes.cpuNs / 1e6 / nPass, "ms"),
      ("req.jobs", req.jobs.toDouble / nReq, "count"),
      ("req.task_cpu_ms", req.cpuNs / 1e6 / nReq, "ms"),
      ("self.bench_ms", selfOf("bench"), "ms"),
      ("storage.peak_cached_mb", c.out.peakCachedBytes / 1048576.0, "MB"))
  }

  /** Metrics of single modules, written to the result file. A module the
    * workload does not call reports 0, which is why they stay out of the
    * JSON line. Per measured pass unless named per call. */
  lazy val perModule: Seq[(String, Double, String)] = {
    def perCall(n: String, v: Double) = if (named(n).isEmpty) 0.0 else v / named(n).length
    val fe = workUnder(named("cmf.fit_explicit"))
    val fi = workUnder(named("cmf.fit_implicit"))
    val candidates = figure("minhash_candidates")
    Seq(
      ("queries.build_ms", sumMs("queries.build"), "ms"),
      ("queries.eager_jobs", workUnder(named("queries.build")).jobs.toDouble / nPass, "count"),
      ("queries.run_ms", sumMs("queries.run"), "ms"),
      ("exec.fetch_wait_ms", workUnder(passes).fetchWaitMs.toDouble / nPass, "ms"),
      ("cmf.fit_explicit.jobs", perCall("cmf.fit_explicit", fe.jobs.toDouble), "count"),
      ("cmf.fit_explicit.shuffle_write_bytes", perCall("cmf.fit_explicit", fe.shuffleWriteBytes.toDouble), "bytes"),
      ("cmf.fit_explicit.shuffle_records", perCall("cmf.fit_explicit", fe.shuffleRecords.toDouble), "count"),
      ("cmf.fit_explicit.task_cpu_ms", perCall("cmf.fit_explicit", fe.cpuNs / 1e6), "ms"),
      ("cmf.fit_explicit.ms_per_half_step",
        perCall("cmf.fit_explicit", sumMs("cmf.fit_explicit") * nPass) / (CmfTrain.MaxIter * 3), "ms"),
      ("cmf.fit_implicit.jobs", perCall("cmf.fit_implicit", fi.jobs.toDouble), "count"),
      ("cmf.fit_implicit.ms_per_half_step",
        perCall("cmf.fit_implicit", sumMs("cmf.fit_implicit") * nPass) / (CmfTrain.MaxIter * 2), "ms"),
      ("cmf.predict_ms", sumMs("cmf.predict", "cmf.predict_heldout"), "ms"),
      ("cmf.recommend_ms", sumMs("cmf.recommend"), "ms"),
      ("ops.chrono_split_ms", sumMs("ops.chrono_split"), "ms"),
      ("ops.exact_dedup_ms", sumMs("ops.exact_dedup"), "ms"),
      ("ops.minhash_ms", sumMs("ops.minhash"), "ms"),
      ("ops.minhash.candidates", candidates, "count"),
      ("ops.minhash.verified", figure("minhash_verified"), "count"),
      ("ops.minhash.useful_ratio", if (candidates == 0) 0.0 else figure("minhash_verified") / candidates, "ratio"),
      ("ops.simhash_ms", sumMs("ops.simhash"), "ms"),
      ("ops.sorted_nbhd_ms", sumMs("ops.sorted_nbhd"), "ms"),
      ("ops.text_quality_ms", sumMs("ops.text_quality"), "ms"),
      ("ops.bm25_ms", sumMs("ops.bm25"), "ms"),
      ("ops.ivf_build_ms", sumMs("ops.ivf_build"), "ms"),
      ("ops.ivf_search_ms", sumMs("ops.ivf_search"), "ms"),
      ("ops.brute_force_ms", sumMs("ops.brute_force"), "ms"),
      ("eval.rmse_ms", sumMs("eval.rmse"), "ms"),
      ("eval.ranking_ms", sumMs("eval.ranking"), "ms")) ++
      Seq("queries", "cmf", "ops", "eval").map(l => (s"self.${l}_ms", selfOf(l), "ms"))
  }

  private def metrics = if (c.tracer.on) perLayer else endToEnd

  private def metricsJson(ms: Seq[(String, Double, String)]) =
    Json.obj(ms.map { case (n, v, u) => n -> Json.metric(v, u) })

  /** A run that ended before any request has no metrics to report. */
  private def measuredAny = passes.nonEmpty && named(w.requestStep).nonEmpty

  def correct: Boolean = c.out.failed == 0 && c.out.problems.isEmpty && measuredAny

  /** The last stdout line: exactly `correct`, `attempted`, `failed`, `metrics`. */
  lazy val line: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> math.max(1L, c.out.attempted).toString,
    "failed" -> c.out.failed.toString,
    "metrics" -> (if (measuredAny) metricsJson(metrics) else "{}")))

  def resultJson: String = Json.obj(Seq(
    "workload" -> Json.str(w.name),
    "seed" -> c.seed.toString,
    "seconds" -> c.seconds.toString,
    "trace" -> c.tracer.on.toString,
    "passes" -> passes.length.toString,
    "input" -> Json.obj(c.out.info),
    "setup_parts_s" -> Json.obj((("session", sessionS) +: c.out.setupParts.toSeq).map {
      case (k, v) => k -> Json.num(v) }),
    "figures" -> Json.obj(c.out.samples.toSeq.map { case (k, (u, xs)) =>
      k -> Json.obj(Seq("median" -> Json.num(Stats.median(xs.toSeq)), "unit" -> Json.str(u),
        "samples" -> Json.arr(xs.map(Json.num)))) }),
    "peak_cached_mb" -> Json.num(c.out.peakCachedBytes / 1048576.0),
    "problems" -> Json.arr(c.out.problems.map(Json.str)),
    "end_to_end" -> (if (measuredAny) metricsJson(endToEnd) else "{}"),
    "write_s" -> (if (measuredAny) Json.num(writeS) else "null"),
    "per_layer" -> (if (measuredAny && c.tracer.on) metricsJson(perLayer) else "{}"),
    "per_module" -> (if (measuredAny && c.tracer.on) metricsJson(perModule) else "{}"),
    "self_ms_by_layer" -> Json.obj(measured.groupBy(_.layer).toSeq.sortBy(_._1).map {
      case (l, ss) => l -> Json.num(ss.map(selfMs).sum / nPass) }),
    "result" -> line)) + "\n"

  /** One line per span: name, parent, start/end (ms since the first span),
    * duration, self time, JVM/codegen counter deltas and its own Spark work. */
  def spansJsonl: String = {
    val base = spans.headOption.fold(0L)(_.startNs)
    spans.map { s =>
      val w = work.getOrElse(s.id, new Work)
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.startNs - base) / 1e6), "end_ms" -> Json.num((s.endNs - base) / 1e6),
        "ms" -> Json.num(s.ms), "self_ms" -> Json.num(selfMs(s)),
        "counters" -> Json.obj(Counters.Names.zip(s.counters.toSeq.map(_.toString))),
        "jobs" -> w.jobs.toString, "stages" -> w.stages.toString, "tasks" -> w.tasks.toString,
        "empty_tasks" -> w.emptyTasks.toString, "task_run_ms" -> w.runMs.toString,
        "task_cpu_ms" -> Json.num(w.cpuNs / 1e6), "sched_delay_ms" -> w.schedDelayMs.toString,
        "shuffle_write_bytes" -> w.shuffleWriteBytes.toString,
        "shuffle_records" -> w.shuffleRecords.toString, "fetch_wait_ms" -> w.fetchWaitMs.toString,
        "spill_bytes" -> w.spillBytes.toString, "analysis_ms" -> w.analysisMs.toString,
        "optimization_ms" -> w.optimizationMs.toString, "planning_ms" -> w.planningMs.toString))
    }.mkString("", "\n", "\n")
  }
}
