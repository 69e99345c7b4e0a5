package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * The benchmark's JVM side. Runs one workload for a time budget, round by
 * round (a fresh session per round, after untimed warm-up rounds), checks
 * every round's outputs, and writes the result as JSON to `--out`: every
 * metric it measured by name (BENCHMARK.json gives their units and order).
 *
 *   --workload mysql_drain_2k_fanout|llm_corpus_batch
 *   --seed N --seconds S --trace 0|1 --work DIR --out FILE
 *   [--input DIR]   the LLM corpus (documents.parquet, embeddings.parquet)
 *   [--fault none|drop|dup]   make the producer drop or duplicate one record
 */
object Main {
  /** `warm` warm-up rounds (checked, not measured), then `measured` rounds.
   * Fixed counts: every run measures the same point of the JVM's warm-up. */
  private def rounds[R](warm: Int, measured: Int)(run: Int => R): (Seq[R], Seq[R]) =
    ((0 until warm).map(run), (warm until warm + measured).map(run))

  /** Measured rounds for a budget of `seconds` at about `roundS` a round. */
  private def count(seconds: Double, roundS: Double, min: Int): Int =
    math.max(min, math.ceil(seconds / roundS).toInt)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val fault = opt.getOrElse("fault", "none")
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(work))
    val noise = new Host.Noise
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] main entered ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s after JVM start")

    val metrics = mutable.LinkedHashMap[String, Double]()
    val problems = mutable.ArrayBuffer[String]()
    val detail = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    var failed = 0L
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // per-layer value: the median over the traced rounds
    def layers(maps: Seq[Map[String, Double]]): Map[String, Double] =
      maps.flatMap(_.keys).distinct.map(k => k -> med(maps.flatMap(_.get(k)))).toMap

    val broker = new AuditBroker
    try workload match {
      case "mysql_drain_2k_fanout" =>
        // round 0 is a one-trigger backlog that pays the cold start, round 1
        // a full one. The JIT keeps compiling through the whole run
        // (jvm.jit_cpu_s), so every run measures the same rounds. Traced
        // runs alternate untraced and traced rounds, for the tracing overhead.
        val warm = 2
        val measured = count(seconds, 1.6, 5)
        val (warmup, all) = rounds(warm, if (traced) math.max(measured, 4) else measured)(i =>
          Cdc.drainRound(seed, work, i, cores, traced && i >= warm && (i - warm) % 2 == 1, broker, fault))
        val plain = all.filterNot(_.trace)
        val tr = all.filter(_.trace)
        (warmup ++ all).foreach { r => problems ++= r.problems; attempted += r.attempts; failed += r.failures }
        def eps(r: CdcRound) = r.events / r.wallS
        def rate(rs: Seq[CdcRound]) = med(rs.flatMap(_.triggerRates))
        metrics ++= Seq(
          "throughput_per_s" -> rate(plain),
          "cpu_s" -> med(plain.map(_.cpuS)),
          "heap_peak_mb" -> med(plain.map(_.heapMb)),
          "setup_s" -> med(plain.map(_.setupS)))
        detail ++= Seq("rounds" -> plain.size.toString,
          "triggers" -> plain.map(_.triggerRates.size).sum.toString,
          "jit_cpu_s_rounds" -> plain.map(r => Json.num(r.jitS)).mkString("[", ",", "]"),
          "drain_eps_rounds" -> plain.map(r => Json.num(eps(r))).mkString("[", ",", "]"),
          // the issue's drain_eps (delivered events over the round's wall),
          // reported beside the reference's rates as context, not gated
          "drain_eps" -> Json.num(med(plain.map(eps))),
          "reference_eps" -> """{"mysql_kafka_at_least_once":151000,"mysql_kafka_exactly_once":134000}""")
        if (traced) {
          metrics ++= layers(tr.map(_.layers))
          metrics("jvm.gc_s") = med(tr.map(_.gcS))
          metrics("jvm.jit_cpu_s") = med(tr.map(_.jitS))
          metrics("trace.overhead_pct") = 100.0 * (rate(plain) / rate(tr) - 1)
          // the spans must account for the drain wall, or the layer split misleads
          metrics.get("pipeline.span_coverage").filter(_ < 0.9).foreach(c =>
            problems += f"per-batch spans cover only ${c * 100}%.1f%% of the drain wall")
          val one = Cdc.drainRound(seed, work, 99, 1, traced = false, broker, fault)
          problems ++= one.problems; attempted += one.attempts; failed += one.failures
          metrics("baseline.drain_eps_1core") = rate(Seq(one))
          metrics("baseline.drain_eps_1core_ratio") = rate(Seq(one)) / rate(plain)
        }
      case "llm_corpus_batch" =>
        val input = Paths.get(opt("input")).toAbsolutePath.toString
        // the untimed pass that writes the outputs for the oracle check also
        // warms the JVM
        val (inputRows, outputProblems) = Llm.writeOutputs(input, s"$work/llm-out", work, cores)
        problems ++= outputProblems
        detail("llm_outputs") = Json.str(s"$work/llm-out")
        // one more unmeasured round: the queries' JIT warm-up outlasts one pass
        problems ++= Llm.round(input, work, cores, traced = false).failures
        val n = count(seconds, 1.6, 5)
        val all = (0 until (if (traced) math.max(n, 4) else n)).map(i =>
          Llm.round(input, work, cores, traced && i % 2 == 1))
        val plain = all.filter(_.layers.isEmpty)
        val tr = all.filter(_.layers.nonEmpty)
        all.foreach(r => problems ++= r.failures)
        attempted = all.size.toLong * Llm.Queries.size
        failed = all.map(_.failures.size.toLong).sum
        metrics ++= Seq(
          "throughput_per_s" -> inputRows / Llm.Queries.map(q => med(plain.flatMap(_.queryS.toMap.get(q)))).sum,
          "cpu_s" -> med(plain.map(_.cpuS)),
          "heap_peak_mb" -> med(plain.map(_.heapMb)),
          "setup_s" -> med(plain.map(_.setupS)))
        detail ++= Seq("rounds" -> plain.size.toString, "input_rows" -> inputRows.toString,
          "jit_cpu_s_rounds" -> plain.map(r => Json.num(r.jitS)).mkString("[", ",", "]"),
          "batch_s_rounds" -> plain.map(r => Json.num(r.wallS)).mkString("[", ",", "]"),
          "batch_s" -> Json.num(med(plain.map(_.wallS))))
        if (traced) {
          metrics ++= layers(tr.map(_.layers))
          metrics("jvm.gc_s") = med(tr.map(_.gcS))
          metrics("jvm.jit_cpu_s") = med(tr.map(_.jitS))
          metrics("trace.overhead_pct") = 100.0 * (med(tr.map(_.wallS)) / med(plain.map(_.wallS)) - 1)
        }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally broker.close()

    if (traced) Tracer.writeJsonl(Paths.get(s"$work/spans.jsonl"))
    detail("host_noise") = noise.json()
    detail("cores") = cores.toString
    val m = metrics.toSeq.map { case (k, v) => k -> Json.num(v) }
    val out = Json.obj(Seq(
      "correct" -> problems.isEmpty.toString,
      "attempted" -> math.max(attempted, 1L).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(m),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]"),
      "detail" -> Json.obj(detail.toSeq)))
    Files.write(Paths.get(opt("out")), out.getBytes("UTF-8"))
  }
}
