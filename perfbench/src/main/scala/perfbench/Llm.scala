package perfbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** What one round of the LLM-data batch produced. */
final case class LlmRound(wallS: Double, setupS: Double, cpuS: Double, heapMb: Double,
                          gcS: Double, jitS: Double, queryS: Seq[(String, Double)], layers: Map[String, Double],
                          failures: Seq[String])

/** The LLM-data batch: five `SparkEntry.queries` entries over the corpus,
 * each written to `noop`. */
object Llm {
  val Queries = Seq("dedup_minhash", "dedup_semantic", "ann_pairs_lsh", "ann_ivf_pq", "text_quality")

  def round(input: String, work: String, cores: Int, traced: Boolean): LlmRound = {
    Tracer.newRound(traced)
    val wall0 = System.nanoTime()
    val spark = Pipeline.session(cores, work)
    try {
      val stages = new StageLedger
      if (traced) spark.sparkContext.addSparkListener(stages)
      val entries = SparkEntry.queries
      val setup = (System.nanoTime() - wall0) / 1e9
      System.gc() // every round starts from a collected heap (not part of set-up)
      val cpu0 = Host.processCpuS(); val jit0 = Host.jitCpuS(); val gc0 = Host.gcS()
      Host.resetHeapPeak()
      val t0 = System.nanoTime()
      val failures = Seq.newBuilder[String]
      val results = Queries.map { q =>
        val tq = System.nanoTime()
        if (traced) spark.sparkContext.addJobTag(s"perfbench-llm.$q")
        try entries(q)(spark, input).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => failures += s"$q failed: ${String.valueOf(e.getMessage).take(300)}" }
        finally if (traced) spark.sparkContext.removeJobTag(s"perfbench-llm.$q")
        val t1 = System.nanoTime()
        Tracer.record(s"llm.$q", "llm.batch", -1L, tq, t1)
        q -> (t1 - tq) / 1e9
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Tracer.enabled = false
      val jit = Host.jitCpuS() - jit0
      val cpu = Host.processCpuS() - cpu0 - jit
      val gc = Host.gcS() - gc0
      val layers =
        if (!traced) Map.empty[String, Double]
        else results.flatMap { case (q, w) =>
          Seq(s"llm.$q.wall_s" -> w, s"llm.$q.task_cpu_s" -> stages.acc(s"perfbench-llm.$q").cpuNs.get / 1e9)
        }.toMap ++ Map(
          "llm.shuffle_bytes" -> stages.all.shuffleWriteBytes.get.toDouble,
          "llm.spill_bytes" -> stages.all.spillBytes.get.toDouble,
          "trace.spans" -> Tracer.spans.size.toDouble)
      LlmRound(wall, setup, cpu, Host.heapPeakMb(), gc, jit, results, layers, failures.result())
    } finally spark.stop()
  }

  /** Untimed: each query's rows, written as parquet for the oracle
   * comparison, and the repository's DuckDB oracle SQL for each. Returns
   * the corpus's row count and the failures. */
  def writeOutputs(input: String, out: String, work: String, cores: Int): (Long, Seq[String]) = {
    val spark = Pipeline.session(cores, work)
    try {
      Files.createDirectories(Paths.get(out))
      val entries = SparkEntry.queries
      val failures = Queries.flatMap { q =>
        try { entries(q)(spark, input).coalesce(1).write.mode("overwrite").parquet(s"$out/$q"); Nil }
        catch { case e: Throwable => Seq(s"$q output failed: ${String.valueOf(e.getMessage).take(300)}") }
      }
      val sql = Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
      Files.write(Paths.get(s"$out/oracle_sql.json"), Json.obj(sql).getBytes("UTF-8"))
      val rows = Seq("documents", "embeddings").map(t => spark.read.parquet(s"$input/$t.parquet").count()).sum
      (rows, failures)
    } finally spark.stop()
  }
}
