package graft
import graft.core.Json.mapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.GraftBridge
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>"); sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Every output file is one JSON object written by Jackson: a quote, tab
    // or CR in a query's SQL or error text must not make the compare's
    // json.load fail and silently zero the run's correctness.
    def writeJson(file: String, doc: AnyRef): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), mapper.writeValueAsString(doc))

    // Failures must be LOUD (r8 verdict #2): a throwing query previously
    // wrote nothing, the driver's CORRECTNESS json simply omitted the row,
    // and an 8-query regression shipped inside a 100%-green artifact. Every
    // failure now lands in THREE places the artifact diff can't miss:
    // a per-query _failed/<name>.txt marker, an aggregated _errors.json,
    // and a _summary.json carrying attempted/succeeded/failed COUNTS.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query hang watchdog: one pathological query must not stall the
    // whole correctness run (the artifact would then carry NOTHING — worse
    // than one err row). Each query runs in its own job group; a daemon
    // timer cancels the group past the deadline and the cancellation
    // surfaces as that query's err entry like any other failure.
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_MS", "600000").toLong
    val watchdog = new java.util.Timer("verify-watchdog", true)
    // local-iteration filter (driver never sets it): comma-separated names
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      val sc = spark.sparkContext
      sc.setJobGroup(s"verify-$name", name, interruptOnCancel = true)
      val cancel = new java.util.TimerTask {
        def run(): Unit = {
          System.err.println(s"[verify] $name exceeded ${timeoutMs}ms — cancelling job group")
          sc.cancelJobGroup(s"verify-$name")
        }
      }
      // repeating: cancelJobGroup only hits CURRENTLY ACTIVE jobs, so a
      // one-shot timer would miss a job submitted after the deadline fired
      watchdog.scheduleAtFixedRate(cancel, timeoutMs, 5000L)
      try GraftBridge.writeFiles(fn(spark, sfDir).coalesce(1), "parquet", s"$outDir/$name",
        overwrite = true)
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        val fd = Paths.get(s"$outDir/_failed")
        Files.createDirectories(fd)
        Files.writeString(fd.resolve(s"$name.txt"), msg + "\n")
      } finally {
        cancel.cancel()
        sc.clearJobGroup()
      }
    }
    writeJson("_errors.json", errors.asJava)
    val summary = mapper.createObjectNode().put("attempted", selected.size)
      .put("succeeded", selected.size - errors.size).put("failed", errors.size)
    val failedNames = summary.putArray("failed_names")
    errors.keys.foreach(k => failedNames.add(k))
    writeJson("_summary.json", summary)

    // Schema manifest (r8 verdict #7): the driver regenerates testdata
    // between rounds and has changed column physical types before (events.ts
    // nanos→micros broke 8 queries). Log every table's ACTUAL read schema
    // into the verify output so schema drift shows up as an artifact diff,
    // not a mid-round analysis failure.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val manifest = mapper.createObjectNode()
    tables.foreach { tb =>
      manifest.put(tb,
        try spark.read.parquet(s"$sfDir/$tb.parquet").schema
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
        catch { case e: Throwable => s"UNREADABLE: ${e.getMessage}" })
    }
    writeJson("_schemas.json", manifest)

    // Oracle-coupling guard (r12 ADVICE): the dedup_semantic/ann_pairs_lsh
    // oracle SQL hardcodes bitsPerBand=6 while the Spark side computes
    // Similarity.adaptiveBits(count(embeddings)) at runtime. If a testdata
    // regeneration ever grows the verify-scale embeddings table past the
    // 6-bit occupancy ceiling, parity would break SILENTLY (both sides
    // "pass" their own plans, the hash just mismatches). Fail loudly here
    // instead, naming the fix.
    try {
      val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      val bits = graft.llm.Similarity.adaptiveBits(n)
      if (bits != 6)
        throw new IllegalStateException(
          s"adaptiveBits($n) = $bits but the dedup_semantic/ann_pairs_lsh oracle SQL " +
            "hardcodes bitsPerBand=6 (SparkEntry.bandSigSql) — regenerate the oracle " +
            "width to match the verify-scale corpus or the hash compare breaks silently")
    } catch {
      case e: IllegalStateException => throw e
      case e: Throwable =>
        System.err.println(s"[verify] adaptiveBits coupling check skipped: ${e.getMessage}")
    }

    writeJson("oracle_sql.json", SparkEntry.oracleSql.asJava)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size}/${SparkEntry.queries.size} queries FAILED: ${errors.keys.mkString(", ")}")
    }
  }
}
