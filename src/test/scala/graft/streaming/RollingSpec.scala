package graft.streaming

import graft.SparkSpec
import graft.streaming.Rolling._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Rolling-policy tests mirroring the reference's inline cases
 * (crates/sinks/src/s3/rolling.rs:71-140) plus file-count behavior of the
 * byte/event caps through [[ParquetLakeSink]].
 */
class RollingSpec extends SparkSpec {

  private val cfg = Config(maxBytes = 1000, maxEvents = 100,
    maxAgeMs = 60000, idleAgeMs = 30000)

  test("empty writers never roll, whatever the clocks say") {
    assert(shouldRoll(cfg, bytes = 999, events = 0,
      openedAtMs = 0, lastEventAtMs = 0, nowMs = 1000000).isEmpty)
  }

  test("each threshold trips with bytes>events>age>idle precedence") {
    assert(shouldRoll(cfg, 1000, 1, 0, 0, 0).contains(Bytes))
    assert(shouldRoll(cfg, 0, 100, 0, 0, 0).contains(Events))
    assert(shouldRoll(cfg, 0, 1, 0, 60000, 60000).contains(Age))
    assert(shouldRoll(cfg, 0, 1, 35000, 5000, 40000).contains(Idle))
    assert(shouldRoll(cfg, 1000, 100, 0, 60000, 60000).contains(Bytes)) // precedence
    assert(shouldRoll(cfg, 1, 1, 0, 0, 1).isEmpty) // under every cap
  }

  test("records-per-file is the tighter of the byte and event caps") {
    assert(recordsPerFile(Config(maxBytes = 1000, maxEvents = 100), avgRowBytes = 5.0) == 100) // events bind
    assert(recordsPerFile(Config(maxBytes = 1000, maxEvents = 100), avgRowBytes = 50.0) == 20) // bytes bind
    assert(recordsPerFile(Config(maxBytes = 10, maxEvents = 100), avgRowBytes = 1e9) == 1) // floor at 1
  }

  private def lakeWith(rolling: Config, rows: Int): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("roll").toString
    val batch = graft.core.ChangeEvent.conform(
      (1 to rows).toDF("i").select(
        lit("""{"id":1}""").as("after"),
        struct(lit("inventory").as("db"), lit("orders").as("table")).as("source"),
        lit("c").as("op"),
        lit(1700000000000L).as("ts_ms")))
      .coalesce(1) // single task → file count driven purely by the policy
    new ParquetLakeSink("lake", dir, rolling).write(batch, 0L)
    Files.walk(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).count()
  }

  test("event cap controls emitted file count") {
    assert(lakeWith(Config(maxEvents = 50), rows = 200) == 4)
    assert(lakeWith(Config(maxEvents = 1000000), rows = 200) == 1)
  }

  /** `rows` change events over `parts` input partitions, no shuffle. */
  private def ordersOver(parts: Int, rows: Int) = {
    import org.apache.spark.sql.functions._
    graft.core.ChangeEvent.conform(spark.range(0, rows, 1, parts).select(
      lit("""{"id":1}""").as("after"),
      struct(lit("inventory").as("db"), lit("orders").as("table")).as("source"),
      lit("c").as("op"),
      lit(1700000000000L).as("ts_ms")))
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    finally s.close()
  }

  test("a frozen batch is written by one job, one file per partition directory") {
    val dir = Files.createTempDirectory("roll").toString
    val frozen = org.apache.spark.sql.classic.GraftBridge.freeze(ordersOver(parts = 4, rows = 200))
    try {
      assert(frozen.rows == 200 && frozen.df.rdd.getNumPartitions == 4)
      val jobs = jobsLaunchedBy(new ParquetLakeSink("lake", dir).write(frozen.df, 0L))
      assert(jobs == 1, s"the lake write launched $jobs jobs")
      assert(parquetFiles(dir).size == 1)
    } finally frozen.release()
  }

  test("an unfrozen batch still honors the event cap in every file") {
    val dir = Files.createTempDirectory("roll").toString
    new ParquetLakeSink("lake", dir, Config(maxEvents = 50)).write(ordersOver(parts = 4, rows = 200), 0L)
    val counts = parquetFiles(dir).map(f => spark.read.parquet(f).count())
    assert(counts.sum == 200 && counts.forall(_ <= 50), s"rows per file: $counts")
  }

  test("byte cap splits wide batches into more, smaller files") {
    val tight = lakeWith(Config(maxBytes = 4096, maxEvents = 1000000), rows = 500)
    assert(tight > 1, s"expected byte cap to split the file, got $tight")
  }
}
