package graft.sources

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}

/** DSv2 backlog source: offsets, replay order, resume from checkpoint. */
class BacklogSourceSpec extends SparkSpec {

  private def writeSegment(dir: String, name: String, events: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), events.mkString("\n").concat("\n").getBytes)
  }

  private def eventJson(id: Int, op: String = "c"): String =
    s"""{"op":"$op","after":"{\\"id\\":$id}","ts_ms":$id,"event_id":"e$id"}"""

  test("offset json survives segment names with quotes and backslashes") {
    import BacklogSource.{BacklogOffset, parseOffset}
    for (name <- Seq("plain.segb64", """we"ird\name.jsonl""", "tab\there", "")) {
      val off = BacklogOffset(3, 42L, name)
      assert(parseOffset(off.json()) == off, s"round-trip failed for '$name'")
    }
    // pre-upgrade bare offsets still parse
    assert(parseOffset("""{"segment":1,"line":2}""") == BacklogOffset(1, 2L))
  }

  test("offset json: the strings in existing checkpoints parse, and json() writes them byte for byte") {
    import BacklogSource.{BacklogOffset, parseOffset}
    val bare = """{"segment":1,"line":2}"""
    val named = """{"segment":3,"line":42,"name":"we\"ird\\name.jsonl"}"""
    assert(parseOffset(bare) == BacklogOffset(1, 2L) && BacklogOffset(1, 2L).json() == bare)
    assert(parseOffset(named) == BacklogOffset(3, 42L, "we\"ird\\name.jsonl"))
    assert(BacklogOffset(3, 42L, "we\"ird\\name.jsonl").json() == named)
    // a control character in a name, as older offsets escaped it
    val tab = "{\"segment\":0,\"line\":7,\"name\":\"tab" + "\\" + "u0009here\"}"
    assert(parseOffset(tab) == BacklogOffset(0, 7L, "tab\there"))
    for (bad <- Seq("", "{}", """{"segment":"1","line":2}""", """{"segment":1}""", "{\"segment\":1,"))
      intercept[IllegalArgumentException](parseOffset(bad))
  }

  test("reads segments in order with (segment, pos) offsets") {
    val dir = Files.createTempDirectory("backlog").toString
    writeSegment(dir, "seg-000.jsonl", (1 to 5).map(eventJson(_)))
    writeSegment(dir, "seg-001.jsonl", (6 to 8).map(eventJson(_)))
    val out = Files.createTempDirectory("backlog-out").toString

    val q = spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", dir).load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/chk")
      .format("parquet").option("path", s"$out/data").start()
    q.awaitTermination(60000)

    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() == 8)
    val first = rows.orderBy("segment", "pos").head()
    assert(first.getAs[String]("segment") == "seg-000.jsonl" && first.getAs[Long]("pos") == 0L)
    assert(rows.filter(col("segment") === "seg-001.jsonl").count() == 3)
  }

  test("resume: restart picks up only newly appended segments") {
    val dir = Files.createTempDirectory("backlog2").toString
    writeSegment(dir, "seg-000.jsonl", (1 to 4).map(eventJson(_)))
    val out = Files.createTempDirectory("backlog2-out").toString

    def run(): Unit = {
      val q = spark.readStream.format(classOf[BacklogSource].getName)
        .option("path", dir).load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/chk")
        .format("parquet").option("path", s"$out/data").start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(s"$out/data").count() == 4)
    writeSegment(dir, "seg-001.jsonl", (5 to 9).map(eventJson(_)))
    run()
    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() == 9) // 4 + 5, no re-read of seg-000
    assert(rows.filter(col("segment") === "seg-000.jsonl").count() == 4)
  }

  test("maxLinesPerTrigger bounds micro-batches; full pipeline parses ChangeEvents") {
    val dir = Files.createTempDirectory("backlog3").toString
    writeSegment(dir, "seg-000.jsonl", (1 to 20).map(eventJson(_)))
    val out = Files.createTempDirectory("backlog3-out").toString

    val parsed = spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", dir).option("maxLinesPerTrigger", "7").load()
      .select(from_json(col("value"), ChangeEvent.schema).as("e"), col("segment"), col("pos"))
      .select(col("e.op"), col("e.after"), col("e.event_id"), col("pos"))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = parsed.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/chk")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(df.count()): Unit
      }.start()
    q.awaitTermination(60000)

    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(sizes.sum == 20, s"sizes=${sizes.toSeq}")
    assert(sizes.forall(_ <= 7), s"sizes=${sizes.toSeq}") // trigger bound respected
  }
}
