package graft

import graft.streaming._

import java.nio.file.{Files, Paths}

/**
 * The M1 slice end-to-end from a YAML spec: backlog segments → DSv2 source →
 * envelope parse → filter processor → multi-sink fan-out (parquet lake +
 * memory) with per-sink ledger — the full reference pipeline shape in one
 * streaming query, assembled by [[PipelineSpec.assemble]].
 */
class EndToEndSpec extends SparkSpec {

  test("backlog → parse → filter → lake + memory sinks → ledger commit") {
    val dir = Files.createTempDirectory("e2e").toString
    val events = (1 to 40).map { i =>
      val op = if (i % 10 == 0) "d" else if (i % 3 == 0) "u" else "c"
      s"""{"op":"$op","after":${if (op == "d") "null" else s"\"{\\\"id\\\":$i}\""},""" +
        s""""ts_ms":${1700000000000L + i},"event_id":"e$i",""" +
        s""""source":{"db":"inventory","table":"orders","sequence":$i},"tx_end":true}"""
    }
    Files.createDirectories(Paths.get(s"$dir/backlog"))
    Files.write(Paths.get(s"$dir/backlog/seg-000.jsonl"),
      events.mkString("\n").getBytes)

    val mem = new MemorySink("mem")
    drainSpec(
      s"""metadata: {name: e2e}
         |spec:
         |  source: {kind: backlog, path: $dir/backlog}
         |  processors: [{kind: filter, ops: [c, u]}]
         |  sinks: [{kind: parquet, id: lake, path: $dir/lake}]
         |""".stripMargin, dir)(cfg => cfg.copy(sinks = cfg.sinks :+ mem))

    val expected = (1 to 40).count(i => i % 10 != 0) // deletes filtered
    assert(mem.totalRows == expected)
    val lakeRows = spark.read.parquet(s"$dir/lake")
    assert(lakeRows.count() == expected)
    assert(lakeRows.select("table").distinct().head().getString(0) == "orders")
    assert(lakeRows.columns.contains("year")) // hive layout present
    val ledger = new SinkLedger(s"$dir/ledger")
    assert(ledger.minCommitted(Seq("lake", "mem")) >= 0L)
  }
}
