package graft.sources

import graft.SparkSpec
import graft.streaming._
import org.apache.spark.sql.functions._

import java.nio.file.Files

/**
 * Binlog wire bytes through the STREAMING path: base64 segments in a
 * backlog dir → a `mysql_binlog` spec ([[PipelineSpec.assemble]]): DSv2
 * [[BacklogSource]] micro-batches → real decode →
 * processor chain → sink, with the DDL records feeding the schema registry
 * (the reference's binlog-stream → coordinator → schema-reload wiring,
 * mysql_event.rs:41-121, 626-721).
 */
class BinlogStreamingSpec extends SparkSpec {

  private val Fx = MysqlBinlogFixture
  private def names = Fx.ordersCols.map(_.name).toIndexedSeq

  test("backlog-streamed segments decode, sink, and reload schema on DDL") {
    val root = Files.createTempDirectory("binlogstream").toString
    val backlog = s"$root/backlog"
    // two segments, three rows each, ops c/u/d by pk%10; each carries the
    // leading ALTER TABLE query event
    def rows(pks: Seq[Long]) = pks.iterator.map(pk =>
      (pk, pk + 100, "O", 10.50 + pk, 812332800000L, "2-HIGH"))
    Fx.writeBacklogSegment(backlog, "seg-000.segb64", Fx.ordersSegment(rows(Seq(1L, 6L, 9L))))
    Fx.writeBacklogSegment(backlog, "seg-001.segb64", Fx.ordersSegment(rows(Seq(11L, 16L, 19L))))

    val registry = new SchemaRegistry(spark, s"$root/registry")
    val metrics = new Metrics.Registry
    val mem = new MemorySink("mem")

    val ddlSeen = new java.util.concurrent.atomic.AtomicReference[String]()
    // DDL records trigger a targeted schema re-register (reload path)
    val registerDdl = (df: org.apache.spark.sql.DataFrame) => {
      df.filter(col("ddl").isNotNull).select("ddl", "source.table", "source.db")
        .collect().foreach { r =>
          ddlSeen.set(r.getString(0))
          registry.register(s"${r.getString(2)}.${r.getString(1)}",
            org.apache.spark.sql.types.StructType(Fx.ordersCols.map(c =>
              org.apache.spark.sql.types.StructField(c.name,
                org.apache.spark.sql.types.StringType))), 1700000000000L)
        }
      df
    }

    drainSpec(
      s"""metadata: {name: binlog-e2e}
         |spec:
         |  source: ${ordersBinlogSource(backlog)}
         |  processors: [{kind: filter, ops: [c, u, d]}]
         |  sinks: [{kind: memory, id: mem}]
         |""".stripMargin, root)(cfg =>
      cfg.copy(sinks = Seq(mem), metrics = Some(metrics), processors = registerDdl +: cfg.processors))

    assert(mem.totalRows == 6, s"expected 6 decoded DML rows, got ${mem.totalRows}")
    // DDL surfaced and registered the table (targeted reload)
    assert(ddlSeen.get != null && ddlSeen.get.startsWith("ALTER TABLE orders"))
    assert(registry.latest("inventory.orders").isDefined)
    // coordinator metrics flowed
    assert(metrics.counterValue("graft_sink_events_total",
      Seq("pipeline" -> "binlog-e2e", "sink" -> "mem")) >= 6.0)
  }

  test("decoded stream rows carry wire-accurate payloads") {
    import spark.implicits._
    val backlog = Files.createTempDirectory("binlogstream2").toString
    Fx.writeBacklogSegment(backlog, "seg-000.segb64",
      Fx.ordersSegment(Iterator((3L, 103L, "F", 42.00, 812332800000L, "1-URGENT"))))
    val lines = spark.read.text(backlog).withColumnRenamed("value", "value")
    val decoded = Fx.decodeBase64Segments(lines, names)
      .filter(col("op") === "c").as[MysqlBinlog.Record].collect()
    assert(decoded.length == 1)
    val r = decoded.head
    assert(r.after.contains("\"o_orderkey\":3"))
    assert(r.after.contains("\"o_totalprice\":\"42.00\""))
    assert(r.after.contains("\"o_orderpriority\":null")) // pk%7==3 null bitmap
    assert(r.gtid != null && r.gtid.endsWith(":4")) // gno = pk+1
  }
}
