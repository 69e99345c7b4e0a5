package graft.sources

import graft.SparkSpec
import graft.sources.{MysqlBinlogFixture => Fx}

import java.nio.file.{Files, Paths}

/**
 * The full live-tail story: [[BinlogSpooler]] drives the socket client
 * against the wire-protocol stub and spools tx-whole segments that the
 * DSv2 [[BacklogSource]] then streams — BacklogSource tailing a socket,
 * with every piece of the existing offset/resume machinery unchanged.
 */
class BinlogSpoolerSpec extends SparkSpec {
  import MysqlTestStub._

  test("spooler cuts tx-whole segments; BacklogSource streams them to decoded rows") {
    val pks = Seq(1L, 2L, 3L, 4L, 5L)
    val stub = new Stub("secret", binlogFile(pks, xidPerRow = true))
    val dir = Files.createTempDirectory("spool").toString
    try {
      val spooler = new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        dir, "binlog.000001", maxEventsPerSegment = 8) // 4 events/tx → cut every 2 txs
      assert(spooler.pump() == 1) // clean single connection
      val segs = BacklogSource.segments(dir).map(_.getFileName.toString)
      assert(segs.size >= 2, s"expected tx-boundary cuts, got $segs") // not one blob
      assert(spooler.checkpoint() > 4L)

      // stream the spool through a `mysql_binlog` spec: DSv2 source → decode → rows
      val out = Files.createTempDirectory("spool-out").toString
      drainSpec(
        s"""metadata: {name: spool}
           |spec:
           |  source: ${ordersBinlogSource(dir)}
           |  processors: [{kind: filter, ops: [c, u, d]}]
           |  sinks: [{kind: parquet, id: lake, path: $out/data}]
           |""".stripMargin, out)(identity)
      val rows = spark.read.parquet(s"$out/data")
      assert(rows.count() == pks.length)
      assert(rows.select("after").collect().map(_.getString(0))
        .flatMap(""""o_orderkey":(\d+)""".r.findFirstMatchIn(_).map(_.group(1).toLong))
        .sorted.toSeq == pks)
    } finally stub.stop()
  }

  test("dropped connection: uncommitted tail discarded, reconnect resumes — exactly once") {
    val pks = Seq(1L, 2L, 3L, 4L)
    // drop connection #1 after 6 non-FDE events = mid tx2 (4 events/tx)
    val stub = new Stub("secret", binlogFile(pks, xidPerRow = true), dropAfterOnFirst = 6)
    val dir = Files.createTempDirectory("spool-drop").toString
    try {
      val spooler = new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        dir, "binlog.000001", maxEventsPerSegment = 1) // cut at every tx
      val attempts = spooler.pump()
      assert(attempts == 2) // one drop, one clean resume
      assert(stub.dumps.size() == 2)

      // nothing lost, nothing duplicated across the reconnect
      val names = Fx.ordersCols.map(_.name).toIndexedSeq
      val all = BacklogSource.segments(dir).flatMap { p =>
        val seg = java.util.Base64.getDecoder.decode(Files.readAllLines(p).get(0))
        MysqlBinlog.decodeSegment(seg, (_, _) => names)
      }.filter(_.op != null)
      assert(all.map(r =>
        """"o_orderkey":(\d+)""".r.findFirstMatchIn(r.after).get.group(1).toLong) == pks)

      // the second dump resumed from the last committed tx, not from scratch
      val resumed = stub.dumps.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[MysqlWire.DumpRequest]).apply(1)
      assert(resumed.pos > 4L)
    } finally stub.stop()
  }

  test("drop with a large segment budget: only the committed prefix spools") {
    // budget larger than the stream: nothing flushes until the drop, so the
    // flush-on-drop must truncate to the last XID — spooling the open tail
    // would duplicate it after the resume
    val pks = Seq(1L, 2L, 3L)
    val stub = new Stub("secret", binlogFile(pks, xidPerRow = true), dropAfterOnFirst = 6)
    val dir = Files.createTempDirectory("spool-budget").toString
    try {
      val spooler = new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        dir, "binlog.000001", maxEventsPerSegment = 100)
      spooler.pump()
      val names = Fx.ordersCols.map(_.name).toIndexedSeq
      val all = BacklogSource.segments(dir).flatMap { p =>
        val seg = java.util.Base64.getDecoder.decode(Files.readAllLines(p).get(0))
        MysqlBinlog.decodeSegment(seg, (_, _) => names)
      }.filter(_.op != null)
      assert(all.map(r =>
        """"o_orderkey":(\d+)""".r.findFirstMatchIn(r.after).get.group(1).toLong) == pks)
    } finally stub.stop()
  }

  test("restart: a new spooler picks up from the persisted checkpoint") {
    val pks = Seq(1L, 2L, 3L)
    val events = binlogFile(pks, xidPerRow = true)
    val stub = new Stub("secret", events)
    val dir = Files.createTempDirectory("spool-restart").toString
    try {
      new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        dir, "binlog.000001", maxEventsPerSegment = 1).pump()
      val mark = Paths.get(dir, "_spool_checkpoint")
      assert(Files.exists(mark))
      val segCount = BacklogSource.segments(dir).size

      // a fresh spooler instance (process restart) resumes at the mark:
      // the stub has nothing new past it, so nothing is re-spooled
      new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        dir, "binlog.000001", maxEventsPerSegment = 1).pump()
      assert(BacklogSource.segments(dir).size == segCount)
      val last = stub.dumps.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[MysqlWire.DumpRequest]).last
      assert(last.pos == logPos(events.last)) // asked exactly for the tail
    } finally stub.stop()
  }
}
