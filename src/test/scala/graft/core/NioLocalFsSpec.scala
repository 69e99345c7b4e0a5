package graft.core

import graft.SparkSpec
import graft.streaming._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/**
 * The NIO `file:` file system is a drop-in for the stock one (same
 * permission bits, same on-disk layout and rows), and every library file
 * writer resolves its output file system to it.
 */
class NioLocalFsSpec extends SparkSpec {

  private def tmp(): JPath = Files.createTempDirectory("graft-niofs")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the stock file system's POSIX permissions; sticky bit falls back") {
    val (stock, nio) = (raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem))
    val dir = tmp()
    for (m <- Seq("755", "644", "700", "600", "777"); isDir <- Seq(false, true)) {
      val (a, b) = (dir.resolve(s"stock-$m-$isDir"), dir.resolve(s"nio-$m-$isDir"))
      if (isDir) { Files.createDirectory(a); Files.createDirectory(b) }
      else { Files.createFile(a); Files.createFile(b) }
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), s"mode $m")
      assert(mode(b) == Integer.parseInt(m, 8), s"mode $m")
    }
    // java.nio cannot express the sticky bit: it must take the stock path
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    nio.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(sticky) == Integer.parseInt("1777", 8))
    // a missing file fails like the stock path, with an IOException
    intercept[java.io.IOException] {
      nio.setPermission(new Path(dir.resolve("missing").toUri), new FsPermission(420.toShort))
    }
  }

  /** every file and directory under `root`, part-file UUIDs normalised, with its mode */
  private def layout(root: JPath): Map[String, Int] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val s = Files.walk(root)
    try s.iterator().asScala.map { p =>
      uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") -> mode(p)
    }.toMap finally s.close()
  }

  private def lakeEvents(): DataFrame = {
    import spark.implicits._
    graft.core.ChangeEvent.conform(
      Seq(("a", 1700000000000L), ("a", 1700090000000L), ("b", 1700000000000L))
        .toDF("t", "ts_ms")
        .withColumn("op", lit("c"))
        .withColumn("after", concat(lit("""{"id":"""), col("ts_ms"), lit("}")))
        .withColumn("event_id", concat(col("t"), col("ts_ms")))
        .withColumn("source", struct(lit("db").as("db"), col("t").as("table")))
        .drop("t"))
  }

  test("a partitioned lake write lays out the stock files, modes and rows") {
    val (nioDir, stockDir) = (tmp(), tmp())
    val batch = lakeEvents()
    new ParquetLakeSink("lake", s"$nioDir/lake").write(batch, 3L)
    // the same write through Hadoop's stock file: file system
    val ts = timestamp_millis(col("ts_ms"))
    batch.coalesce(1)
      .withColumns(Map("table" -> col("source.table"), "year" -> year(ts),
        "month" -> month(ts), "day" -> dayofmonth(ts), "_batch_id" -> lit(3L)))
      .write.partitionBy("table", "year", "month", "day").mode("append")
      .parquet(s"$stockDir/lake")

    val (nio, stock) = (layout(nioDir), layout(stockDir))
    assert(nio == stock)
    // three partition directories, each with one data file and its checksum
    assert(nio.keys.count(_.endsWith(".parquet")) == 3 &&
      nio.keys.count(_.endsWith(".parquet.crc")) == 3 &&
      nio.contains("lake/_SUCCESS") && nio.contains("lake/._SUCCESS.crc"),
      nio.keys.toSeq.sorted.mkString("\n"))
    def rows(d: JPath) = spark.read.parquet(s"$d/lake")
      .select("event_id", "table", "year", "month", "day", "_batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(nioDir) == rows(stockDir) && rows(nioDir).size == 3)
  }

  /** the output file systems the write commands launched by `body` resolved */
  private def outputFileSystems(body: => Unit): Seq[FileSystem] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(l)
    val sentinel = s"graft_sentinel_${System.nanoTime()}"
    try {
      body
      spark.range(1).as(sentinel).collect() // listener events arrive in order
      val deadline = System.nanoTime() + 60e9.toLong
      def sentinelSeen = seen.asScala.exists(_.logical.toString.contains(sentinel))
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "the listener never saw the sentinel query")
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq.flatMap { qe =>
      qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.getFileSystem(qe.sparkSession.sessionState.newHadoopConfWithOptions(c.options))
      }
    }
  }

  private def assertNio(writes: Int)(body: => Unit): Unit = {
    val fss = outputFileSystems(body)
    assert(fss.size == writes, s"expected $writes write command(s), saw ${fss.size}")
    fss.foreach(fs => assert(fs.isInstanceOf[NioLocalFileSystem], s"wrote through ${fs.getClass}"))
  }

  test("every library file writer resolves its output file system to the NIO class") {
    val dir = tmp()
    val batch = lakeEvents()
    // ParquetLakeSink
    assertNio(1)(new ParquetLakeSink("lake", s"$dir/lake").write(batch, 0L))
    // JsonlSink
    assertNio(1)(new JsonlSink("jsonl", s"$dir/jsonl",
      _ => to_json(struct(col("event_id")))).write(batch, 0L))
    // Dlq.splitAndJournal
    assertNio(1)(Dlq.splitAndJournal(Dlq.Config("p", "s", s"$dir/dlq"), batch,
      col("source.table") === "a", "test", lit("not a")))
    // SchemaRegistry.register
    val reg = new SchemaRegistry(spark, s"$dir/registry")
    val v0 = StructType(Seq(StructField("id", LongType)))
    assertNio(2) {
      reg.register("a", v0, atMs = 1000L)
      reg.register("a", StructType(v0.fields :+ StructField("note", StringType)), atMs = 2000L)
    }
    // TypedLakeSink: one era, then two eras (the staging write plus one write per era)
    import spark.implicits._
    val evs = graft.core.ChangeEvent.conform(
      Seq((0L, """{"id":1}""", "e1"), (1L, """{"id":2,"note":"n"}""", "e2"))
        .toDF("schema_sequence", "after", "event_id")
        .withColumn("op", lit("c"))
        .withColumn("ts_ms", lit(1500L))
        .withColumn("source", struct(lit("db").as("db"), lit("a").as("table"))))
    val typed = new TypedLakeSink("typed", s"$dir/typed", reg)
    assertNio(1)(typed.write(evs.filter(col("schema_sequence") === 0L), 0L))
    assertNio(3)(typed.write(evs, 1L))
    assert(spark.read.parquet(s"$dir/typed/table=a/schema_version=0").count() == 2)
  }
}
