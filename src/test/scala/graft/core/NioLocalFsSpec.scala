package graft.core

import graft.SparkSpec
import graft.streaming._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
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
 * writer writes through it, by way of `GraftBridge.writeFiles`.
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
    // the same parquet files: footer schema, key-value metadata (Spark's row
    // metadata included), and each column chunk's codec and encodings
    val (nioFooters, stockFooters) = (footers(nioDir), footers(stockDir))
    assert(nioFooters.size == 3 && nioFooters == stockFooters)
    assert(nioFooters.values.forall(_._2.contains("org.apache.spark.sql.parquet.row.metadata")))
  }

  /** partition directory -> (footer schema, key-value metadata, column chunks) of each data file */
  private def footers(root: JPath): Map[String, (String, Map[String, String], Seq[String])] = {
    val conf = new Configuration()
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f.toUri), conf))
      try {
        val footer = reader.getFooter
        val meta = footer.getFileMetaData
        val chunks = footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map { c =>
          s"${c.getPath} ${c.getCodec} ${c.getEncodings.asScala.toSeq.map(_.toString).sorted}"
        })
        root.relativize(f.getParent).toString ->
          (meta.getSchema.toString, meta.getKeyValueMetaData.asScala.toMap, chunks)
      } finally reader.close()
    }.toMap finally s.close()
  }

  test("a local write ships no Hadoop defaults; any other scheme ships the full configuration") {
    import org.apache.spark.sql.classic.{GraftBridge, SparkSession => ClassicSession}
    spark.conf.set("spark.hadoop.graft.probe", "kept")
    try {
      val full = spark.asInstanceOf[ClassicSession].sessionState
        .newHadoopConfWithOptions(NioLocalFs.options)
      def fromDefaults(k: String) =
        Option(full.getPropertySources(k)).exists(_.forall(_.endsWith("-default.xml")))
      val entries = full.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      val (defaults, rest) = entries.partition { case (k, _) => fromDefaults(k) }
      assert(defaults.size > 1000, s"only ${defaults.size} entries from *-default.xml files")

      val local = GraftBridge.writeConfiguration(full, new Path("file:/tmp/lake"))
      val kept = local.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      assert(kept == rest)
      assert(kept.keySet.intersect(defaults.keySet).isEmpty)
      assert(local.get("spark.hadoop.graft.probe") == "kept")
      assert(local.get("spark.sql.session.timeZone") == "UTC")
      assert(local.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)

      assert(GraftBridge.writeConfiguration(full, new Path("hdfs://namenode:8020/lake")) eq full)
      assert(GraftBridge.writeConfiguration(full, new Path("s3a://bucket/lake")) eq full)
    } finally spark.conf.unset("spark.hadoop.graft.probe")
  }

  /** bytes written through the stock and through the NIO raw `file:` file system */
  private def bytesWritten(): (Long, Long) = (
    FileSystem.getStatistics("file", classOf[RawLocalFileSystem]).getBytesWritten,
    FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem]).getBytesWritten)

  /** Runs `body` and asserts it made `writes` file writes through
   * `GraftBridge.writeFiles`, each writing its bytes through the NIO file
   * system and none through the stock one. */
  private def assertNio(writes: Int)(body: => Unit): Unit = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(f -> qe)
    }
    spark.listenerManager.register(l)
    val sentinel = s"graft_sentinel_${System.nanoTime()}"
    val (stock0, nio0) = bytesWritten()
    try {
      body
      val (stock1, nio1) = bytesWritten()
      assert(stock1 == stock0, s"${stock1 - stock0} bytes written through the stock file system")
      assert(nio1 > nio0, "no byte written through the NIO file system")
      spark.range(1).as(sentinel).collect() // listener events arrive in order
      val deadline = System.nanoTime() + 60e9.toLong
      def sentinelSeen = seen.asScala.exists(_._2.logical.toString.contains(sentinel))
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "the listener never saw the sentinel query")
    } finally spark.listenerManager.unregister(l)
    val helperWrites = seen.asScala.count(_._1.startsWith("write "))
    assert(helperWrites == writes, s"expected $writes file write(s), saw $helperWrites")
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
    // the IVF index: its centroids and its partitioned cells
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val centroids = Seq((0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f))).toDF("centroid_id", "vec")
    assertNio(2)(graft.llm.Similarity.writeIvfIndex(vecs, centroids, s"$dir/ivf"))
    assert(spark.read.parquet(s"$dir/ivf/cells").count() == 2)
  }
}
