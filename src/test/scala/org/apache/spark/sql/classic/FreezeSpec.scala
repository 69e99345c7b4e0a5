package org.apache.spark.sql.classic

import graft.SparkSpec
import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

/** `GraftBridge.freeze`'s storage: one known-size block per partition, accounted and released. */
class FreezeSpec extends SparkSpec {

  test("a frozen batch stores one accounted block per partition and drops it on release") {
    val input = spark.range(0, 2000, 1, 4).select(col("id"),
      concat(lit("payload-"), col("id").cast("string"), lit("-"), repeat(lit("x"), 200)).as("s"))
    val schema = input.schema
    val rowBytes = GraftBridge.planned(input).toRdd.mapPartitions { it =>
      val p = UnsafeProjection.create(schema)
      Iterator.single(it.map(r => p(r).getSizeInBytes.toLong).sum)
    }.sum().toLong
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val frozen = GraftBridge.freeze(input)
    val stored = sc.getPersistentRDDs.keySet -- before
    assert(stored.size == 1, s"freeze persisted $stored")
    val id = stored.head
    val stats = frozen.df.queryExecution.optimizedPlan.stats
    assert(frozen.rows == 2000 && stats.rowCount.contains(BigInt(2000)) && frozen.df.count() == 2000)
    assert(stats.sizeInBytes == BigInt(rowBytes))

    val bm = SparkEnv.get.blockManager
    val blocks = (0 until 4).map(p => RDDBlockId(id, p))
    val memSize = blocks.map(b => bm.getStatus(b).map(_.memSize).getOrElse(0L)).sum
    assert(memSize >= rowBytes, s"the memory store holds $memSize bytes for $rowBytes bytes of rows")
    blocks.foreach { b =>
      val values = bm.getLocalValues(b).map(_.data.toList).getOrElse(Nil)
      assert(values.size == 1 && values.head.isInstanceOf[GraftBridge.FrozenRows], s"$b holds $values")
    }
    assert(frozen.df.select(sum(col("id"))).head().getLong(0) == (0L until 2000L).sum)

    frozen.release()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def left = bm.master.getMatchingBlockIds(_.asRDDId.exists(_.rddId == id), askStorageEndpoints = true)
    while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(left.isEmpty, s"release left blocks $left")
    assert(!sc.getPersistentRDDs.contains(id))
  }
}
