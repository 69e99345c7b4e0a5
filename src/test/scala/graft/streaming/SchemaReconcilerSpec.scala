package graft.streaming

import graft.SparkSpec
import graft.streaming.SchemaReconciler._
import org.apache.spark.sql.types._

import java.nio.file.Files

/**
 * Failover schema reconciliation tests mirroring the reference's
 * reconcile_table diff cases and the Adapt/Halt policy wiring
 * (crates/sources/src/failover/reconciler.rs:160-420,
 * deltaforge-config/src/lib.rs:145-160).
 */
class SchemaReconcilerSpec extends SparkSpec {

  private def col(name: String, dt: String, pk: Boolean = false) =
    ColumnSnapshot(name, dt, isNullable = !pk, isPrimaryKey = pk)

  // — pure diff —

  test("identical schemas produce no deltas") {
    val cols = Seq(col("id", "bigint", pk = true), col("v", "string"))
    assert(reconcileTable(Some(cols), Some(cols)) == Reconcilable(Nil))
  }

  test("added, dropped and type-changed columns are reported") {
    val stored = Seq(col("id", "bigint", pk = true), col("a", "string"), col("b", "int"))
    val live = Seq(col("id", "bigint", pk = true), col("a", "double"), col("c", "string"))
    val Reconcilable(deltas) = reconcileTable(Some(stored), Some(live)): @unchecked
    assert(deltas.contains(ColumnTypeChanged("a", "string", "double")))
    assert(deltas.contains(ColumnDropped("b")))
    assert(deltas.exists { case ColumnAdded(c) => c.name == "c"; case _ => false })
  }

  test("primary-key change is a hard stop; dropped table a delta; no stored schema a noop") {
    val stored = Seq(col("id", "bigint", pk = true), col("v", "string"))
    val live = Seq(col("id", "bigint"), col("v", "string", pk = true))
    assert(reconcileTable(Some(stored), Some(live)).isInstanceOf[RequiresStop])
    assert(reconcileTable(Some(stored), None) == Reconcilable(Seq(TableDropped)))
    assert(reconcileTable(None, Some(live)) == Reconcilable(Nil))
  }

  // — registry-wired reconciler: (a,b,c) vs (a,b,d) —

  private def freshSetup() = {
    val dir = Files.createTempDirectory("reconcile").toString
    val registry = new SchemaRegistry(spark, s"$dir/registry")
    registry.register("shop.orders", StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType),
      StructField("c", StringType))), 1000L)
    (dir, registry)
  }

  private val prev = ServerIdentity(1, "uuid-primary", "db-a")
  private val next = ServerIdentity(2, "uuid-replica", "db-b")
  private val liveCols = Seq(col("a", "bigint"), col("b", "string"), col("d", "string"))

  test("Adapt patches the ledger with the live schema and records the deltas") {
    val (dir, registry) = freshSetup()
    val rec = new Reconciler(spark, registry, s"$dir/state")
    val record = rec.run("src1", prev, next,
      Seq(ReconcileInput("shop", "orders", Some(liveCols))), Adapt)
    assert(record.results.head.deltas.toSet ==
      Set(ColumnDropped("c"), ColumnAdded(col("d", "string"))))
    // ledger patched: a new version whose fields are the live reality
    val patched = registry.latestSchema("shop.orders").get
    assert(patched.fieldNames.toSeq == Seq("a", "b", "d"))
    assert(registry.latest("shop.orders").get._1 == 1L) // bumped from 0
    // idempotency anchor: same identity pair → already completed
    assert(rec.alreadyCompleted("src1", prev, next))
    assert(!rec.alreadyCompleted("src1", prev, ServerIdentity(3, "other", "db-c")))
  }

  test("Halt raises on the same drift instead of patching") {
    val (dir, registry) = freshSetup()
    val rec = new Reconciler(spark, registry, s"$dir/state")
    val e = intercept[ReconcileHalt] {
      rec.run("src1", prev, next,
        Seq(ReconcileInput("shop", "orders", Some(liveCols))), Halt)
    }
    assert(e.getMessage.contains("policy=halt"))
    assert(registry.latest("shop.orders").get._1 == 0L) // ledger untouched
  }

  test("PK change hard-stops even under Adapt") {
    val (dir, registry) = freshSetup()
    val rec = new Reconciler(spark, registry, s"$dir/state")
    val e = intercept[ReconcileHalt] {
      rec.run("src1", prev, next,
        Seq(ReconcileInput("shop", "orders", Some(liveCols))), Adapt,
        pkNames = Map("shop.orders" -> Set("a")))
    }
    assert(e.getMessage.contains("primary key changed"))
  }

  test("record id is stable per identity pair and history appends") {
    assert(makeId(prev, next) == makeId(prev, next))
    assert(makeId(prev, next) != makeId(next, prev))
    val (dir, registry) = freshSetup()
    val rec = new Reconciler(spark, registry, s"$dir/state")
    rec.run("src1", prev, next, Seq(ReconcileInput("shop", "orders", Some(liveCols))), Adapt)
    rec.run("src1", prev, next, Nil, Adapt)
    val history = Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/state/src1.history.jsonl"))
    assert(history.size == 2) // append-only audit trail
  }

  test("a record whose host and column names hold quotes is JSON that marks the failover done") {
    val (dir, registry) = freshSetup()
    val rec = new Reconciler(spark, registry, s"$dir/state")
    val oddNext = ServerIdentity(2, "uuid-replica", "db-\"b\"\\east\t")
    val oddCol = "say \"hi\"\\now"
    rec.run("src1", prev, oddNext,
      Seq(ReconcileInput("sh\"op", "orders", None),
        ReconcileInput("shop", "orders", Some(liveCols :+ col(oddCol, "string")))), Adapt)
    assert(rec.alreadyCompleted("src1", prev, oddNext))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val record = json.readTree(Files.readString(java.nio.file.Paths.get(s"$dir/state/src1.json")))
    assert(record.at("/new_identity/host").asText == oddNext.host)
    assert(record.at("/table_results/0/db").asText == "sh\"op")
    val added = record.at("/table_results/1/deltas").elements()
    var names = Seq.empty[String]
    while (added.hasNext) names :+= added.next().at("/column/name").asText
    assert(names.contains(oddCol), record.toString)
  }
}
