package graft.streaming

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.Json.mapper
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/**
 * Failover schema reconciliation: after a source identity change (failover
 * to a new primary), diff the REGISTRY's stored schema against the LIVE
 * schema per table and decide Adapt (record deltas, patch the registry,
 * resume) vs Halt (raise for operator intervention).
 *
 * Reference: crates/sources/src/failover/reconciler.rs:82-300 —
 * `reconcile_table` (pure diff: PK change → hard stop; column added /
 * dropped / type-changed → deltas), `ReconciliationRecord` with a stable id
 * derived from the identity pair (idempotency anchor + append-only audit
 * history), and the `OnSchemaDrift` Adapt/Halt policy
 * (deltaforge-config/src/lib.rs:145-160).
 *
 * The diff itself is pure (no I/O); persistence is a tiny KV file + an
 * append-only history log, the driver-side analog of the reference's
 * storage backend.
 */
object SchemaReconciler {

  case class ColumnSnapshot(name: String, dataType: String,
                            isNullable: Boolean, isPrimaryKey: Boolean)

  sealed trait SchemaDelta
  case class ColumnAdded(column: ColumnSnapshot) extends SchemaDelta
  case class ColumnDropped(name: String) extends SchemaDelta
  case class ColumnTypeChanged(name: String, oldType: String, newType: String) extends SchemaDelta
  case object TableDropped extends SchemaDelta

  sealed trait ReconcileOutcome
  case class Reconcilable(deltas: Seq[SchemaDelta]) extends ReconcileOutcome
  case class RequiresStop(reason: String) extends ReconcileOutcome

  /** OnSchemaDrift policy (deltaforge-config/src/lib.rs:145-160). */
  sealed trait OnSchemaDrift
  case object Adapt extends OnSchemaDrift
  case object Halt extends OnSchemaDrift

  case class ServerIdentity(serverId: Long, uuid: String, host: String)

  case class ReconcileInput(db: String, table: String,
                            liveColumns: Option[Seq[ColumnSnapshot]])

  case class TableResult(db: String, table: String, deltas: Seq[SchemaDelta])

  case class Record(id: String, sourceId: String, prev: ServerIdentity,
                    next: ServerIdentity, results: Seq[TableResult],
                    reconciledAtMs: Long)

  /** Stable id from the identity pair — the same failover event always
   * produces the same id (reconciler.rs:126-137). */
  def makeId(prev: ServerIdentity, next: ServerIdentity): String = {
    val input = s"${prev.serverId}:${prev.uuid}:${prev.host}|${next.serverId}:${next.uuid}:${next.host}"
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(input.getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Spark StructType (+ PK names) → column snapshots. */
  def snapshotsOf(schema: StructType, pkNames: Set[String]): Seq[ColumnSnapshot] =
    schema.fields.toSeq.map(f =>
      ColumnSnapshot(f.name, f.dataType.simpleString, f.nullable, pkNames.contains(f.name)))

  /**
   * Pure diff of one table (reconciler.rs:160-225): PK change → hard stop;
   * stored=None → noop; live=None → TableDropped; otherwise
   * dropped/type-changed from the stored side, added from the live side.
   */
  def reconcileTable(stored: Option[Seq[ColumnSnapshot]],
                     live: Option[Seq[ColumnSnapshot]]): ReconcileOutcome = {
    val storedCols = stored match {
      case None => return Reconcilable(Nil)
      case Some(c) => c
    }
    val liveCols = live match {
      case None => return Reconcilable(Seq(TableDropped))
      case Some(c) => c
    }
    val storedPk = storedCols.filter(_.isPrimaryKey).map(_.name)
    val livePk = liveCols.filter(_.isPrimaryKey).map(_.name)
    if (storedPk != livePk)
      return RequiresStop(s"primary key changed: was [${storedPk.mkString(", ")}], " +
        s"now [${livePk.mkString(", ")}]")
    val deltas = Seq.newBuilder[SchemaDelta]
    storedCols.foreach { sc =>
      liveCols.find(_.name == sc.name) match {
        case None => deltas += ColumnDropped(sc.name)
        case Some(lc) if lc.dataType != sc.dataType =>
          deltas += ColumnTypeChanged(sc.name, sc.dataType, lc.dataType)
        case _ =>
      }
    }
    liveCols.foreach { lc =>
      if (!storedCols.exists(_.name == lc.name)) deltas += ColumnAdded(lc)
    }
    Reconcilable(deltas.result())
  }

  private def deltaJson(d: SchemaDelta): ObjectNode = {
    val o = mapper.createObjectNode()
    d match {
      case ColumnAdded(c) =>
        o.put("type", "column_added").putObject("column").put("name", c.name).put("data_type", c.dataType)
      case ColumnDropped(n) => o.put("type", "column_dropped").put("name", n)
      case ColumnTypeChanged(n, from, to) =>
        o.put("type", "column_type_changed").put("name", n).put("old_type", from).put("new_type", to)
      case TableDropped => o.put("type", "table_dropped")
    }
    o
  }

  def recordJson(r: Record): String = {
    val o = mapper.createObjectNode().put("id", r.id).put("source_id", r.sourceId)
    for ((key, i) <- Seq("previous_identity" -> r.prev, "new_identity" -> r.next))
      o.putObject(key).put("server_id", i.serverId).put("uuid", i.uuid).put("host", i.host)
    val results = o.putArray("table_results")
    r.results.foreach(t => results.addObject().put("db", t.db).put("table", t.table)
      .putArray("deltas").addAll(t.deltas.map(deltaJson).asJava))
    mapper.writeValueAsString(o.put("reconciled_at_ms", r.reconciledAtMs))
  }

  /** Raised under the Halt policy or on a PK hard stop. */
  class ReconcileHalt(message: String) extends RuntimeException(message)

  /**
   * Driver-side reconciler bound to the [[SchemaRegistry]]: reads stored
   * schemas (latest version per table), diffs against live columns, and on
   * Adapt REGISTERS the live schema as a new version (the "patch the
   * ledger" step) so subsequent decode uses the failed-over reality.
   */
  class Reconciler(spark: org.apache.spark.sql.SparkSession,
                   registry: SchemaRegistry, stateDir: String) {
    Files.createDirectories(Paths.get(stateDir))

    private def kvPath(sourceId: String) = Paths.get(s"$stateDir/$sourceId.json")
    private def historyPath(sourceId: String) = Paths.get(s"$stateDir/$sourceId.history.jsonl")

    /** Idempotency check (reconciler.rs:289-310): a persisted record with
     * the same identity-pair id means this failover was already handled. */
    def alreadyCompleted(sourceId: String, prev: ServerIdentity, next: ServerIdentity): Boolean = {
      val p = kvPath(sourceId)
      Files.exists(p) && {
        val node = mapper.readTree(Files.readString(p))
        Option(node.get("id")).exists(_.asText == makeId(prev, next))
      }
    }

    /**
     * Reconcile all tracked tables. PK changes hard-stop regardless of
     * policy; any other delta: Adapt registers the live schema (new ledger
     * version) and resumes, Halt raises [[ReconcileHalt]].
     */
    def run(sourceId: String, prev: ServerIdentity, next: ServerIdentity,
            tables: Seq[ReconcileInput], policy: OnSchemaDrift,
            pkNames: Map[String, Set[String]] = Map.empty): Record = {
      val results = tables.map { input =>
        val key = s"${input.db}.${input.table}"
        val stored = registry.latestSchema(key).map(s =>
          snapshotsOf(s, pkNames.getOrElse(key, Set.empty)))
        reconcileTable(stored, input.liveColumns) match {
          case RequiresStop(reason) =>
            throw new ReconcileHalt(s"failover reconciliation hard stop for $key: $reason")
          case Reconcilable(deltas) => TableResult(input.db, input.table, deltas)
        }
      }
      val drifted = results.filter(_.deltas.nonEmpty)
      if (drifted.nonEmpty && policy == Halt)
        throw new ReconcileHalt("schema drift after failover (policy=halt): " +
          drifted.map(t => s"${t.db}.${t.table} (${t.deltas.size} deltas)").mkString(", "))
      // Adapt: patch the ledger — register each drifted table's live schema
      drifted.foreach { t =>
        tables.find(i => i.db == t.db && i.table == t.table).flatMap(_.liveColumns).foreach { live =>
          val struct = StructType(live.map(c => org.apache.spark.sql.types.StructField(
            c.name, org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(c.dataType),
            c.isNullable)))
          registry.register(s"${t.db}.${t.table}", struct, System.currentTimeMillis())
        }
      }
      val record = Record(makeId(prev, next), sourceId, prev, next, results, System.currentTimeMillis())
      val json = recordJson(record)
      Files.writeString(kvPath(sourceId), json) // KV idempotency anchor
      Files.writeString(historyPath(sourceId), json + "\n", // append-only audit
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      record
    }
  }
}
