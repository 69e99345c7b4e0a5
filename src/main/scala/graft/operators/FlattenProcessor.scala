package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Flatten processor: recursively flattens nested structs/arrays into
 * `parent__child` columns.
 *
 * Reference semantics (crates/processors/src/flatten.rs:29-203, config
 * flatten_cfg.rs:6-100): separator (default `__`), `max_depth`, list policy
 * `preserve|index`, empty-object/empty-list policy `preserve|drop|null`,
 * collision policy `last|first|error`.
 *
 * Spark-first design: the reference walks dynamic JSON per event; here the
 * flatten is *schema-driven* — one pass over the `StructType` produces a flat
 * projection that Catalyst executes in whole-stage codegen with zero per-row
 * interpretation. For JSON-string payloads, project with `from_json(payload,
 * ledgerSchema)` first (the schema ledger is the source of truth), then flatten.
 */
object FlattenProcessor {

  sealed trait ListPolicy
  /** keep arrays as-is */
  case object ListPreserve extends ListPolicy
  /** expand arrays to `name__0..name__{n-1}` columns (n = fixedListWidth) */
  case class ListIndex(width: Int) extends ListPolicy

  sealed trait CollisionPolicy
  case object CollisionLast extends CollisionPolicy
  case object CollisionFirst extends CollisionPolicy
  case object CollisionError extends CollisionPolicy

  case class Config(
      separator: String = "__",
      maxDepth: Int = Int.MaxValue,
      listPolicy: ListPolicy = ListPreserve,
      collisionPolicy: CollisionPolicy = CollisionLast)

  /**
   * Flatten a single struct column into a list of (flatName, Column).
   * Depth counts nesting levels below the root: at `maxDepth` a still-nested
   * value is kept as an opaque leaf (reference flatten.rs:8-18).
   */
  def flatColumns(root: Column, schema: StructType, cfg: Config): Seq[(String, Column)] = {
    def walk(c: Column, dt: DataType, prefix: String, depth: Int): Seq[(String, Column)] = dt match {
      case st: StructType if depth < cfg.maxDepth =>
        st.fields.toSeq.flatMap { f =>
          val name = if (prefix.isEmpty) f.name else prefix + cfg.separator + f.name
          walk(c.getField(f.name), f.dataType, name, depth + 1)
        }
      case at: ArrayType if depth < cfg.maxDepth =>
        cfg.listPolicy match {
          case ListPreserve => Seq(prefix -> c)
          case ListIndex(w) =>
            (0 until w).flatMap { i =>
              walk(c.getItem(i), at.elementType, prefix + cfg.separator + i, depth + 1)
            }
        }
      case _ => Seq(prefix -> c)
    }
    val flat = walk(root, schema, "", 0)
    // collision resolution (reference flatten.rs:162-183)
    cfg.collisionPolicy match {
      case CollisionLast => flat.groupBy(_._1).map(_._2.last).toSeq.sortBy(f => flat.indexOf(f))
      case CollisionFirst => flat.groupBy(_._1).map(_._2.head).toSeq.sortBy(f => flat.indexOf(f))
      case CollisionError =>
        val dups = flat.groupBy(_._1).filter(_._2.size > 1).keys
        if (dups.nonEmpty) throw new IllegalArgumentException(
          s"flatten collision on keys: ${dups.mkString(", ")}")
        flat
    }
  }

  /**
   * Replace struct column `colName` in `df` with its flattened columns.
   * Other columns pass through unchanged.
   */
  def apply(df: DataFrame, colName: String, cfg: Config = Config()): DataFrame = {
    val st = df.schema(colName).dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"flatten target $colName must be a struct, got $other")
    }
    val flat = flatColumns(col(colName), st, cfg).map { case (n, c) => c.as(n) }
    val others = df.columns.filter(_ != colName).map(col).toIndexedSeq
    df.select(others ++ flat: _*)
  }
}
