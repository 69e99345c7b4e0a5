package graft.operators

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * r17: `FilterProcessor(cfg, keep = path -> outName)` rides downstream
 * projection fields on the gate's single parse-once pass. Pins:
 *  - kept columns are VALUE-IDENTICAL to `get_json_object(after, $.path)`
 *    across string/number/nested/JSON-null/missing fields;
 *  - the surviving row set is unchanged by `keep`;
 *  - no staging columns leak into the output;
 *  - keep-only (no predicates) still applies the op/table gates;
 *  - output names that would overwrite an input column, repeat, or fall in
 *    the staging namespace are rejected when the plan is built.
 */
class FilterKeepSpec extends SparkSpec {
  import FilterProcessor._

  private def evs: DataFrame = {
    import spark.implicits._
    val rows = Seq(
      ("c", """{"id": 1, "amount": 10.5, "tier": "gold", "address": {"city": "Berlin"}, "deleted_at": null}"""),
      ("c", """{"id": 2, "amount": 200.0, "tier": null}"""),
      ("u", """{"id": 3, "amount": 7.25, "tier": "silver", "address": {"city": "Paris"}}"""),
      ("c", """{"id": 4, "tier": "x"}"""),
      ("d", null: String))
    ChangeEvent.conform(rows.toDF("op", "after")
      .withColumn("source", struct(lit("inventory").as("db"), lit("t").as("table"))))
  }

  private val keep = Seq("id" -> "k_id", "address.city" -> "k_city",
    "deleted_at" -> "k_del", "missing" -> "k_miss", "amount" -> "k_amt")

  test("kept columns are value-identical to get_json_object over the same survivors") {
    val cfg = Config(predicates = Seq(Gt("amount", 5), Exists("tier")))
    val got = FilterProcessor(cfg, keep)(evs)
      .select(col("k_id"), col("k_city"), col("k_del"), col("k_miss"), col("k_amt"))
      .collect().toSeq
    val want = FilterProcessor(cfg)(evs).select(
      get_json_object(col("after"), "$.id").as("k_id"),
      get_json_object(col("after"), "$.address.city").as("k_city"),
      get_json_object(col("after"), "$.deleted_at").as("k_del"),
      get_json_object(col("after"), "$.missing").as("k_miss"),
      get_json_object(col("after"), "$.amount").as("k_amt"))
      .collect().toSeq
    assert(got == want)
    assert(got.nonEmpty) // rows 1 and 3 survive; an empty compare proves nothing
  }

  test("keep does not change the surviving row set or leak staging columns") {
    val cfg = Config(predicates = Seq(Gt("amount", 5), Exists("tier")))
    val withKeep = FilterProcessor(cfg, keep)(evs)
    val without = FilterProcessor(cfg)(evs)
    assert(withKeep.count() == without.count())
    assert(!withKeep.columns.exists(_.startsWith("__jp")))
    assert(withKeep.columns.toSet == without.columns.toSet ++ keep.map(_._2))
  }

  test("keep-only (no predicates) applies op/table gates and stages one parse") {
    val got = FilterProcessor(Config(ops = Seq("c")), Seq("id" -> "k_id"))(evs)
    assert(got.count() == 3)
    assert(got.select("k_id").collect().map(_.getString(0)).sorted.toSeq == Seq("1", "2", "4"))
    assert(!got.columns.exists(_.startsWith("__jp")))
  }

  test("keep rejects output names that collide, at plan-build time") {
    val cfg = Config(predicates = Seq(Gt("amount", 5)))
    val bad = Seq(
      Seq("id" -> "op"), // would overwrite the input's op column
      Seq("id" -> "OP"), // Spark resolves names case-insensitively
      Seq("id" -> "k", "amount" -> "k"), // the first entry would vanish
      Seq("id" -> "__jpa_id"), // dropped with the staging columns
      Seq("id" -> "__jpb0"))
    for (keep <- bad) {
      val e = intercept[IllegalArgumentException](FilterProcessor(cfg, keep)(evs))
      assert(e.getMessage.contains("keep output names"), s"$keep: ${e.getMessage}")
    }
    // the same path kept under two distinct new names is fine
    val ok = FilterProcessor(cfg, Seq("id" -> "k1", "id" -> "k2"))(evs)
    assert(ok.collect().forall(r => r.getAs[String]("k1") == r.getAs[String]("k2")))
  }
}
