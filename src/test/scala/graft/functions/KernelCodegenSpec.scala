package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The vector and text kernels run the same code generated and interpreted.
 * Each expression's `eval` and its generated code call one kernel method;
 * this spec evaluates all nine over `array<float>`, `array<double>`,
 * `array<long>` and `array<string>` columns (null and empty arrays included)
 * once under `CODEGEN_ONLY` with the codegen fallback off, so a generated
 * call that does not compile fails the query, and once fully interpreted.
 * The input is an RDD scan, not a local relation, so the optimizer cannot
 * evaluate the projection itself.
 */
class KernelCodegenSpec extends SparkSpec {

  private val dim = 8
  private val (pqM, pqK, pqD) = (2, 3, 4)
  private val cb = Array.tabulate(pqM * pqK * pqD)(i => ((i * 37) % 11 - 5) / 4.0)
  private val qtable = Array.tabulate(pqM * pqK)(i => i * 0.5 + 0.25)

  private def vector(seed: Int): Seq[Double] =
    (0 until dim).map(i => (((seed * 31 + i * 17) % 19) - 9) / 3.0)

  /** Row i: every array kind; row 0 holds nulls, row 1 empty arrays, row 2 a
   * zero vector; the `pq` columns are never empty (PQ reads m·dsub elements). */
  private def frame(): DataFrame = {
    val rows = (0 until 12).map {
      case 0 => Row(0, null, null, null, null, null, null)
      case 1 => Row(1, Seq.empty[Float], Seq.empty[Double], vector(1).map(_.toFloat), vector(1),
        Seq.empty[Long], Seq.empty[String])
      case i =>
        val v = if (i == 2) Seq.fill(dim)(0.0) else vector(i)
        Row(i, v.map(_.toFloat), vector(i * 7), v.map(_.toFloat), v,
          (0 until i).map(j => (j.toLong * 0x9E3779B97F4A7C15L) ^ i), (0 until i % 5).map(j => s"t$i-$j é"))
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("f", ArrayType(FloatType)), StructField("d", ArrayType(DoubleType)),
      StructField("pf", ArrayType(FloatType)), StructField("pd", ArrayType(DoubleType)),
      StructField("h", ArrayType(LongType)), StructField("t", ArrayType(StringType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(col("id"),
        VectorOps.dot(col("f"), col("d")).as("dot_fd"),
        VectorOps.dot(col("d"), col("d")).as("dot_dd"),
        VectorOps.cosine(col("d"), col("f")).as("cos_df"),
        VectorOps.cosine(col("f"), col("f")).as("cos_ff"),
        PqOps.adc(col("pf"), cb, qtable, pqM, pqK, pqD).as("adc_f"),
        PqOps.adc(col("pd"), cb, qtable, pqM, pqK, pqD).as("adc_d"),
        PqOps.codes(col("pf"), cb, pqM, pqK, pqD).as("codes_f"),
        PqOps.codes(col("pd"), cb, pqM, pqK, pqD).as("codes_d"),
        LshOps.hyperplaneBands(col("f"), dim, 3, 5).as("lsh_f"),
        LshOps.hyperplaneBands(col("d"), dim, 3, 5).as("lsh_d"),
        TextHashOps.simhash64(col("h")).as("simhash"),
        TextHashOps.minhashSignature(col("h"), 8).as("minhash"),
        TextHashOps.bandHashes(col("h"), 2).as("bands"),
        TextHashOps.xxhash64Array(col("t")).as("xxh"),
        TextHashOps.md5Hash60Array(col("t")).as("md5"))
  }

  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { settings.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getInt(0))

  test("the nine kernels give the same rows generated and interpreted") {
    val (generated, plan) = withConf(
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false") {
      val df = frame()
      (rowsOf(df), df.queryExecution.executedPlan.toString)
    }
    // "*(n)" marks a whole-stage-codegen'd operator in the plan string
    assert(plan.contains("*(1) Project"), s"the kernels must stay in whole-stage codegen:\n$plan")
    val interpreted = withConf(
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false") {
      rowsOf(frame())
    }
    assert(generated.size == 12 && generated.head.toSeq.tail.forall(_ == null))
    generated.zip(interpreted).foreach { case (g, i) =>
      assert(g == i, s"row ${g.getInt(0)}: generated $g, interpreted $i")
    }
    // the empty and zero vectors hit the kernels' edge cases: cosine of a zero norm is 0
    assert(generated(1).getAs[Double]("cos_ff") == 0.0 && generated(2).getAs[Double]("cos_ff") == 0.0)
    assert(generated(1).getAs[Long]("simhash") == 0L && generated(1).getAs[collection.Seq[Long]]("xxh").isEmpty)
  }

  test("ivfAssignLiteral at 200 literal centroids compiles and stays whole-stage") {
    // the ScaleToolsSpec occupancy shape: dim 8, k = adaptiveCellCount(6,400)
    import graft.llm.Similarity
    val k = Similarity.adaptiveCellCount(6400L).toInt
    val cents = (0 until k).map(c => (c.toLong, (0 until dim).map(i => math.sin(c * 7.1 + i * 1.3))))
    def assign(): DataFrame = Similarity.ivfAssignLiteral(
      spark.range(0, 6400, 1, 4).select(col("id").as("vec_id"),
        array((0 until dim).map(d =>
          ((pmod(hash(col("id") * 31 + lit(d)), lit(1000)) - lit(500)) / 500.0).cast("float")): _*)
          .as("embedding")),
      cents).select("vec_id", "centroid_id")
    val (generated, plan) = withConf(
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false") {
      val df = assign()
      (df.collect().toSeq, df.queryExecution.executedPlan.toString)
    }
    assert(k == 200 && generated.length == 6400)
    assert(plan.contains("*(1) Project"), s"the assignment must stay in whole-stage codegen:\n$plan")
    val interpreted = withConf(
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false") {
      assign().collect().toSeq
    }
    assert(generated == interpreted)
  }
}
