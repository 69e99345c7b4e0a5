package graft.llm

import graft.functions.TextHashOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Byte-pair-encoding vocabulary training (the tokenizer-construction
 * stage of an LLM data pipeline): learn the top-k symbol merges from a
 * corpus, greedy-by-frequency, deterministic tie-break.
 *
 * Word-level BPE (the standard formulation): pair statistics are
 * weighted by word frequency and merges apply within words, so after
 * ONE corpus-sized aggregation (word → count), every training
 * iteration runs over the VOCABULARY table — at 100 TB the corpus is
 * touched once and k iterations cost k vocab-sized jobs, not k corpus
 * scans. This mirrors how reference BPE trainers operate on a word
 * counter, re-expressed as DataFrame ops.
 *
 * Representation: a word's symbol sequence is a DOUBLE-space-delimited
 * string with double-space sentinels ("  h  e  l  l  o  "). Merging
 * pair (a,b) into ab is `replace(sym, " a  b ", " ab ")` — the pattern
 * claims only the INNER margin of each boundary's two spaces, so the
 * remaining space stays available to the next match and a run like
 * "aaaa" merges to [aa][aa] exactly as classic leftmost-greedy BPE
 * does (a single-space encoding consumes the shared delimiter and
 * silently leaves [aa][a][a] — caught by BpeSpec). Both Spark's and
 * DuckDB's `replace` scan left-to-right non-overlapping, so the oracle
 * reproduces training bit-for-bit (the oracle unrolls the k iterations
 * as chained CTEs; [[oracleSql]] generates it from the same
 * parameters).
 *
 * Determinism: pair counts are integer sums; argmax breaks ties by
 * (count desc, pair string asc) — a total order, identical in any
 * engine. No RNG, no floats anywhere.
 */
object Bpe {

  /** Initial symbol string: "  h  e  l  l  o  " (double-space separators
   * and sentinels — see the class doc for why double). */
  private def symInit(w: org.apache.spark.sql.Column) =
    concat(regexp_replace(w, "(.)", "  $1"), lit("  "))

  /** Shared training core: returns (final vocab frame [w, cnt, sym],
   * merges in rank order). One corpus pass, k vocab-sized iterations,
   * one 1-row argmax collect per round. */
  private def train(docs: DataFrame, k: Int, textCol: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    // ONE corpus pass: word counts (vocabulary-sized, map-side combined)
    var vocab = docs
      .select(explode(TextHashOps.textNgramsAll(col(textCol), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("sym", symInit(col("w")))
      .localCheckpoint(true) // corpus lineage ends here; iterations are vocab-sized
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var i = 1
    while (i <= k) {
      val best = vocab
        .select(col("cnt"),
          explode(TextHashOps.textNgramsAll(trim(col("sym")), 2)).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("pair"))
        .limit(1).collect() // 1-row argmax — the only driver-side value per round
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        val pc = best(0).getLong(1)
        val sp = pair.indexOf(' ')
        val (a, b) = (pair.substring(0, sp), pair.substring(sp + 1))
        merges += ((i, a, b, a + b, pc))
        vocab = vocab
          .withColumn("sym",
            expr(s"replace(sym, ' ${sqlEsc(a)}  ${sqlEsc(b)} ', ' ${sqlEsc(a + b)} ')"))
          .localCheckpoint(true) // vocab-sized; keeps each round's plan flat
      } else i = k // vocabulary fully merged — stop
      i += 1
    }
    (vocab, merges.result())
  }

  /**
   * Learn `k` merges. Returns one row per merge:
   * (merge_rank, lhs, rhs, merged, pair_count), rank-ordered.
   */
  def trainMerges(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val (_, merges) = train(docs, k, textCol)
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map(Row.fromTuple), 1),
      StructType(Seq(
        StructField("merge_rank", IntegerType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /**
   * Train merges AND encode the corpus under them: per-document BPE
   * token counts from the FINAL vocabulary state. Encoding work is
   * vocab-sized (each distinct word's final symbol string already
   * exists as the last training iterate); documents re-join their
   * words against that table — the corpus is never re-tokenized per
   * merge.
   */
  def trainAndEncode(docs: DataFrame, k: Int, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val (vocab, _) = train(docs, k, textCol)
    // tokens per distinct word under the learned vocab (sym is "  a  bc  ")
    val wordTokens = vocab.select(col("w"),
      size(filter(split(trim(col("sym")), " "), t => t =!= "")).cast(LongType).as("n_sub"))
    docs
      .select(col(idCol), explode(TextHashOps.textNgramsAll(col(textCol), 1)).as("w"))
      .join(wordTokens, "w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /**
   * Apply learned merges to tokenize words (rank order, leftmost-greedy
   * within each merge — standard BPE encoding). `merges` as (lhs, rhs)
   * in rank order.
   */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var sym = word.map(c => s"  $c").mkString + "  "
    merges.foreach { case (a, b) => sym = sym.replace(s" $a  $b ", s" ${a + b} ") }
    sym.split(" ").filter(_.nonEmpty).toSeq
  }

  private def sqlEsc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /**
   * DuckDB twin of [[trainMerges]] over table `documents`: the k
   * iterations unrolled as chained CTEs computing the SAME pair counts,
   * argmax, and replace — independent end-to-end reproduction, not a
   * replay of the learned merges.
   */
  /** The shared CTE chain v0 → v{k} (training unrolled). Exhaustion-stable:
   * when no mergeable pair remains, p$i (and so b$i) is empty — the LEFT
   * JOIN ON true + CASE keeps v$i = v$(i-1), matching trainAndEncode's
   * stop-early-keep-last-vocab behavior instead of emptying the chain. */
  private def oracleCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt,
        |  regexp_replace(w, '(.)', '  \1', 'g') || '  ' AS sym
        | FROM (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w
        |       FROM documents) GROUP BY w)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |p$i AS (SELECT l[j] || ' ' || l[j+1] AS pair, SUM(cnt) AS pc
        | FROM (SELECT cnt, list_filter(string_split(trim(sym), ' '), x -> x <> '') AS l
        |       FROM v${i - 1}),
        |      UNNEST(generate_series(1, len(l)-1)) AS u(j)
        | GROUP BY 1),
        |b$i AS (SELECT pair, pc FROM p$i ORDER BY pc DESC, pair LIMIT 1),
        |v$i AS (SELECT w, cnt,
        |  CASE WHEN b$i.pair IS NULL THEN sym ELSE
        |   replace(sym, ' ' || split_part(b$i.pair,' ',1) || '  ' || split_part(b$i.pair,' ',2) || ' ',
        |                 ' ' || replace(b$i.pair,' ','') || ' ') END AS sym
        | FROM v${i - 1} LEFT JOIN b$i ON true)""".stripMargin)
    }
    sb.toString
  }

  def oracleSql(k: Int): String = {
    oracleCtes(k) + "\n" +
      (1 to k).map { i =>
        s"""SELECT $i AS merge_rank, split_part(pair,' ',1) AS lhs,
           | split_part(pair,' ',2) AS rhs, replace(pair,' ','') AS merged,
           | CAST(pc AS BIGINT) AS pair_count FROM b$i""".stripMargin
      }.mkString("\nUNION ALL ") +
      "\nORDER BY merge_rank"
  }

  /** DuckDB twin of [[trainAndEncode]]: the same training chain, then
   * per-word subtoken counts from the final vocab joined back onto the
   * exploded corpus. */
  def encodeOracleSql(k: Int): String = {
    oracleCtes(k) + s""",
      |wt AS (SELECT w,
      |  CAST(len(list_filter(string_split(trim(sym),' '), x -> x <> '')) AS BIGINT) AS n_sub
      | FROM v$k),
      |dw AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w
      |       FROM documents)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
      |FROM dw JOIN wt USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
