package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.{ckpt, dropCkpt, table}

/** BPE tokenizer training over a document corpus (SURVEY.md §2.C —
  * training-data pipeline pack). The two ops every byte-pair-encoding
  * trainer runs:
  *
  *   - q132 `pairCounts`: frequency of every adjacent symbol pair,
  *     weighted by word frequency — the statistic a single BPE merge
  *     step ranks on.
  *   - q133 `bpeMerges`: the first K merge rules themselves, learned
  *     iteratively (count pairs → take the argmax → rewrite the vocab
  *     → repeat), exactly the Sennrich et al. BPE loop.
  *
  * Scale shape (the reason BPE fits MapReduce): the corpus is touched
  * ONCE — a whitespace tokenize + word-frequency aggregation whose
  * map-side partials collapse the token stream to vocab-sized output
  * before the only corpus shuffle. Every merge round after that runs
  * on the distinct-word table (|vocab| rows, not |corpus|): pair
  * expansion is per-word O(len), the argmax is a 1-row collect (the
  * q118 PageRank-delta pattern), and the vocab rewrite is a scan-side
  * array fold re-checkpointed per round so lineage stays O(1). At
  * 100 TB the cost is the one tokenize scan; the training loop itself
  * is a few MB of vocab state per round.
  *
  * Determinism: counts are integers, ties break on (left, right)
  * byte order — both engines pick identical merge rules, so the gate
  * is hash-exact (no rows-only concession). The left-to-right merge
  * fold can't over-merge overlapping occurrences: once a pair merges,
  * the accumulator's last symbol becomes `left||right`, which can
  * never equal `left` again (symbols are non-empty), so "aaa" under
  * (a,a) correctly becomes ["aa","a"].
  */
object Bpe {

  /** (w, freq) word-frequency table of a (doc_id, text, ...) frame —
    * lowercased whitespace tokens, empties dropped. The one corpus
    * pass; everything downstream is vocab-sized. */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Adjacent symbol-pair counts at merge step 0 (symbols = single
    * characters), weighted by word frequency: the q132 operator.
    * Runs on the vocab table — the pair explode is per-DISTINCT-word,
    * so a billion-token corpus with a 10M-word vocab expands 10M rows,
    * not a billion. */
  def pairCounts(docs: DataFrame): DataFrame =
    wordFreq(docs)
      .filter(length(col("w")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))

  /** The first `numMerges` BPE merge rules of the corpus:
    * (step, left, right, merged, cnt). Iterative driver loop over the
    * checkpointed vocab table; each round's argmax is a 1-row collect
    * (metadata-sized, like the PageRank convergence delta) and each
    * round's vocab rewrite is one scan-side `aggregate` fold. */
  def bpeMerges(docs: DataFrame, numMerges: Int): DataFrame =
    bpeTrain(docs, numMerges)._1

  /** Full training result: (merge rules, final segmented vocab
    * (w, freq, syms)). The vocab is what ENCODING joins against —
    * applying a learned tokenizer never re-runs the merge fold per
    * document, it's a vocab-sized lookup (see q140). */
  def bpeTrain(docs: DataFrame, numMerges: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = ckpt(wordFreq(docs)
      .withColumn("syms", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      .select(col("w"), col("freq"), col("syms")))
    val rules = Seq.newBuilder[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS l,
            |              element_at(syms, i + 1) AS r))""".stripMargin))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        val m = a + b
        rules += ((step.toLong, a, b, m, top(0).getAs[Long]("cnt")))
        val next = ckpt(vocab.withColumn("syms",
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
              .otherwise(concat(acc, array(x))))))
        dropCkpt(vocab) // round N-1 no longer read
        vocab = next
      } else {
        // barren round: no word has >= 2 symbols left, and the vocab
        // cannot change — every remaining round would re-run the same
        // provably-empty argmax job (r9 review fix)
        exhausted = true
      }
      step += 1
    }
    (rules.result().toDF("step", "left", "right", "merged", "cnt"), vocab)
  }

  /** Encode the corpus under its own first-`numMerges` BPE tokenizer
    * (q140): per doc, word/char/BPE-token counts and the chars-per-
    * token compression ratio — the "how much does this tokenizer
    * compress my corpus" readout every tokenizer change is judged by.
    * Scale shape: the merge loop runs once on the vocab (bpeTrain);
    * ENCODING is a join of the scan-side token stream against the
    * segmented vocab on the uniform word key + one per-doc
    * map-side-combinable re-agg — the per-word fold result is
    * computed |vocab| times, not |corpus| times. */
  def bpeEncode(docs: DataFrame, numMerges: Int): DataFrame = {
    val enc = bpeTrain(docs, numMerges)._2
      .select(col("w").as("tok"), size(col("syms")).cast("long").as("n_sym"))
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .join(enc, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("tok"))).cast("long").as("n_chars_tok"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .withColumn("compression", round(
        col("n_chars_tok").cast("double") / col("n_bpe_tokens"), 6))
  }

  /** Per-language tokenizer fertility under the learned merges
    * (q142): BPE tokens per word and chars per token by `lang` — the
    * tokenizer-equity diagnostic (a tokenizer trained on a
    * latin-heavy corpus fragments CJK text into near-character
    * tokens: fertility ≈ chars/word while 'en' compresses), the
    * number multilingual data recipes watch when sizing per-language
    * sampling (see q136). Same scale shape as q140: vocab-sized
    * training, one token-stream join, one |langs|-row re-agg. */
  def bpeFertility(docs: DataFrame, numMerges: Int): DataFrame = {
    val enc = bpeTrain(docs, numMerges)._2
      .select(col("w").as("tok"), size(col("syms")).cast("long").as("n_sym"))
    docs.select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .join(enc, Seq("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe_tokens"),
        round(sum(col("n_sym")).cast("double") / count(lit(1)), 6)
          .as("fertility"),
        round(sum(length(col("tok"))).cast("double") / sum(col("n_sym")), 6)
          .as("chars_per_token"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_bpe_pair_counts" -> ((s, dir) => {
      pairCounts(table(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("pair")).limit(50)
    }),

    "q133_bpe_merges" -> ((s, dir) =>
      bpeMerges(table(s, dir, "documents"), numMerges = 6)
        .orderBy(col("step"))),

    "q140_bpe_encode" -> ((s, dir) =>
      bpeEncode(table(s, dir, "documents"), numMerges = 6)
        .orderBy(col("doc_id"))),

    "q142_bpe_fertility" -> ((s, dir) =>
      bpeFertility(table(s, dir, "documents"), numMerges = 6)
        .orderBy(col("lang")))
  )

  // DuckDB mirrors. The merge fold is the same left-to-right
  // list_reduce both engines run (acc is a list-of-lists so the
  // reduce's implicit first-element init types correctly); the argmax
  // per round is the same integer-count ORDER BY. q133 unrolls the
  // 6-round loop as a CTE chain, the q118 fixed-point convention.
  private val wordsSql =
    """SELECT w, COUNT(*) AS freq FROM (
      |  SELECT UNNEST(regexp_split_to_array(lower(text), '\s+')) AS w
      |  FROM documents)
      |WHERE length(w) >= 1 GROUP BY w""".stripMargin

  /** The shared k-round merge CTE chain (words, s0, p1/t1/s1 ...
    * p{k}/t{k}/s{k}); s{i} carries (w, freq, syms) so both the rules
    * face (q133) and the encode face (q140) read off it. */
  private def mergeChainSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT syms[CAST(i AS INTEGER)] AS l,
         |    syms[CAST(i AS INTEGER) + 1] AS r,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM s${i - 1}, UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
         |  WHERE len(syms) >= 2
         |  GROUP BY 1, 2),
         |t$i AS (SELECT l, r, l || r AS m, cnt FROM p$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS (
         |  SELECT w, freq,
         |    CASE WHEN t.l IS NULL THEN syms
         |    ELSE list_reduce(list_transform(syms, s -> [s]),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.l
         |          AND x[1] = t.r
         |        THEN list_concat(acc[1:len(acc) - 1], [t.m])
         |        ELSE list_concat(acc, x) END) END AS syms
         |  FROM s${i - 1} LEFT JOIN t$i t ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""words AS ($wordsSql),
       |s0 AS (
       |  SELECT w, freq, list_transform(generate_series(1, length(w)),
       |    i -> substr(w, CAST(i AS INTEGER), 1)) AS syms
       |  FROM words),
       |$rounds""".stripMargin
  }

  private def mergesSql(k: Int): String = {
    val union = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS step, l AS "left", r AS "right",
         |  m AS merged, cnt FROM t$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${mergeChainSql(k)}
       |SELECT * FROM ($union) ORDER BY step""".stripMargin
  }

  private def encodeSql(k: Int): String =
    s"""WITH ${mergeChainSql(k)},
       |enc AS (SELECT w AS tok, CAST(len(syms) AS BIGINT) AS n_sym
       |        FROM s$k),
       |tk AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id,
       |      UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE length(tok) >= 1)
       |SELECT tk.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(length(tk.tok)) AS BIGINT) AS n_chars_tok,
       |  CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  ROUND(SUM(length(tk.tok)) * 1.0 / SUM(e.n_sym), 6) AS compression
       |FROM tk JOIN enc e USING (tok)
       |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin

  private def fertilitySql(k: Int): String =
    s"""WITH ${mergeChainSql(k)},
       |enc AS (SELECT w AS tok, CAST(len(syms) AS BIGINT) AS n_sym
       |        FROM s$k),
       |tk AS (
       |  SELECT doc_id, lang, tok FROM (
       |    SELECT doc_id, lang,
       |      UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE length(tok) >= 1)
       |SELECT tk.lang, COUNT(DISTINCT tk.doc_id) AS n_docs,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  ROUND(SUM(e.n_sym) * 1.0 / COUNT(*), 6) AS fertility,
       |  ROUND(SUM(length(tk.tok)) * 1.0 / SUM(e.n_sym), 6)
       |    AS chars_per_token
       |FROM tk JOIN enc e USING (tok)
       |GROUP BY tk.lang ORDER BY tk.lang""".stripMargin

  val oracle: Map[String, String] = Map(
    "q140_bpe_encode" -> encodeSql(6),
    "q142_bpe_fertility" -> fertilitySql(6),
    "q132_bpe_pair_counts" ->
      s"""WITH words AS ($wordsSql),
         |pairs AS (
         |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM words, UNNEST(generate_series(1, length(w) - 1)) AS u(i)
         |  WHERE length(w) >= 2
         |  GROUP BY 1)
         |SELECT pair, cnt FROM pairs ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    "q133_bpe_merges" -> mergesSql(6)
  )
}
