package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import Tables._

/** BPE token accounting (VERDICT r15 #7) — the tokenizer-budget leg of the
  * training-data pipeline. `p_pack_sequences` budgets context windows in
  * whitespace tokens; real pipelines budget in TOKENIZER tokens. This
  * module trains a small in-corpus byte-pair-encoding merges table as a
  * PERSISTED model artifact (the `Layout`/codebook discipline: train once
  * per (session, sfDir), write parquet, every consumer LOADS it), applies
  * it to the corpus vocabulary, and re-cuts sequence packing on real BPE
  * token sums.
  *
  * Algorithm (Sennrich/Haddow/Birch, ACL 2016, simplified: no
  * end-of-word marker — merges never cross word boundaries because each
  * word tokenizes independently): start from the corpus word-frequency
  * vocabulary with each word split into characters; repeat N times: count
  * adjacent symbol pairs weighted by word frequency, merge the most
  * frequent pair everywhere (greedy left-to-right within each word),
  * record it. The recorded (rank, a, b) list IS the tokenizer.
  *
  * Determinism: pair counts are exact integer sums; the argmax tie-breaks
  * by (count DESC, a ASC, b ASC) — a total order both engines agree on —
  * and greedy left-to-right merge application is a left fold both engines
  * express exactly (Spark `aggregate`, DuckDB `list_reduce`; the fold was
  * pinned equivalent on overlap cases like b,b,b,b → bb,bb before this
  * shipped). The oracle RE-TRAINS the same N merges as a generated CTE
  * chain (the `pqRecallSql` discipline) — nothing crosses engines except
  * the testdata.
  *
  * Scale: the only corpus-sized work is the word-frequency aggregation
  * (classic map-side-combined wordcount) and the final per-doc token sum
  * (broadcast join of the tokenized vocabulary onto exploded words). The
  * N training iterations run on the VOCABULARY — sublinear in corpus size
  * (Heaps' law; 31 distinct words on this synthetic corpus) — with one
  * 1-row collect per iteration (the chosen pair: O(model) driver traffic,
  * the same bound as the Lloyd loop). At 100 TB: one wordcount, N tiny
  * jobs, one artifact write.
  */
object Bpe {

  /** Number of merge rounds. Small by design (the artifact is a witness,
    * not a production 50k-merge vocab); must leave un-merged pairs at
    * every SF so each round's argmax is non-empty (asserted in training,
    * and the 31-word corpus vocabulary saturates far beyond 12). */
  private[queries] val NMerges = 12

  /** Corpus word-frequency vocabulary — the one corpus-sized aggregation
    * (map-side-combined wordcount), memoized like the dedup indexes. */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, dir, "bpe_vocab") {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("freq"))
    }

  /** Merged symbols are corpus-alphabet strings; pin that so inlining
    * them into expression/SQL literals can never need escaping (the
    * synthetic corpus is [a-z0-9]; a richer corpus would switch these
    * literals to `Sql.sqlStringLiteral`). */
  private def checkSym(sym: String): String = {
    require(sym.matches("[A-Za-z0-9]+"),
      s"BPE symbol '$sym' outside the expected corpus alphabet")
    sym
  }

  /** One greedy left-to-right merge of pair (a, b) → "ab" as a SQL left
    * fold over the symbol-array expression `src`. Overlap semantics match
    * classic BPE: b,b,b → bb,b (a merged symbol never re-merges with the
    * element that follows it in the same pass unless they form the pair
    * themselves). */
  private def mergeFold(src: String, a: String, b: String): String = {
    checkSym(a); checkSym(b)
    s"""aggregate($src, CAST(array() AS ARRAY<STRING>),
       |  (acc, x) -> CASE
       |    WHEN size(acc) > 0 AND element_at(acc, -1) = '$a' AND x = '$b'
       |    THEN concat(slice(acc, 1, size(acc) - 1), array('$a$b'))
       |    ELSE concat(acc, array(x)) END)""".stripMargin
  }

  /** Train the merges table: N rounds of (pair-count → argmax → apply).
    * Each round's DataFrame work runs on the vocabulary; the collect is
    * the 1-row chosen pair. */
  private def train(s: SparkSession, dir: String): Seq[(Long, String, String)] = {
    var v = vocab(s, dir).withColumn("syms", split(col("word"), ""))
    val merges = Seq.newBuilder[(Long, String, String)]
    for (i <- 1 to NMerges) {
      val top = v
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), j ->
            |  struct(element_at(syms, j) AS a,
            |         element_at(syms, j + 1) AS b))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"BPE merge round $i found no pairs — corpus too small for $NMerges merges")
      val (a, b) = (top(0).getString(0), top(0).getString(1))
      merges += ((i.toLong, a, b))
      v = v.withColumn("syms", expr(mergeFold("syms", a, b)))
    }
    merges.result()
  }

  /** The persisted merges artifact: N rows of (rank, a, b), written once
    * per (session, sfDir) — the tokenizer a production pipeline ships to
    * every consumer instead of retraining. */
  private[graft] def mergesPath(s: SparkSession, dir: String): String =
    Layout.written(s, dir, "bpe_merges") {
      val path = Layout.tmpRoot("bpe_merges", dir)
      import s.implicits._
      train(s, dir).toDF("rank", "a", "b")
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** Load the persisted merges (N rows — a model-artifact fetch, not a
    * data collect), rank-sorted; memoized per (session, dir). */
  private[graft] def merges(s: SparkSession, dir: String): Seq[(Long, String, String)] =
    graft.engine.EngineState.of(s).memo(dir, "loaded/bpe_merges") {
      s.read.parquet(mergesPath(s, dir)).collect().toSeq
        .map(r => (r.getLong(r.fieldIndex("rank")),
          r.getString(r.fieldIndex("a")), r.getString(r.fieldIndex("b"))))
        .sortBy(_._1)
    }

  /** Vocabulary tokenized by the LOADED artifact: the N merges compose
    * into one map-side fold chain over each word — per-row expression
    * work, no shuffle beyond the vocab aggregation itself. Applying the
    * artifact must reproduce training's end state; the oracle certifies
    * exactly that (it exports its training end state). */
  private def tokenizedVocab(s: SparkSession, dir: String): DataFrame = {
    val symsExpr = merges(s, dir).foldLeft("split(word, '')") {
      case (e, (_, a, b)) => mergeFold(e, a, b)
    }
    vocab(s, dir).withColumn("toks", expr(symsExpr))
  }

  /** `p_tokenize_bpe`: the tokenized vocabulary — each word's BPE token
    * sequence and count under the trained artifact, most frequent first.
    * LIMIT 50 covers the full synthetic vocabulary (31 words); on a real
    * corpus this is the head of the vocab report. */
  val tokenizeBpe: Q = (s, dir) =>
    tokenizedVocab(s, dir)
      .select(col("word"), col("freq"),
        size(col("toks")).cast(LongType).as("n_tok"),
        concat_ws(" ", col("toks")).as("toks"))
      .orderBy(desc("freq"), col("word"))
      .limit(50)

  /** `p_pack_sequences_bpe`: sequence packing re-cut on REAL tokenizer
    * token sums — same 4096-token windows and per-lang running total as
    * `p_pack_sequences`, but each document's length is its BPE token
    * count: exploded words broadcast-join the tokenized vocabulary (the
    * artifact side is small; the corpus never shuffles for the lookup),
    * then one per-doc sum and the per-lang pack window. */
  val packSequencesBpe: Q = (s, dir) => {
    val wt = tokenizedVocab(s, dir)
      .select(col("word"), size(col("toks")).cast(LongType).as("n_tok"))
    val docTok = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(wt), Seq("word"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("n_tok")).as("tok"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docTok
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin", expr("CAST((cum - tok) DIV 4096 AS BIGINT)"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  // --- Oracle: re-train the same N merges as a generated CTE chain --------

  /** v0 (char-split word-frequency vocab) + N iterations of
    * (pair-count → argmax → fold-apply). DuckDB's `list_reduce` has no
    * initial-accumulator form, so elements lift to single-element lists
    * (acc and x are then the same LIST type and the first element seeds
    * the fold — equivalent to Spark's empty-seed fold). Slice note:
    * DuckDB list slicing is INCLUSIVE, so dropping the last element is
    * `acc[:-2]`, not `[:-1]`. */
  private def trainCtes: String = {
    val v0 =
      """v0 AS MATERIALIZED (
        |  SELECT word, freq, string_split(word, '') AS syms
        |  FROM (SELECT word, COUNT(*) AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS word
        |              FROM documents)
        |        WHERE word <> '' GROUP BY word))""".stripMargin
    val iters = (1 to NMerges).map { i =>
      s"""pj$i AS MATERIALIZED (SELECT freq, syms, unnest(range(1, len(syms))) AS j
         |  FROM v${i - 1}),
         |pc$i AS MATERIALIZED (SELECT syms[CAST(j AS INT)] AS a,
         |    syms[CAST(j + 1 AS INT)] AS b, SUM(freq) AS cnt
         |  FROM pj$i GROUP BY a, b),
         |m$i AS MATERIALIZED (SELECT a, b FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, freq,
         |  list_reduce(list_transform(syms, c -> [c]), (acc, x) ->
         |    CASE WHEN acc[-1] = m.a AND x[1] = m.b
         |         THEN list_append(acc[:-2], m.a || m.b)
         |         ELSE list_concat(acc, x) END) AS syms
         |  FROM v${i - 1}, m$i m)""".stripMargin
    }
    (v0 +: iters).mkString(",\n")
  }

  val tokenizeBpeSql: String =
    s"""WITH $trainCtes
       |SELECT word, freq, CAST(len(syms) AS BIGINT) AS n_tok,
       |  array_to_string(syms, ' ') AS toks
       |FROM v$NMerges ORDER BY freq DESC, word LIMIT 50""".stripMargin

  val packSequencesBpeSql: String =
    s"""WITH $trainCtes,
       |wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_tok
       |       FROM v$NMerges),
       |dw AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents),
       |dt AS (SELECT lang, doc_id, CAST(SUM(n_tok) AS BIGINT) AS tok
       |       FROM dw JOIN wt USING (word)
       |       WHERE word <> '' GROUP BY lang, doc_id),
       |c AS (SELECT lang, doc_id, tok,
       |        SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM dt)
       |SELECT lang, CAST((cum - tok) // 4096 AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  val queries: Map[String, Q] = Map(
    "p_tokenize_bpe" -> tokenizeBpe,
    "p_pack_sequences_bpe" -> packSequencesBpe)

  val oracle: Map[String, String] = Map(
    "p_tokenize_bpe" -> tokenizeBpeSql,
    "p_pack_sequences_bpe" -> packSequencesBpeSql)
}
