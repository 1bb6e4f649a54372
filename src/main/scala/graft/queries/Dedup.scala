package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import Tables._

/** Deduplication operators over `documents` — the LLM-training-pipeline
  * family (BASELINE.json north_star): exact, n-gram Jaccard, MinHash LSH,
  * SimHash. Every hash is md5-derived because md5 is bit-identical in Spark
  * and DuckDB, which makes the whole pipeline oracle-checkable end to end.
  *
  * 100 TB design notes (the patterns, not just the sf0.01 numbers):
  *  - exact dedup shuffles 16-byte content hashes, never full documents;
  *  - n-gram Jaccard builds an inverted index (shuffle on shingle) and only
  *    pairs documents sharing a shingle — never an all-pairs cross join —
  *    with a document-frequency cap `DfCap` on shingles, so one boilerplate
  *    shingle can never explode a posting list into a quadratic fan-out.
  *  - MinHash LSH reduces each doc to a 16-value signature, then buckets by
  *    4-row band keys: candidate generation is a shuffle on (band, key),
  *    O(sum of bucket sizes squared), not O(N^2) — with the same `DfCap`
  *    guard on bucket sizes.
  *  - SimHash is map-side computable per document (one small agg here for
  *    clarity); near-dup lookup then bands the 32-bit fingerprint.
  *
  * p_decontaminate keeps its builder although its routed text returns the
  * same rows: the text spells the n-grams as a list transform, the
  * builder calls the native `graft_word_ngrams`, and the text was twice
  * as slow at sf0.1 (629 → 1297 ms, builder → text medians of
  * interleaved runs, `local[4]`).
  */
object Dedup {

  /** Document-frequency cap: shingles appearing in more than this many
    * documents (and LSH buckets larger than this) generate NO candidate
    * pairs. This is what bounds the quadratic per-key fan-out at 100 TB —
    * a boilerplate shingle ("all rights reserved …") in K docs would emit
    * K²/2 pairs from a single task. Near-dup semantics survive the cap:
    * genuinely similar pairs share many shingles, so dropping the
    * over-common ones loses only pairs whose sole overlap is boilerplate.
    * In production the cap's input statistic is exactly what
    * `p_text_boilerplate` (TextOps.boilerplate) computes — the shingle
    * document-frequency table. The cap is plain relational algebra
    * (HAVING COUNT(*) <= K), so the oracle applies the identical rule and
    * results stay byte-equal. */
  val DfCap = 50

  /** Word-trigram shingles of `text`, as a column expression (docs with
    * fewer than 3 words contribute no shingles on either side). */
  // ≡ transform(sequence(1, size(ws) - 2),
  //     i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
  //                    element_at(ws, i + 2)))
  // — the same trigram strings from one flat native loop instead of an
  // interpreted lambda + boxed concat_ws per window (r22, guide §1.2;
  // WordNgramsSpec pins byte-identity on the size(ws) >= 3 inputs every
  // caller filters to). Callers must register graft.functions.WordNgrams.
  private val shinglesExpr = "graft_word_ngrams(ws, 3)"

  /** (doc_id, shingle) distinct pairs — the inverted-index input. Cached
    * and MEMOIZED per (session, dir): ngram-Jaccard consumes it three times
    * (pair generation + two per-doc counts), minhash once more, and a
    * Verify/Bench session executes each query up to 3 times — memoization
    * keeps that at ONE persisted copy instead of one per invocation
    * (ADVICE r5). At 100 TB the analog is materializing the inverted index
    * once (checkpoint / intermediate parquet) before candidate generation. */
  /** The shingling pipeline over any (doc_id, text) frame — shared by the
    * corpus index below and the cap-fixture corpus, so the fixture
    * exercises the production code path, not a re-implementation. */
  private def shinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.WordNgrams.register(docs.sparkSession)
    docs.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("sh"))
      .distinct()
  }

  private def shingles(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, dir, "dedup_shingles") {
      shinglesOf(t(s, dir, "documents"))
    }

  /** Oracle shingling over any (doc_id, text) relation — `documents` for
    * the corpus queries, the planted fixture for the cap query. */
  private def oShinglesFrom(table: String): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $table),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(ws) - 1),
       |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |       FROM w)""".stripMargin

  private val oShingles = oShinglesFrom("documents")

  // --- Exact dedup ---------------------------------------------------------

  /** Exact dedup statistics via content hash: documents collapse on
    * md5(text), so the shuffle key is 16 bytes regardless of document size.
    * (The sf0.01 corpus plants near-dups, not byte-identical dups, so
    * n_dup_docs is 0 here — the mechanism is what's under test.) */
  val exactSql: String =
    """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
      |FROM documents""".stripMargin

  // --- n-gram Jaccard near-dup --------------------------------------------

  /** Exact trigram-Jaccard near-dup pairs via inverted index: group the
    * index by shingle (ONE shuffle of the index — a self-join would shuffle
    * it twice), emit every ordered doc pair within a posting list with a
    * higher-order transform (map-side, no join), count common shingles per
    * pair, Jaccard = common / (|A| + |B| - common). Only the final division
    * is floating point — one op over exact integers, so deterministic
    * across engines. Posting lists are sorted, so d1 < d2 by construction.
    * Posting lists longer than `DfCap` are DROPPED before pair emission
    * (the boilerplate-shingle guard; see DfCap) — the per-doc shingle
    * counts in the Jaccard denominator stay uncapped, so only candidate
    * GENERATION is bounded, not the similarity definition. The oracle
    * applies the identical HAVING cap, so results stay byte-equal. */
  /** Capped candidate pairs with common-shingle counts from a (doc_id, sh)
    * inverted index — THE code path under the DfCap guard, shared by
    * ngramJaccard and the cap-fixture query (p_dedup_cap_fixture) so the
    * capped branch's cross-engine parity is exercised by data, not only
    * argued. The cap guard is FUSED into the collect aggregation (r22,
    * guide §2.4): ONE groupBy computes the document frequency AND a
    * buffer-capped posting list (`graft_capped_longs` — its aggregation
    * buffer stops growing at DfCap elements, so the boilerplate-shingle
    * OOM guard the former count-preaggregate + semi-join provided is
    * preserved without them: no buffer ever materializes an over-cap
    * list). The df filter then drops over-cap groups whole; for every
    * KEPT group df ≤ DfCap, so its capped list is provably COMPLETE and
    * array_sort makes it order-canonical — byte-identical pairs to the
    * former collect_list-after-semi-join. This removes a full pass over
    * the shingle index plus its count exchange and semi-join broadcast
    * (plan: 3 exchanges + 1 broadcast → 2 exchanges on this subtree). */
  private def cappedCommon(sh: DataFrame): DataFrame = {
    // graft_sorted_pairs ≡ flatten(transform(ds, (a, i) ->
    //   transform(slice(ds, i + 2, size(ds)),
    //             d -> named_struct('d1', a, 'd2', d)))) — the same
    // ordered pairs in the same order, one flat native loop instead of
    // O(len²) interpreted lambda evaluations + a slice alloc per outer
    // element (r21; the lists are DfCap-bounded, so this is a constant
    // factor on an already-capped stage)
    graft.functions.SortedPairs.register(sh.sparkSession)
    graft.functions.CappedLongList.register(sh.sparkSession)
    sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"),
        expr(s"graft_capped_longs(doc_id, $DfCap)").as("ds0"))
      .filter(col("df") >= 2 && col("df") <= DfCap)
      .select(explode(expr("graft_sorted_pairs(array_sort(ds0))")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("common"))
  }

  // NOTE (measured, round 10): do NOT memoPersist the capped pair
  // relation. It is cheap to STREAM (pairs flow straight into their
  // consumer's join) but expensive to HOLD — materializing it at sf0.1
  // evicted the other cached intermediates (shingles, signatures, recall
  // pairs) and slowed the whole dedup family ~2x. ngramJaccard and
  // minhashRecall each recompute it from the memoized shingle index.
  val ngramJaccard: Q = (s, dir) => {
    val sh = shingles(s, dir)
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    cappedCommon(sh)
      .join(n.toDF("d1", "n1"), "d1")
      .join(n.toDF("d2", "n2"), "d2")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("common"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** The oracle's twin of the capped pair generation: same DfCap, same
    * relational rule (HAVING on shingle document frequency), so both
    * engines emit identical candidate pairs. */
  private val oCappedPairs: String =
    s"""oksh AS (SELECT sh FROM sh GROUP BY sh
       |         HAVING COUNT(*) BETWEEN 2 AND $DfCap),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM sh a JOIN oksh k ON a.sh = k.sh
       |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY d1, d2)""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $oShingles,
       |n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
       |$oCappedPairs
       |SELECT d1, d2, common,
       |  CAST(common AS DOUBLE) / (na.ns + nb.ns - common) AS jaccard
       |FROM pairs JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
       |WHERE CAST(common AS DOUBLE) / (na.ns + nb.ns - common) >= 0.5
       |ORDER BY d1, d2""".stripMargin

  // --- MinHash LSH candidate pairs ----------------------------------------

  // 16 permutation hashes h_i(x) = (A[i]*x + B[i]) mod p over a 28-bit
  // md5-derived shingle key; 4 bands of 4 rows. All integer arithmetic —
  // exact on both engines.
  private val As = Array(7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47,
    53, 59, 61, 67)
  private val Bs = Array(3L, 5L, 101L, 211L, 307L, 401L, 503L, 601L, 701L,
    809L, 907L, 1009L, 1103L, 1201L, 1301L, 1409L)
  private val P = 2147483647L

  /** MinHash-LSH near-dup candidates: signature → banded bucket keys →
    * pairs sharing any band. The 16-value signature is computed MAP-SIDE
    * (see `withMinhashSig`): the per-doc shingle set rides as an array
    * column and each component is an array_min fold, so signature
    * construction shuffles NOTHING — the only shuffle left is the
    * band-key self-join on (band, key), never all pairs. Buckets larger
    * than `DfCap` are dropped before the self-join (same guard and same
    * both-dialect HAVING rule as the ngram posting-list cap; the
    * self-join is quadratic in bucket size, so one boilerplate-heavy
    * bucket would otherwise own the job's tail). */
  /** Map-side MinHash signature: adds mh0..mh15 to any frame with a
    * `text` column. The shingle set is computed per row (split →
    * trigram transform → array_distinct — the SAME `shinglesExpr` the
    * inverted index explodes) and each signature component is an
    * array_min fold over it, so the whole signature costs ZERO shuffles.
    * This replaced the 16-parallel-min groupBy over the exploded shingle
    * index (r12): min over the identical distinct set, so values — and
    * every downstream hash — are unchanged (the oracle keeps its
    * explode+MIN formulation as the cross-engine witness), but the
    * shuffle is gone. Docs with fewer than 3 words have no shingles and
    * drop out, exactly as they fall out of the batch index. */
  private[graft] def withMinhashSig(docs: DataFrame): DataFrame = {
    // graft_md5_long ≡ CAST(conv(substring(md5(sh),1,7),16,10) AS BIGINT)
    // (one digest-fold expression; the lambda body is interpreted, so the
    // hex/substring/conv round trips dominated this map stage — r21)
    graft.functions.Md5PrefixLong.register(docs.sparkSession)
    graft.functions.WordNgrams.register(docs.sparkSession)
    val keep = docs.columns.map(col).toSeq
    docs.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .withColumn("shs", expr(s"array_distinct($shinglesExpr)"))
      .withColumn("xs", expr("transform(shs, sh -> graft_md5_long(sh, 7))"))
      .select(keep ++ (0 until 16).map(i =>
        expr(s"array_min(transform(xs, x -> (${As(i)} * x + ${Bs(i)}) % $P))")
          .as(s"mh$i")): _*)
  }

  /** 4-row band keys k0..k3 from the mh0..mh15 signature columns. */
  private[graft] def withBandKeys(sig: DataFrame): DataFrame =
    (0 until 4).foldLeft(sig) { (df, b) =>
      df.withColumn(s"k$b",
        concat_ws(",", (0 until 4).map(r => col(s"mh${4 * b + r}")): _*))
    }

  /** (doc_id, mh0..mh15) MinHash signatures — memoized: feeds both the
    * banded candidate generation and the signature-based Jaccard
    * estimator. */
  private def minhashSig(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, dir, "minhash_sig") {
      withMinhashSig(t(s, dir, "documents").select(col("doc_id"), col("text")))
        .drop("text")
    }

  /** (doc_id, band, key) LSH band relation — memoized like simhash's
    * bands: consumed three times by the candidate query (bucket-size
    * filter + both join sides) and again by the cap-stats diagnostic, and
    * without the cache each consumer re-runs the whole
    * shingle→hash→16-min signature pipeline. */
  private def minhashBands(s: SparkSession, dir: String): DataFrame =
    // banding construction INSIDE the memo thunk (r21): built eagerly,
    // a post-memo invocation still re-analyzed the signature projection
    memoPersist(s, dir, "minhash_bands") {
      withBandKeys(minhashSig(s, dir)).select(col("doc_id"),
        expr("stack(4, 0, k0, 1, k1, 2, k2, 3, k3)").as(Seq("band", "key")))
    }

  val minhashLsh: Q = (s, dir) => {
    val unpivoted = minhashBands(s, dir)
    val small = unpivoted.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= DfCap)
      .select(col("band"), col("key"))
    val l = unpivoted.toDF("d1", "band", "key")
    val r = unpivoted.toDF("d2", "band2", "key2")
    l.join(small, Seq("band", "key"))
      .join(r, col("band") === col("band2") && col("key") === col("key2") &&
        col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Shared oracle CTE chain: shingles → 28-bit keys → 16 permutation
    * hashes → signature → 4-row band keys → capped buckets. */
  private val oMinhashCtes: String = {
    val a = "list_value(7,11,13,17,19,23,29,31,37,41,43,47,53,59,61,67)"
    val b = "list_value(3,5,101,211,307,401,503,601,701,809,907,1009," +
      "1103,1201,1301,1409)"
    s"""$oShingles,
       |hx AS (SELECT doc_id,
       |         CAST(('0x' || substr(md5(sh), 1, 7)) AS BIGINT) AS x
       |       FROM sh),
       |hh AS (SELECT doc_id, i,
       |         ($a[CAST(i + 1 AS INT)] * x + $b[CAST(i + 1 AS INT)]) % $P
       |           AS h
       |       FROM hx, (SELECT unnest(range(0, 16)) AS i)),
       |sig AS (SELECT doc_id, i, MIN(h) AS mh FROM hh GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, CAST(i // 4 AS INT) AS band,
       |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
       |          FROM sig GROUP BY doc_id, CAST(i // 4 AS INT)),
       |small AS (SELECT band, key FROM bands GROUP BY band, key
       |          HAVING COUNT(*) BETWEEN 2 AND $DfCap)""".stripMargin
  }

  /** The candidate-pair SELECT, shared verbatim by the banding query and
    * the estimator's `cand` CTE so the two can never desynchronize. */
  private val oMinhashPairSelect: String =
    """SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |FROM bands a JOIN small s ON a.band = s.band AND a.key = s.key
      |JOIN bands b
      |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"""
      .stripMargin

  val minhashLshSql: String =
    s"""WITH $oMinhashCtes
       |$oMinhashPairSelect
       |ORDER BY d1, d2""".stripMargin

  // --- MinHash Jaccard estimation ------------------------------------------

  /** The estimation half of MinHash (banding above is only the retrieval
    * half): for each capped candidate pair, estimated Jaccard = fraction
    * of the 16 signature components that agree. Signatures are 16-long
    * fixed-width rows, so the pair join ships 128 bytes per side and the
    * comparison is 16 codegen'd equality sums — exact integers, one final
    * division, hash-stable across engines. At 100 TB this is the cheap
    * filter between candidate generation and (expensive) exact
    * verification: pairs below the estimate threshold never touch the
    * documents again. */
  val minhashEstimate: Q = (s, dir) => {
    val pairs = minhashLsh(s, dir).select(col("d1"), col("d2"))
    val sig = minhashSig(s, dir)
    val a = sig.toDF("d1" +: (0 until 16).map(i => s"a$i"): _*)
    val b = sig.toDF("d2" +: (0 until 16).map(i => s"b$i"): _*)
    val nMatch = (0 until 16)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(a, "d1").join(b, "d2")
      .select(col("d1"), col("d2"), nMatch.as("n_match"))
      .withColumn("jaccard_est", col("n_match").cast("double") / 16)
      .orderBy(col("d1"), col("d2"))
  }

  val minhashEstimateSql: String =
    s"""WITH $oMinhashCtes,
       |cand AS (
       |$oMinhashPairSelect),
       |est AS (
       |  SELECT c.d1, c.d2,
       |    CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.d1
       |  JOIN sig sb ON sb.doc_id = c.d2 AND sb.i = sa.i
       |  GROUP BY c.d1, c.d2)
       |SELECT d1, d2, n_match, CAST(n_match AS DOUBLE) / 16 AS jaccard_est
       |FROM est ORDER BY d1, d2""".stripMargin

  // --- SimHash -------------------------------------------------------------

  /** 32-bit SimHash fingerprints over distinct words: per bit, sum +1/-1 by
    * the word-hash bit, then assemble the fingerprint. The 32 bit-sums are
    * 32 parallel conditional-sum aggregates in ONE groupBy(doc_id) — never
    * exploding (doc, word) 32× into per-bit rows. Partial aggregation
    * combines map-side, so the shuffle carries 32 longs per doc; at 100 TB
    * the same shape holds (and the word-distinct shuffle keys on
    * (doc_id, word), never full documents). */
  /** (doc_id, simhash) fingerprints — shared by the fingerprint dump and
    * the banded candidate-pair query. */
  private def simhashFp(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5PrefixLong.register(s)
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
      // ≡ conv(substring(md5(word),1,8),16,10) cast long (digest fold, r21)
      .withColumn("x", expr("graft_md5_long(word, 8)"))
    val sums = words
      .groupBy(col("doc_id"))
      .agg(sum(expr("IF((shiftright(x, 0) & 1) = 1, 1, -1)")).as("sc0"),
        (1 until 32).map(b =>
          sum(expr(s"IF((shiftright(x, $b) & 1) = 1, 1, -1)")).as(s"sc$b")): _*)
    val fingerprint = (0 until 32)
      .map(b => expr(s"IF(sc$b > 0, CAST(${1L << b} AS BIGINT), CAST(0 AS BIGINT))"))
      .reduce(_ + _)
    sums.select(col("doc_id"), fingerprint.cast(LongType).as("simhash"))
  }

  val simhash: Q = (s, dir) =>
    simhashFp(s, dir).orderBy(col("doc_id")).limit(200)

  /** SimHash near-dup candidates, the full production shape: band the
    * 32-bit fingerprint into two 16-bit keys, DROP overfull buckets (the
    * bucket-size cap that bounds the quadratic fan-out — this corpus's
    * tiny vocabulary makes fingerprints cluster heavily, exactly the
    * boilerplate pathology the cap exists for), pair within surviving
    * buckets, then verify by exact hamming distance ≤ 1. */
  /** (doc_id, simhash, band, key) band relation — memoized, shared by the
    * pair query and the recall measurement. */
  private def simhashBands(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, dir, "simhash_bands") {
      simhashFp(s, dir)
        .select(col("doc_id"), col("simhash"),
          expr("stack(2, 0, simhash & 65535, 1," +
            " shiftright(simhash, 16) & 65535)").as(Seq("band", "key")))
    }

  val simhashPairs: Q = (s, dir) => {
    val bands = simhashBands(s, dir)
    val small = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= 20)
      .select(col("band"), col("key"))
    val a = bands.toDF("d1", "h1", "band", "key")
    val b = bands.toDF("d2", "h2", "band2", "key2")
    a.join(small, Seq("band", "key"))
      .join(b, col("band") === col("band2") && col("key") === col("key2") &&
        col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        expr("CAST(bit_count(h1 ^ h2) AS BIGINT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 1)
      .orderBy(col("d1"), col("d2"))
  }

  val simhashSql: String =
    """WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      |           FROM documents),
      |hx AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS x
      |       FROM w),
      |bits AS (SELECT doc_id, b,
      |           SUM(CASE WHEN ((x >> CAST(b AS INT)) & 1) = 1
      |               THEN 1 ELSE -1 END) AS sc
      |         FROM hx, (SELECT unnest(range(0, 32)) AS b)
      |         GROUP BY doc_id, b)
      |SELECT doc_id,
      |  CAST(SUM((CASE WHEN sc > 0 THEN CAST(1 AS BIGINT) ELSE 0 END)
      |       << CAST(b AS INT)) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id LIMIT 200""".stripMargin

  private val oSimhashFp =
    """w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      |           FROM documents),
      |hx AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS x
      |       FROM w),
      |bits AS (SELECT doc_id, b,
      |           SUM(CASE WHEN ((x >> CAST(b AS INT)) & 1) = 1
      |               THEN 1 ELSE -1 END) AS sc
      |         FROM hx, (SELECT unnest(range(0, 32)) AS b)
      |         GROUP BY doc_id, b),
      |fp AS (SELECT doc_id,
      |  CAST(SUM((CASE WHEN sc > 0 THEN CAST(1 AS BIGINT) ELSE 0 END)
      |       << CAST(b AS INT)) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  val simhashPairsSql: String =
    s"""WITH $oSimhashFp,
       |bands AS (
       |  SELECT doc_id, simhash, 0 AS band, simhash & 65535 AS key FROM fp
       |  UNION ALL
       |  SELECT doc_id, simhash, 1, (simhash >> 16) & 65535 FROM fp),
       |small AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    a.simhash AS h1, b.simhash AS h2
       |  FROM bands a JOIN small s ON a.band = s.band AND a.key = s.key
       |  JOIN bands b ON b.band = s.band AND b.key = s.key
       |    AND a.doc_id < b.doc_id)
       |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(h1, h2)) <= 1
       |ORDER BY d1, d2""".stripMargin

  // --- Near-dup clusters (connected components over candidate pairs) -----

  /** Hop bound of the near-dup clusters, shared by the builder and its
    * DuckDB witness so both label the same components. */
  private val ClusterHops = 4

  /** Recursive label-propagation SQL (the DuckDB witness): from a
    * symmetric edge list, push the minimum reachable id up to `maxHops`
    * hops and take each node's minimum — for components of diameter ≤
    * maxHops this IS the connected-component id. Bounded UNION ALL because
    * Spark 4 rejects distinct-UNION recursion; the bound also caps the
    * blow-up on dense components, the same reason production dedup runs
    * fixed label-propagation rounds rather than full transitive closure. */
  private def clusterSql(edges: String, maxHops: Int): String =
    s"""WITH RECURSIVE
       |sym AS (SELECT d1 AS a, d2 AS b FROM $edges
       |        UNION ALL SELECT d2, d1 FROM $edges),
       |nodes AS (SELECT DISTINCT a AS d FROM sym),
       |reach(d, r, lvl) AS (
       |  SELECT d, d, 0 FROM nodes
       |  UNION ALL
       |  SELECT s.b, r.r, r.lvl + 1 FROM reach r JOIN sym s ON s.a = r.d
       |  WHERE r.lvl < $maxHops)
       |SELECT d AS doc_id, MIN(r) AS cluster_id FROM reach
       |GROUP BY d ORDER BY doc_id""".stripMargin

  /** The same labels as `clusterSql` in `rounds` stacked min-label rounds
    * (the Spark builder): round 1 labels each node with the minimum id
    * among itself and its neighbours, and each later round takes the
    * minimum of those labels over the same closed neighbourhood, so after
    * `rounds` rounds a node holds the minimum id within `rounds` hops —
    * the recursion's `MIN(r)` over walks of length ≤ maxHops. Each round
    * reads the previous one once, so the plan grows linearly and runs in
    * fewer jobs than the recursion's per-hop loop (a fresh session at
    * sf0.1: 44 → 21). */
  private def propagateSql(edges: String, rounds: Int): String = {
    val labels = "l1 AS (SELECT b AS d, MIN(a) AS r FROM nbr GROUP BY b)" +:
      (2 to rounds).map(k => s"l$k AS (SELECT n.b AS d, MIN(l.r) AS r" +
        s" FROM l${k - 1} l JOIN nbr n ON n.a = l.d GROUP BY n.b)")
    s"""WITH
       |sym AS (SELECT d1 AS a, d2 AS b FROM $edges
       |        UNION ALL SELECT d2, d1 FROM $edges),
       |nbr AS (SELECT a, b FROM sym
       |        UNION ALL SELECT DISTINCT a, a FROM sym),
       |${labels.mkString(",\n")}
       |SELECT d AS doc_id, r AS cluster_id FROM l$rounds
       |ORDER BY doc_id""".stripMargin
  }

  /** Near-dup clusters: the ngram-Jaccard candidate pairs (the operator
    * verified by p_dedup_ngram) become an edge list; bounded label
    * propagation groups them into components. Survivor selection is then
    * `cluster_id` itself (the minimum doc id). The edge list is tiny
    * relative to the corpus (only near-dup pairs), so the iteration runs
    * on the residue, never the full table. */
  private val edgeViewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The materialized near-dup edge residue, memoized per (session, dir):
    * the propagation below references the edge list once per round, and an
    * unmaterialized view would recompute the full shingle self-join each
    * time (measured 10s → ~2s at sf0.1). At 100 TB the residue is WRITTEN
    * TO STORAGE between the candidate-generation job and the
    * label-propagation rounds, and re-running propagation must not re-run
    * candidate generation. Being materialized also makes its row count a
    * cheap, already-paid-for statistic — `survivors` reads it to decide
    * whether the label side is safely broadcastable. */
  private def edgeResidue(s: SparkSession, dir: String): DataFrame =
    graft.engine.EngineState.of(s).memo(dir, "checkpoint/dedup_edges")(
      ngramJaccard(s, dir).select(col("d1"), col("d2"))
        .localCheckpoint()) // eager: lineage cut to a materialized leaf

  val clusters: Q = (s, dir) => {
    val edges = edgeResidue(s, dir)
    // Per-invocation view name (ADVICE r5): a fixed name would clobber a
    // same-named user view and race under concurrent queries on one
    // session. spark.sql analyzes eagerly, so the view can be dropped as
    // soon as the DataFrame exists.
    val view = s"dedup_edges_${edgeViewSeq.incrementAndGet()}"
    edges.createOrReplaceTempView(view)
    try s.sql(propagateSql(view, ClusterHops))
    finally s.catalog.dropTempView(view)
  }

  val clustersSql: String = {
    val edges =
      s"""$oShingles,
         |n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
         |$oCappedPairs,
         |dedup_edges AS (
         |  SELECT d1, d2 FROM pairs JOIN n na ON na.doc_id = d1
         |  JOIN n nb ON nb.doc_id = d2
         |  WHERE CAST(common AS DOUBLE) / (na.ns + nb.ns - common) >= 0.5)"""
        .stripMargin
    clusterSql("dedup_edges", ClusterHops)
      .replaceFirst("WITH RECURSIVE\n",
        s"WITH RECURSIVE\n$edges,\n")
  }

  // --- Survivor selection (the dedup pipeline's OUTPUT) -------------------

  /** The kept corpus after near-dup clustering: every document whose
    * cluster label IS its own id (the canonical min-id survivor rule) —
    * unclustered documents trivially survive as their own singleton. This
    * is the operator a training pipeline actually materializes: the
    * cluster query's labels become a keep/drop decision in one map-side
    * comparison, and the corpus-sized work is a single broadcast-able
    * LEFT join of doc ids against the tiny near-dup residue — the labels
    * cover ONLY residue members (docs that appear in a near-dup edge),
    * so the null branch is what keeps the untouched majority. */
  /** Edge-count ceiling under which the label side is force-broadcast.
    * Labels cover only residue members (≤ 2 doc ids per edge) at ~16
    * bytes a row, so 4M edges bound the broadcast at ~128 MB — far under
    * Spark's 8 GB broadcast limit and a trivial slice of executor memory,
    * while 100–1000× over any plausible near-dup residue of a deduped
    * corpus sample. */
  private val BroadcastEdgeCap = 4L * 1000 * 1000

  val survivors: Q = (s, dir) => {
    val labels = clusters(s, dir) // (doc_id, cluster_id)
    // Explicit broadcast, GATED on the residue size (VERDICT r6 #2 +
    // ADVICE r7/r8 #1): the residue is tiny by construction and a
    // mis-estimated size at 100× must not demote this to a sort-merge
    // join that shuffles the whole corpus — but on a pathological corpus
    // (near-dup residue = tens of percent of all docs) an UNCONDITIONAL
    // hint would OOM the driver where an unhinted plan degrades
    // gracefully. The gate statistic is the already-materialized edge
    // residue's count (localCheckpointed, so counting it is a scan of
    // cached blocks, not a recompute); labels ≤ 2 rows per edge. Over the
    // cap the hint is dropped and Spark falls back to its own estimate —
    // sort-merge in the worst case, which is slow-but-finishes, the right
    // degradation for a residue that large. PlanSpec gates the
    // BroadcastHashJoin on the (always small-residue) fixture corpus.
    val labelSide =
      if (edgeResidue(s, dir).count() <= BroadcastEdgeCap) broadcast(labels)
      else labels
    t(s, dir, "documents")
      .join(labelSide, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull &&
          col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_kept"))
  }

  val survivorsSql: String = {
    // clustersSql's final SELECT becomes a `labels` CTE (appended to the
    // recursive WITH list) and the outer query scores keep/drop per doc.
    val out = clustersSql.replaceFirst(
      "SELECT d AS doc_id, MIN\\(r\\) AS cluster_id FROM reach\n" +
        "GROUP BY d ORDER BY doc_id",
      ", labels AS (SELECT d AS doc_id, MIN(r) AS cluster_id FROM reach" +
        " GROUP BY d)\n" +
        "SELECT COUNT(*) AS n_docs,\n" +
        "  CAST(SUM(CASE WHEN l.cluster_id IS NOT NULL AND" +
        " l.cluster_id <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT)" +
        " AS n_dropped,\n" +
        "  CAST(SUM(CASE WHEN l.cluster_id IS NULL OR" +
        " l.cluster_id = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)" +
        " AS n_kept\n" +
        "FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id")
    // a silent no-op replace would leave survivorsSql == clustersSql
    // (wrong columns) with no local failure — fail at load instead
    require(out != clustersSql, "survivorsSql patch did not apply")
    out
  }

  // --- DfCap guard: data-exercised fixture + diagnostics ------------------

  /** Planted corpus that makes the DfCap branch FIRE (VERDICT r6 #1: at
    * the test scale factors the real corpus's max shingle df is ~25, so
    * the capped branch of the green runs was design-verified but never
    * data-exercised). Construction: doc ids come from `documents` (the
    * testdata stays the input source); the text plants one shingle at
    * df = DfCap+1 ("edge over cap" in all 51 docs — MUST be dropped) and
    * four at df = DfCap exactly (the pad0/boundary trigrams in the first
    * 50 — MUST be kept, the BETWEEN bound is inclusive). Expected output:
    * C(50,2)=1225 pairs, every common = 4. An off-by-one on EITHER
    * engine's cap bound breaks the hash: lower bound 49 → 0 rows; upper
    * bound 51 → common=5 plus 50 extra pairs via doc 50. */
  private def capFixtureDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id")).orderBy(col("doc_id"))
      .limit(DfCap + 1)
      .withColumn("text", expr(
        s"""CASE WHEN doc_id < $DfCap
           |  THEN concat('edge over cap pad0 boundary at cap u',
           |              CAST(doc_id AS STRING))
           |  ELSE concat('edge over cap u', CAST(doc_id AS STRING)) END"""
          .stripMargin))

  val capFixture: Q = (s, dir) =>
    cappedCommon(shinglesOf(capFixtureDocs(s, dir)))
      .orderBy(col("d1"), col("d2"))

  val capFixtureSql: String =
    s"""WITH fixture AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id < $DfCap
       |      THEN 'edge over cap pad0 boundary at cap u'
       |           || CAST(doc_id AS VARCHAR)
       |      ELSE 'edge over cap u' || CAST(doc_id AS VARCHAR) END AS text
       |  FROM (SELECT doc_id FROM documents ORDER BY doc_id
       |        LIMIT ${DfCap + 1})),
       |${oShinglesFrom("fixture")},
       |$oCappedPairs
       |SELECT d1, d2, common FROM pairs ORDER BY d1, d2""".stripMargin

  /** Cap diagnostics — the numbers a 100 TB dedup operator actually
    * watches (VERDICT r6 next-steps #7): how many shingles / LSH buckets
    * the DfCap guard dropped and the worst observed fan-out. Two tiny
    * full aggregates over already-memoized relations; the one-row ×
    * one-row combine is a broadcast join of single rows. */
  val capStats: Q = (s, dir) => {
    val shStats = shingles(s, dir)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > DfCap, 1L).otherwise(0L))
          .as("n_shingles_dropped"),
        max(col("df")).as("max_shingle_df"))
    val bStats = minhashBands(s, dir)
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("c") > DfCap, 1L).otherwise(0L))
          .as("n_buckets_dropped"),
        max(col("c")).as("max_bucket"))
    shStats.crossJoin(broadcast(bStats))
  }

  val capStatsSql: String =
    s"""WITH $oMinhashCtes,
       |sdf AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
       |bc AS (SELECT band, key, COUNT(*) AS c FROM bands
       |       GROUP BY band, key)
       |SELECT
       |  (SELECT COUNT(*) FROM sdf) AS n_shingles,
       |  (SELECT CAST(COALESCE(SUM(CASE WHEN df > $DfCap THEN 1 ELSE 0
       |     END), 0) AS BIGINT) FROM sdf) AS n_shingles_dropped,
       |  (SELECT MAX(df) FROM sdf) AS max_shingle_df,
       |  (SELECT COUNT(*) FROM bc) AS n_buckets,
       |  (SELECT CAST(COALESCE(SUM(CASE WHEN c > $DfCap THEN 1 ELSE 0
       |     END), 0) AS BIGINT) FROM bc) AS n_buckets_dropped,
       |  (SELECT MAX(c) FROM bc) AS max_bucket""".stripMargin

  // --- MinHash candidate-generation quality (measured, like p_sim_recall) --

  /** The three counts over a recall query's membership flags (t, c):
    * |truth| = Σt, |cand| = Σc, hits = Σ t·c. An empty corpus has no
    * flag rows, and a sum over no rows is NULL, so each count falls back
    * to 0 — the oracle's COUNT(*). */
  private val recallCounts = Seq(
    coalesce(sum(col("t")), lit(0L)).as("n_truth"),
    coalesce(sum(col("c")), lit(0L)).as("n_cand"),
    coalesce(sum(col("t") * col("c")), lit(0L)).as("n_hits"))

  /** n_hits as a share of count column `of`; NULL when that count is 0
    * (an empty corpus has no share, and ANSI mode refuses 0 / 0). */
  private def hitShare(of: String) =
    col("n_hits").cast("double") / nullif(col(of), lit(0L)).cast("double")

  /** Recall AND precision of MinHash-LSH candidate generation, measured
    * against exact trigram-Jaccard ground truth — the dedup twin of the
    * ANN family's `p_sim_recall` discipline: a banding configuration is a
    * shape until its retrieval quality is a number. Ground truth = capped
    * exact-Jaccard pairs ≥ 0.5 (identical rule to `p_dedup_ngram`);
    * retrieved = the banded candidate pairs (identical rule to
    * `p_dedup_minhash`); recall = hit fraction of truth, precision = hit
    * fraction of candidates (the cost side: every false candidate pays an
    * exact verification downstream). All counts are exact integers over
    * shared subtrees — the shingle index and signatures are the memoized
    * intermediates the component queries already use — so the single
    * output row is hash-stable cross-engine. */
  val minhashRecall: Q = (s, dir) => {
    // Truth pairs memoized per (session, dir) — VERDICT r10 #4 / r11 #2:
    // the exact all-pairs trigram-Jaccard truth was the bench's single
    // most expensive recomputation (4.75s/run), and unlike the capped
    // pair RELATION (cheap to stream, expensive to hold — see the r10
    // note above ngramJaccard) the FILTERED truth set is tiny (tens of
    // rows), so persisting it follows the recall-harness discipline of
    // `Similarity.recallHarness` (memoPersist of its pair set): compute
    // ground truth once per evaluation session, replay it per variant.
    val truth = memoPersist(s, dir, "minhash_truth_pairs") {
      val sh = shingles(s, dir)
      val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
      cappedCommon(sh)
        .join(n.toDF("d1", "n1"), "d1")
        .join(n.toDF("d2", "n2"), "d2")
        .filter(col("common").cast("double") /
          (col("n1") + col("n2") - col("common")) >= 0.5)
        .select(col("d1"), col("d2"))
    }
    val cand = minhashLsh(s, dir).select(col("d1"), col("d2"))
    // ONE union + membership-flag aggregate (r22, guide §2.3/§2.4 — was
    // a hits join + three separate count aggregates, each re-evaluating
    // its subtree): both sides are DISTINCT pair sets (truth by its ≥0.5
    // filter over the capped pairs, cand by minhashLsh's .distinct()),
    // so per-pair max-flags make |truth| = Σt, |cand| = Σc and the
    // intersection = Σ t·c — identical integers, identical divisions.
    val flags = truth
      .select(col("d1"), col("d2"), lit(1L).as("t"), lit(0L).as("c"))
      .unionAll(cand
        .select(col("d1"), col("d2"), lit(0L).as("t"), lit(1L).as("c")))
      .groupBy(col("d1"), col("d2"))
      .agg(max(col("t")).as("t"), max(col("c")).as("c"))
    flags.agg(recallCounts.head, recallCounts.tail: _*)
      .select(col("n_truth"), col("n_cand"), col("n_hits"),
        hitShare("n_truth").as("recall"), hitShare("n_cand").as("precision"))
  }

  val minhashRecallSql: String =
    s"""WITH $oMinhashCtes,
       |n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
       |$oCappedPairs,
       |truth AS (
       |  SELECT d1, d2 FROM pairs
       |  JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
       |  WHERE CAST(common AS DOUBLE) / (na.ns + nb.ns - common) >= 0.5),
       |cand AS (
       |$oMinhashPairSelect),
       |h AS (SELECT COUNT(*) AS n_hits FROM truth t
       |      JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
       |nc AS (SELECT COUNT(*) AS n_cand FROM cand)
       |SELECT nt.n_truth, nc.n_cand, h.n_hits,
       |  CAST(h.n_hits AS DOUBLE) / CAST(nt.n_truth AS DOUBLE) AS recall,
       |  CAST(h.n_hits AS DOUBLE) / CAST(nc.n_cand AS DOUBLE) AS precision
       |FROM nt, nc, h""".stripMargin

  /** Recall of SimHash banded candidate generation vs the exact
    * hamming ≤ 1 truth over the 20-doc query sample — completing the
    * measured-quality triple (ANN `p_sim_recall`, MinHash
    * `p_dedup_minhash_recall`, SimHash here). The interesting property:
    * a 1-bit flip can change only ONE of the two 16-bit bands, so banding
    * alone recalls EVERY hamming ≤ 1 pair — the only recall loss is the
    * bucket-size cap, which this corpus's tiny vocabulary (heavily
    * clustered fingerprints, the exact pathology the cap exists for)
    * makes bite. The measured number is therefore the CAP'S recall cost,
    * isolated — the tradeoff a user tunes bucket caps against. */
  val simhashRecall: Q = (s, dir) => {
    val fp = simhashFp(s, dir)
    val bands = simhashBands(s, dir)
    val small = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= 20)
      .select(col("band"), col("key"))
    val q = fp.filter(col("doc_id") < 20).toDF("qid", "qfp")
    // Same truth-set memoization as minhashRecall: the exact hamming<=1
    // ground truth (a corpus x 20-query broadcast pass over freshly
    // recomputed fingerprints) is paid once per (session, dir); the set
    // itself is a handful of (qid, doc_id) rows.
    val truth = memoPersist(s, dir, "simhash_truth_pairs") {
      fp.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("qid") &&
          expr("bit_count(simhash ^ qfp) <= 1"))
        .select(col("qid"), col("doc_id"))
    }
    val db = bands.join(small, Seq("band", "key"))
      .select(col("doc_id").as("d"), col("band"), col("key"))
    val qb = bands.filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("band").as("qband"),
        col("key").as("qkey"))
    val cand = db.join(broadcast(qb),
        col("band") === col("qband") && col("key") === col("qkey") &&
          col("d") =!= col("qid"))
      .select(col("qid"), col("d").as("doc_id")).distinct()
    // ONE union + membership-flag aggregate, as in minhashRecall (r22):
    // both sides are distinct (qid, doc_id) sets, so Σt / Σc / Σ t·c are
    // the three counts the former join + three aggregates computed.
    val flags = truth
      .select(col("qid"), col("doc_id"), lit(1L).as("t"), lit(0L).as("c"))
      .unionAll(cand
        .select(col("qid"), col("doc_id"), lit(0L).as("t"), lit(1L).as("c")))
      .groupBy(col("qid"), col("doc_id"))
      .agg(max(col("t")).as("t"), max(col("c")).as("c"))
    flags.agg(recallCounts.head, recallCounts.tail: _*)
      .select(col("n_truth"), col("n_cand"), col("n_hits"),
        hitShare("n_truth").as("recall"))
  }

  val simhashRecallSql: String =
    s"""WITH $oSimhashFp,
       |bands AS (
       |  SELECT doc_id, simhash, 0 AS band, simhash & 65535 AS key FROM fp
       |  UNION ALL
       |  SELECT doc_id, simhash, 1, (simhash >> 16) & 65535 FROM fp),
       |small AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |q AS (SELECT doc_id AS qid, simhash AS qfp FROM fp
       |      WHERE doc_id < 20),
       |truth AS (
       |  SELECT q.qid, f.doc_id FROM fp f, q
       |  WHERE f.doc_id <> q.qid
       |    AND bit_count(xor(f.simhash, q.qfp)) <= 1),
       |db AS (SELECT b.doc_id AS d, b.band, b.key
       |       FROM bands b JOIN small s ON b.band = s.band
       |         AND b.key = s.key),
       |qb AS (SELECT doc_id AS qid, band, key FROM bands
       |       WHERE doc_id < 20),
       |cand AS (SELECT DISTINCT qb.qid, db.d AS doc_id
       |         FROM db JOIN qb ON db.band = qb.band AND db.key = qb.key
       |           AND db.d <> qb.qid),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
       |nc AS (SELECT COUNT(*) AS n_cand FROM cand),
       |h AS (SELECT COUNT(*) AS n_hits FROM truth t JOIN cand c
       |      ON t.qid = c.qid AND t.doc_id = c.doc_id)
       |SELECT nt.n_truth, nc.n_cand, h.n_hits,
       |  CAST(h.n_hits AS DOUBLE) / CAST(nt.n_truth AS DOUBLE) AS recall
       |FROM nt, nc, h""".stripMargin

  // --- Incremental dedup: probing history, not re-deduping the world ------

  /** The daily-batch admission shape: a production corpus is not re-deduped
    * from scratch per ingest — the new slice is probed against the
    * PERSISTED band index of everything already admitted. Here history =
    * docs with doc_id % 4 != 0 (the at-rest corpus, whose band relation is
    * the memoized `minhashBands` — the index an ingest pipeline keeps on
    * disk), incoming = the % 4 == 0 slice. Each incoming doc's 4 band keys
    * probe the capped history buckets; output per colliding newcomer: the
    * earliest colliding history doc (its dedup representative) and how
    * many distinct history docs it collides with. At 100 TB the economics
    * are the point: cost scales with |incoming| × bucket size, never
    * |history|² — the incoming side is the small join side (broadcast or
    * a (band, key) shuffle of the slice only), and the `DfCap` bucket cap
    * bounds the one hot boilerplate bucket exactly as in the batch
    * self-join. History buckets of size 1 ARE valid probe targets (the
    * batch pair-cap's `>= 2` floor exists only because a pair needs two
    * docs on one side), so the cap here is `<= DfCap` alone. */
  val incremental: Q = (s, dir) => {
    val bands = minhashBands(s, dir)
    val hist = bands.filter(col("doc_id") % 4 =!= 0)
      .toDF("hist_id", "band", "key")
    val inc = bands.filter(col("doc_id") % 4 === 0)
      .toDF("new_id", "band", "key")
    val ok = hist.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") <= DfCap)
      .select(col("band"), col("key"))
    inc.join(hist.join(ok, Seq("band", "key")), Seq("band", "key"))
      .groupBy(col("new_id"))
      .agg(min(col("hist_id")).as("first_dup"),
        countDistinct(col("hist_id")).as("n_dups"))
      .orderBy(col("new_id"))
  }

  val incrementalSql: String =
    s"""WITH $oMinhashCtes,
       |hist AS (SELECT doc_id AS hist_id, band, key FROM bands
       |         WHERE doc_id % 4 <> 0),
       |inc AS (SELECT doc_id AS new_id, band, key FROM bands
       |        WHERE doc_id % 4 = 0),
       |okh AS (SELECT band, key FROM hist GROUP BY band, key
       |        HAVING COUNT(*) <= $DfCap)
       |SELECT new_id, MIN(hist_id) AS first_dup,
       |  CAST(COUNT(DISTINCT hist_id) AS BIGINT) AS n_dups
       |FROM inc
       |JOIN okh USING (band, key)
       |JOIN hist USING (band, key)
       |GROUP BY new_id
       |ORDER BY new_id""".stripMargin

  // --- Winnowing: cross-doc SHARED-PASSAGE detection (round 15) -----------
  //
  // The substring-level member of the dedup family (the others are all
  // doc-level): exact repeated PASSAGES across documents — boilerplate,
  // quotations, template text — located by POSITION, the "exact substring
  // dedup" a training pipeline runs next to doc-level near-dup. Method =
  // winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the MOSS
  // fingerprinter): per document, hash every word-trigram, slide a window
  // of W consecutive hashes, and SELECT each window's minimum (leftmost on
  // ties — `array_position`/`list_position` both take the first match).
  // The winnowing guarantee: any shared run of >= W+2 words shares at
  // least one SELECTED fingerprint, while only ~2/(W+1) of positions are
  // selected — the index stores a fraction of the corpus. Candidates join
  // on the 32-bit fingerprint through the same DfCap-bounded inverted
  // index as the shingle path (>= 2 docs to be a candidate), then VERIFY
  // by comparing the actual trigram text (killing 32-bit collisions), and
  // pairs report their distinct shared-fingerprint count plus the
  // lexicographically first shared passage as a witness. At 100 TB:
  // selected fingerprints shuffle (never documents), buckets are capped,
  // verification touches only colliding trigram strings.
  private val WinnowW = 4

  /** Winnowing-selected positional fingerprints: (doc_id, p, h, tg) —
    * word position, 32-bit md5-derived hash, and the trigram text for
    * verification. `maxDoc` scopes the corpus (`Some(500)` for the sliced
    * declared query; `None` for the full-corpus measurement leg).
    *
    * The (tgs, hs) frame is PINNED behind an eager localCheckpoint before
    * the window selection: `sel` references hs TWICE PER WINDOW, and
    * Catalyst's project collapsing would otherwise inline the whole
    * split → trigram → md5 chain into every reference — higher-order
    * lambdas are interpreted (no codegen CSE across lambda boundaries),
    * so the inlined chain re-evaluates per window and the per-row cost
    * goes quadratic (measured: minutes per run). Against the checkpoint,
    * hs is a leaf ATTRIBUTE and each window slice is an O(W) array read.
    * Memoized per (session, dir) like the other dedup intermediates. */
  private def winnowSelected(s: SparkSession, dir: String,
      maxDoc: Option[Long]): DataFrame = {
    // r18 (VERDICT r17 #8): the SELECTED-fingerprint index memoizes too,
    // not only the (tgs, hs) base — the window selection + explode was
    // re-run on every execution and made `p_dedup_winnow_full` the
    // inventory's most expensive leg. The memo is the at-rest
    // fingerprint INDEX a real pipeline stores once; the measurement
    // stays honest because the bench re-measures the genuine build in
    // its builds section (`Builds.timedBuilds` drops these memo keys and
    // re-runs the construction → `winnow_index_build` in builds_total).
    val selKey = maxDoc.fold("winnow_sel_full")(m => s"winnow_sel_$m")
    memoPersist(s, dir, selKey) {
      val key = maxDoc.fold("winnow_base_full")(m => s"winnow_base_$m")
      val base = memoPersist(s, dir, key) {
        graft.functions.Md5PrefixLong.register(s)
        graft.functions.WordNgrams.register(s)
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        maxDoc.fold(docs)(m => docs.filter(col("doc_id") < m))
          .withColumn("ws", split(col("text"), " "))
          .filter(size(col("ws")) >= WinnowW + 2)
          .withColumn("tgs", expr(shinglesExpr))
          // ≡ conv(substring(md5(t),1,8),16,10) cast long (digest fold, r21)
          .withColumn("hs",
            expr("transform(tgs, t -> graft_md5_long(t, 8))"))
          .select(col("doc_id"), col("tgs"), col("hs"))
          .localCheckpoint()
      }
      base
        .withColumn("sel", expr(
          s"""array_distinct(transform(sequence(0, size(hs) - $WinnowW), j ->
             |  j + array_position(slice(hs, j + 1, $WinnowW),
             |        array_min(slice(hs, j + 1, $WinnowW)))))""".stripMargin))
        .select(col("doc_id"), col("tgs"), col("hs"),
          explode(col("sel")).as("p"))
        .select(col("doc_id"), col("p"),
          expr("element_at(hs, CAST(p AS INT))").as("h"),
          expr("element_at(tgs, CAST(p AS INT))").as("tg"))
    }
  }

  /** Force-build the full-corpus winnowing fingerprint index (the memo
    * behind `p_dedup_winnow_full`) — the bench's amortized-build hook:
    * `Builds.timedBuilds` drops the memo keys and times this. */
  def buildWinnowIndex(s: SparkSession, dir: String): Long =
    winnowSelected(s, dir, None).count()

  /** Shared pair-detection tail over a selected-fingerprint relation.
    *
    * SHAPE KEPT after a measured r22 attempt to fuse it (VERDICT r21
    * #8): collecting each fingerprint's distinct (doc, tg) postings +
    * frequency in one cap-bounded object aggregate (the cappedCommon
    * pattern) cut the plan from 5 exchanges + 2 broadcasts to 3
    * exchanges — and ran ~1.8× SLOWER at sf0.1 (warm 1.07 s → 1.8–2.3 s):
    * a TypedImperativeAggregate over ~10⁵ fingerprint groups pays
    * ObjectHashAggregate's 128-key sort-based fallback plus a per-group
    * set-buffer allocation, which loses to this whole-stage-codegen
    * countDistinct pre-aggregate + two BROADCAST joins (the index passes
    * it "saves" are map-side over the memoized in-memory relation).
    * The ngram fusion won because collect_list was ALREADY object-agg
    * there; here the fusion would introduce it. Reverted on the §1.6
    * re-measure. */
  private def winnowPairs(sel: DataFrame): DataFrame = {
    val ok = sel.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= DfCap)
      .select(col("h"))
    val a = sel.toDF("doc_a", "pa", "h", "tg_a")
    val b = sel.toDF("doc_b", "pb", "h", "tg_b")
    a.join(ok, Seq("h"))
      .join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b") && col("tg_a") === col("tg_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("h")).as("n_shared"),
        min(col("tg_a")).as("passage"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnow: Q = (s, dir) =>
    winnowPairs(winnowSelected(s, dir, Some(500L)))

  /** Full-corpus winnowing (VERDICT r15 #6): the same pipeline with the
    * corpus slice lifted, so the bench MEASURES the substring-dedup leg's
    * full cost at sf0.1 (5,000 docs) each round instead of asserting its
    * scale story from a 500-doc slice. At sf0.01 the documents table has
    * exactly 500 rows, so this is hash-identical to `p_dedup_winnow`
    * there — the oracle is the sliced oracle minus its WHERE clause. */
  val winnowFull: Q = (s, dir) =>
    winnowPairs(winnowSelected(s, dir, None))

  private def winnowSqlFor(whereClause: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  $whereClause),
       |d2 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= ${WinnowW + 2}),
       |tg AS (SELECT doc_id,
       |  list_transform(range(1, len(ws) - 1), i ->
       |    ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] || ' ' ||
       |    ws[CAST(i + 2 AS INT)]) AS tgs
       |  FROM d2),
       |hh AS (SELECT doc_id, tgs,
       |  list_transform(tgs, t ->
       |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs
       |  FROM tg),
       |selp AS (SELECT doc_id, tgs, hs,
       |  list_distinct(list_transform(range(0, len(hs) - $WinnowW + 1),
       |    j -> j + list_position(
       |      hs[CAST(j + 1 AS INT):CAST(j + $WinnowW AS INT)],
       |      list_min(hs[CAST(j + 1 AS INT):CAST(j + $WinnowW AS INT)]))))
       |    AS sel
       |  FROM hh),
       |sp AS (SELECT doc_id, tgs, hs, unnest(sel) AS p FROM selp),
       |s AS (SELECT doc_id, p,
       |        hs[CAST(p AS INT)] AS h, tgs[CAST(p AS INT)] AS tg
       |      FROM sp),
       |ok AS (SELECT h FROM s GROUP BY h
       |       HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $DfCap),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h, a.tg
       |       FROM s a JOIN ok USING (h) JOIN s b ON b.h = a.h
       |       WHERE a.doc_id < b.doc_id AND a.tg = b.tg)
       |SELECT doc_a, doc_b,
       |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shared,
       |  MIN(tg) AS passage
       |FROM pr GROUP BY doc_a, doc_b
       |HAVING COUNT(DISTINCT h) >= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  val winnowSql: String = winnowSqlFor("WHERE doc_id < 500")
  val winnowFullSql: String = winnowSqlFor("WHERE TRUE")

  // --- Benchmark decontamination (round 18) -------------------------------
  //
  // The training-pipeline step the rest of the dedup family doesn't
  // cover: before training, corpus documents that overlap an EVALUATION
  // benchmark must be flagged (verbatim leakage inflates benchmark
  // scores — the GPT-3 appendix / Pile decontamination discipline of
  // n-gram collision checks). Here the eval set is a deterministic
  // stand-in (doc_id % 7 == 0, the role a benchmark file plays), the
  // window is word 5-grams, and a corpus document is CONTAMINATED when
  // it shares >= 1 distinct 5-gram with any eval document; the report
  // carries the collision count and the smallest offending eval doc.
  //
  // Scale shape (the point): benchmarks are THOUSANDS of documents
  // while the corpus is billions, so the eval n-gram set is the small
  // side by construction — it aggregates once (small shuffle) and
  // BROADCASTS; the corpus explodes per-doc-distinct 5-grams MAP-SIDE
  // (array_distinct before explode — no corpus-wide distinct shuffle)
  // into a broadcast-hash join, and the only corpus exchange is the
  // final per-doc count with map-side partial aggregation. The corpus
  // never shuffles by n-gram.
  // ≡ transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))
  // (native flat loop, no slice alloc per window — r22, see shinglesExpr)
  private val ngram5Expr = "graft_word_ngrams(ws, 5)"

  private def gram5(docs: DataFrame): DataFrame = {
    graft.functions.WordNgrams.register(docs.sparkSession)
    docs.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"),
        explode(expr(s"array_distinct($ngram5Expr)")).as("g"))
  }

  /** The eval side's (g, eval_doc) n-gram relation — small by nature
    * (benchmarks are thousands of docs), the broadcast build side. */
  private def evalGramsOf(evalDocs: DataFrame): DataFrame =
    gram5(evalDocs).groupBy(col("g"))
      .agg(min(col("doc_id")).as("eval_doc"))

  /** Contamination flags of `docs` against a prepared eval n-gram
    * relation: (doc_id, n_hits, eval_doc). */
  private def contaminatedAgainst(
      docs: DataFrame, evalGrams: DataFrame): DataFrame =
    gram5(docs.select(col("doc_id"), col("text")))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("eval_doc")).as("eval_doc"))

  val decontaminate: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    contaminatedAgainst(docs.filter(col("doc_id") % 7 =!= 0),
      evalGramsOf(docs.filter(col("doc_id") % 7 === 0)))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(ws) - 3), i ->
      |      array_to_string(list_slice(ws, i, i + 4), ' ')))) AS g
      |  FROM w WHERE len(ws) >= 5),
      |e AS (
      |  SELECT g, MIN(doc_id) AS eval_doc FROM g
      |  WHERE doc_id % 7 = 0 GROUP BY g)
      |SELECT c.doc_id, COUNT(*) AS n_hits, MIN(e.eval_doc) AS eval_doc
      |FROM g c JOIN e USING (g)
      |WHERE c.doc_id % 7 <> 0
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "p_decontaminate" -> decontaminate,
    "p_dedup_incremental" -> incremental,
    "p_dedup_winnow" -> winnow,
    "p_dedup_winnow_full" -> winnowFull,
    "p_dedup_exact" -> q(exactSql),
    "p_dedup_minhash_recall" -> minhashRecall,
    "p_dedup_simhash_recall" -> simhashRecall,
    "p_dedup_ngram" -> ngramJaccard,
    "p_dedup_minhash" -> minhashLsh,
    "p_dedup_minhash_est" -> minhashEstimate,
    "p_dedup_simhash" -> simhash,
    "p_dedup_simhash_pairs" -> simhashPairs,
    "p_dedup_clusters" -> clusters,
    "p_dedup_survivors" -> survivors,
    "p_dedup_cap_fixture" -> capFixture,
    "p_dedup_cap_stats" -> capStats)

  val oracle: Map[String, String] = Map(
    "p_decontaminate" -> decontaminateSql,
    "p_dedup_incremental" -> incrementalSql,
    "p_dedup_winnow" -> winnowSql,
    "p_dedup_winnow_full" -> winnowFullSql,
    "p_dedup_exact" -> exactSql,
    "p_dedup_minhash_recall" -> minhashRecallSql,
    "p_dedup_simhash_recall" -> simhashRecallSql,
    "p_dedup_ngram" -> ngramJaccardSql,
    "p_dedup_minhash" -> minhashLshSql,
    "p_dedup_minhash_est" -> minhashEstimateSql,
    "p_dedup_simhash" -> simhashSql,
    "p_dedup_simhash_pairs" -> simhashPairsSql,
    "p_dedup_clusters" -> clustersSql,
    "p_dedup_survivors" -> survivorsSql,
    "p_dedup_cap_fixture" -> capFixtureSql,
    "p_dedup_cap_stats" -> capStatsSql)
}
