package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** BPE tokenizer artifact (round 16): the merges table trains, persists,
  * loads, and applies coherently, and the packing re-cut stays consistent
  * with the tokenized vocabulary. The cross-engine value checks live in
  * the declared queries' DuckDB oracles; these tests pin the INTERNAL
  * invariants the oracle can't see (artifact shape, train≡apply, token
  * accounting closure). */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("merges artifact: N rank-ordered in-alphabet pairs, stable reload") {
    val ms = Bpe.merges(spark, dir)
    assert(ms.size === 12)
    assert(ms.map(_._1) === (1L to 12L), "ranks must be 1..N in order")
    ms.foreach { case (_, a, b) =>
      assert(a.matches("[a-z0-9]+") && b.matches("[a-z0-9]+"),
        s"symbols ($a, $b) left the corpus alphabet")
    }
    // merged symbols chain: every pair's parts are chars or earlier merges
    val known = scala.collection.mutable.Set[String]()
    ms.foreach { case (_, a, b) =>
      assert(a.length == 1 || known.contains(a),
        s"left symbol '$a' is neither a char nor an earlier merge")
      assert(b.length == 1 || known.contains(b),
        s"right symbol '$b' is neither a char nor an earlier merge")
      known += (a + b)
    }
  }

  test("tokenization: every word reassembles and strictly compresses") {
    val rows = Bpe.tokenizeBpe(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (word, nTok, toks) =
        (r.getString(0), r.getLong(2), r.getString(3))
      assert(toks.replace(" ", "") === word,
        s"tokens of '$word' do not concatenate back")
      assert(nTok >= 1 && nTok <= word.length.toLong)
      assert(toks.split(" ").length.toLong === nTok)
    }
    // 12 merges on a 31-word vocab must actually bite: at least one word
    // tokenizes to fewer tokens than characters
    assert(rows.exists(r => r.getLong(2) < r.getString(0).length.toLong),
      "no word compressed — the merges were not applied")
  }

  test("packing closure: binned token sums equal the vocab-weighted total") {
    // sum of n_tokens over all bins == sum over vocab of freq * n_tok —
    // the token accounting must close end-to-end (explode → broadcast
    // join → per-doc sum → pack window loses or double-counts nothing)
    val packed = Bpe.packSequencesBpe(spark, dir).collect()
      .map(_.getLong(3)).sum
    val vocabTotal = Bpe.tokenizeBpe(spark, dir).collect()
      .map(r => r.getLong(1) * r.getLong(2)).sum
    assert(packed === vocabTotal,
      s"packed $packed tokens but the vocabulary weighs $vocabTotal")
  }
}
