package graft.queries

import org.apache.spark.sql.SparkSession

/** Artifact-BUILD cost legs for the bench (VERDICT r14 #3): the ANN and
  * layout READ queries are fast precisely because codebook training and
  * layout writes happen once, OUTSIDE the timed query — so the bench's
  * 100 TB story must carry that amortized cost explicitly, not hide it.
  * Each leg drops the builder's memo key and re-runs the real build
  * against the same tmp path (mode overwrite): the measured time is the
  * genuine train/write job at the bench scale factor. The trainers are
  * deterministic, so the rebuilt artifacts are value-identical and every
  * later read in the same JVM stays correct (the loaded-model memos keep
  * serving the same values). Bench invokes this AFTER the timed query
  * set, so rebuilds never pollute per-query timings.
  */
object Builds {

  /** (leg name, seconds) per build; a failed leg reports -1 (the bench
    * sentinel) rather than poisoning the others. */
  def timedBuilds(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def leg(name: String, memos: String*)(
        body: => Unit): (String, Double) = {
      memos.foreach(graft.engine.EngineState.of(s).dropMemo(dir, _))
      val t0 = System.nanoTime()
      try { body; (name, (System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] build $name failed: ${e.getMessage}")
          (name, -1.0)
      }
    }
    Seq(
      // two converged Lloyd passes over the corpus → ≤16-row artifact
      leg("codebook_train", "layout/codebook") {
        Similarity.trainedCodebookPath(s, dir); ()
      },
      // per-subspace residual k-means (2 passes) → ≤128-row artifact
      leg("pq_train", "layout/pq_codebook") {
        Similarity.pqCodebookPath(s, dir); ()
      },
      // one encode pass + centroid-partitioned codes-at-rest write
      leg("ivfpq_layout_write", "layout/ivfpq_emb") {
        Similarity.buildIvfpqLayout(s, dir); ()
      },
      // N BPE merge rounds over the corpus vocabulary → N-row artifact
      leg("bpe_train", "layout/bpe_merges") {
        Bpe.mergesPath(s, dir); ()
      },
      // range-sort rewrite of orders (the c_sort_skip layout)
      leg("sorted_write", "layout/sorted_orders") {
        Layout.sortedOrders(s, dir); ()
      },
      // Morton-interleave rewrite of lineitem (the c_zorder_skip layout)
      leg("zorder_write", "layout/zorder_li") {
        Layout.zorderLineitem(s, dir); ()
      },
      // full-corpus winnowing fingerprint index (r18: the memo behind
      // p_dedup_winnow_full — the read leg stays cheap because this
      // build is amortized, so the bench measures the build here)
      leg("winnow_index_build",
          "persist/winnow_sel_full", "persist/winnow_base_full") {
        Dedup.buildWinnowIndex(s, dir); ()
      })
  }
}
