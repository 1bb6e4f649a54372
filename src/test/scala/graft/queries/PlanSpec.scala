package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale-sensitive properties VERDICT r3
  * called out: parquet pushdown of template filters (incl. the t5/t6
  * NULLIF predicates, which `NullifPushdown` rewrites) and broadcast of the
  * small join side. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // formatted mode prints PushedFilters un-truncated
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    graft.engine.Engine.explain(df)

  test("t5/t6: the <> filters push down to the parquet scan as NotEq") {
    val p5 = planOf(graft.SparkEntry.queries("t5_savings_plans")(spark, dir))
    assert(p5.contains("PushedFilters"))
    assert(p5.contains("Not(EqualTo(l_linestatus,F))"),
      s"t5 should push Not(EqualTo(l_linestatus,F)):\n$p5")
    val p6 = planOf(graft.SparkEntry.queries("t6_reserved_instances")(spark, dir))
    assert(p6.contains("Not(EqualTo(l_returnflag,N))"))
  }

  test("t1: date range filter pushes down") {
    val p = planOf(graft.SparkEntry.queries("t1_account_summary")(spark, dir))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("c_join_inner: customer dim joins via broadcast") {
    val p = planOf(TierC.joinInner(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("templates read only the referenced columns (pruning)") {
    val p = planOf(graft.SparkEntry.queries("t3_monthly_summary")(spark, dir))
    // ReadSchema should mention the 3 used columns and not the rest
    assert(p.contains("l_shipdate") && p.contains("l_extendedprice"))
    assert(!p.contains("l_partkey"), "t3 must not read l_partkey")
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val p = planOf(TierCSql.queries("c_sql_select")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c_sql_read_fn: the table-function view prunes columns and top-ks") {
    // the routed read_parquet([...]) call must behave like any scan:
    // the 4 selected columns reach ReadSchema, nothing else is read,
    // and ORDER BY + LIMIT plans as TakeOrderedAndProject
    val p = planOf(TierCSql.queries("c_sql_read_fn")(spark, dir))
    assert(p.contains("l_extendedprice") && p.contains("l_returnflag"), p)
    assert(!p.contains("l_partkey"),
      s"read_parquet view must not read unreferenced columns:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c_sql_columns: the COLUMNS desugar prunes to the matched set") {
    val p = planOf(TierCSql.queries("c_sql_columns")(spark, dir))
    assert(p.contains("l_extendedprice") && p.contains("l_tax"), p)
    assert(!p.contains("l_discount"),
      s"COLUMNS('regex') must prune unmatched columns from the scan:\n$p")
  }

  test("c_join_theta: non-equi join broadcasts the constant band dim") {
    val p = planOf(TierC.joinTheta(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c_join_asof: one window pass, one scan, no join operator") {
    val p = planOf(TierC.joinAsof(spark, dir))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    // simple mode prints each node once (formatted repeats them in details)
    val tree = graft.engine.Engine.explain(TierC.joinAsof(spark, dir), "simple")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"as-of must read events once, saw $scans scans:\n$tree")
  }

  test("c_pivot: explicit value list keeps it to one scan + one aggregate") {
    val tree = graft.engine.Engine.explain(TierC.pivot_(spark, dir), "simple")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"pivot must not add a distinct-discovery scan:\n$tree")
  }

  test("c_join_range: band predicate is a residual on the equi join") {
    val p = planOf(graft.SparkEntry.queries("c_join_range")(spark, dir))
    assert(p.contains("Join") || p.contains("join"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"equi+range must not degrade to a nested loop:\n$p")
  }

  test("fleet-wide: no declared query plans a CartesianProduct") {
    // Cross joins against broadcast one-row/constant frames plan as
    // BroadcastNestedLoopJoin (bounded build side — fine); an actual
    // CartesianProduct in any declared query is an O(N^2) scale bug.
    val offenders = graft.SparkEntry.queries.toSeq
      .filterNot(_._1.startsWith("probe_"))
      .flatMap { case (name, fn) =>
        val plan =
          try graft.engine.Engine.explain(fn(spark, dir), "simple")
          catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
        if (plan.contains("CartesianProduct") || plan.startsWith("PLANNING"))
          Some(name -> plan.linesIterator.take(3).mkString(" | "))
        else None
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("p_sim_ivf: centroid assignment is map-side — no shuffle, no window") {
    // The codebook is inlined into the assignment expression, so the whole
    // query is scan → project → filter → top-k: any Exchange or Window
    // before the probe filter means assignment regressed to a shuffle
    // (VERDICT r5 #3 — the crossJoin+row_number shape this replaced).
    val tree = graft.engine.Engine.explain(
      Similarity.ivfFlat(spark, dir), "simple")
    assert(!tree.contains("Window"), s"ivf assignment must not window:\n$tree")
    assert(!tree.contains("Exchange"),
      s"ivf assignment must not shuffle:\n$tree")
    assert(tree.contains("TakeOrderedAndProject"), tree)
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"ivf must scan embeddings once, saw $scans:\n$tree")
  }

  test("c_window_range_bucketed: no window operator — equi join on bucket") {
    // The scalable twin must not fall back to the single-task
    // unpartitioned window it replaces; the range predicate rides an
    // equi join keyed on the bucket id.
    val tree = graft.engine.Engine.explain(
      TierC.windowRangeBucketed(spark, dir), "simple")
    assert(!tree.contains("Window"), s"bucketed twin must not window:\n$tree")
    assert(tree.contains("Join"), tree)
  }

  test("c_funnel: one events scan, windows share one user_id partition") {
    val tree = graft.engine.Engine.explain(
      graft.SparkEntry.queries("c_funnel")(spark, dir), "simple")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"funnel must scan events once, saw $scans:\n$tree")
    // the three chained stage windows must reuse ONE user_id exchange,
    // not shuffle per stage
    val userShuffles = "hashpartitioning\\(user_id".r.findAllIn(tree).size
    assert(userShuffles <= 1,
      s"funnel must not shuffle per stage ($userShuffles user_id exchanges):\n$tree")
  }

  test("p_dedup_survivors: label residue broadcasts, corpus unshuffled") {
    // The corpus-sized LEFT join must build on the tiny label residue
    // (VERDICT r6 #2): a mis-estimated residue at 100× must not demote
    // this to a sort-merge join that shuffles every document.
    val tree = graft.engine.Engine.explain(Dedup.survivors(spark, dir), "simple")
    assert(tree.contains("BroadcastHashJoin"), tree)
    val smjLeft = tree.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("LeftOuter"))
    assert(!smjLeft, s"survivors must not sort-merge the corpus:\n$tree")
  }

  test("p_decontaminate: eval n-grams broadcast, corpus never shuffles by gram") {
    // benchmarks are thousands of docs against a corpus of billions —
    // the eval n-gram set must be the BUILD side of a broadcast join,
    // and the corpus side's only exchange is the final per-doc count
    // (a sort-merge join here would shuffle every corpus n-gram)
    val tree = graft.engine.Engine.explain(
      Dedup.decontaminate(spark, dir), "simple")
    assert(tree.contains("BroadcastHashJoin"), tree)
    assert(!tree.contains("SortMergeJoin"),
      s"decontaminate must not shuffle corpus n-grams:\n$tree")
  }

  test("minhash signature computes map-side: no aggregate, no exchange") {
    // withMinhashSig (r12) replaced the 16-parallel-min groupBy over the
    // exploded shingle index: the signature must plan as a single scan +
    // projection of array folds, so any Exchange or (Hash)Aggregate in
    // its subtree means signature construction regressed to a shuffle.
    import org.apache.spark.sql.functions.col
    val sig = Dedup.withMinhashSig(
      Tables.t(spark, dir, "documents").select(col("doc_id"), col("text")))
    val tree = graft.engine.Engine.explain(sig, "simple")
    assert(!tree.contains("Exchange"), s"signature must not shuffle:\n$tree")
    assert(!tree.contains("Aggregate"),
      s"signature must not aggregate:\n$tree")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, tree)
  }

  test("p_sim_pq_search: ADC is map work — no exchange before the top-k") {
    // The PQ search path must stay memory-shaped: unpack + 8 lookups + 7
    // adds per row, then a per-partition top-k merged on the driver
    // (TakeOrderedAndProject). Any Exchange/Join/Window means the ADC
    // regressed to a shuffle of the corpus.
    val tree = graft.engine.Engine.explain(
      Similarity.pqSearch(spark, dir), "simple")
    assert(tree.contains("TakeOrderedAndProject"), tree)
    assert(!tree.contains("Exchange"), s"ADC must not shuffle:\n$tree")
    assert(!tree.contains("Join"), s"ADC must not join:\n$tree")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"pq search must scan embeddings once:\n$tree")
  }

  test("p_sim_kmeans_step: one scan, one partial-agg exchange, no join") {
    // A training iteration must cost ONE pass: centroid assignment is the
    // inlined-codebook argmax (no join/window — the r5 #3 regression
    // shape), quantization is map work, and the only exchange is the
    // 16-group aggregation AFTER a partial (map-combine) stage, so the
    // shuffle carries at most 16 rows per map task, never the corpus.
    val tree = graft.engine.Engine.explain(
      Similarity.kmeansStep(spark, dir), "simple")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"kmeans step must scan embeddings once:\n$tree")
    assert(!tree.contains("Join"), s"assignment must not join:\n$tree")
    assert(!tree.contains("Window"), s"assignment must not window:\n$tree")
    val exchanges = "Exchange".r.findAllIn(tree).size
    assert(exchanges <= 2, // hash agg exchange + the final orderBy range
      s"kmeans step must shuffle only agg partials:\n$tree")
    val partialFirst =
      tree.indexOf("partial_count") >= 0 &&
        tree.indexOf("partial_count") > tree.indexOf("Exchange hashpartitioning")
    assert(tree.contains("partial_count"),
      s"aggregation must have a map-side partial stage:\n$tree")
    assert(partialFirst,
      s"the partial agg must sit BELOW the exchange (map-side):\n$tree")
  }

  test("c_funnel_window: same one-scan one-shuffle shape as c_funnel") {
    val tree = graft.engine.Engine.explain(
      graft.SparkEntry.queries("c_funnel_window")(spark, dir), "simple")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"bounded funnel must scan events once:\n$tree")
    val userShuffles = "hashpartitioning\\(user_id".r.findAllIn(tree).size
    assert(userShuffles <= 1,
      s"bounded funnel must not shuffle per stage:\n$tree")
  }

  test("p_sim_lsh_or: both candidate joins broadcast, bounded scan count") {
    // OR-construction = union of two single-bucket candidate fetches
    // (VERDICT r8 #3: the only declared query without a plan gate). Each
    // leg must join candidates to the broadcast query row — regressing to
    // a sort-merge join or a fan-out shape would shuffle the corpus per
    // table. Scans: exactly 4 = 2 corpus-side (one per LSH table) + 2
    // query-side pruned to vec_id = 0 (pushed EqualTo) feeding the
    // broadcasts; anything more means a table is read twice.
    val tree = graft.engine.Engine.explain(
      Similarity.lshOrTables(spark, dir), "simple")
    val bhj = "BroadcastHashJoin".r.findAllIn(tree).size
    assert(bhj == 2, s"both OR legs must broadcast (saw $bhj):\n$tree")
    assert(!tree.contains("SortMergeJoin"),
      s"OR candidates must not sort-merge the corpus:\n$tree")
    assert(tree.contains("Union"), tree)
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 4,
      s"expected 2 corpus + 2 pruned query scans, saw $scans:\n$tree")
  }

  test("p_sim_lsh_tuned: all four candidate legs broadcast, bounded scans") {
    // Same discipline as the p_sim_lsh_or gate, scaled to the tuned
    // 4-table configuration: each leg joins corpus candidates to the
    // broadcast 5-probe set; a sort-merge regression would shuffle the
    // corpus once PER TABLE. Scans: 8 = 4 corpus-side (one per LSH
    // table) + 4 query-side pruned to vec_id = 0 feeding the broadcasts.
    val tree = graft.engine.Engine.explain(
      Similarity.lshTuned(spark, dir), "simple")
    val bhj = "BroadcastHashJoin".r.findAllIn(tree).size
    assert(bhj == 4, s"all 4 tuned legs must broadcast (saw $bhj):\n$tree")
    assert(!tree.contains("SortMergeJoin"),
      s"tuned candidates must not sort-merge the corpus:\n$tree")
    assert(tree.contains("Union"), tree)
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 8,
      s"expected 4 corpus + 4 pruned query scans, saw $scans:\n$tree")
  }

  test("c_part_prune: status filter is a PartitionFilter, not a row filter") {
    // The layout query's whole point (VERDICT r8 task 7): the equality on
    // the partition column must prune DIRECTORIES at file-listing time.
    // If o_orderstatus shows up in ReadSchema or PushedFilters instead,
    // the scan is reading all three status partitions and filtering rows —
    // correct answers, no pruning, and at 100 TB a 3× overscan.
    val p = planOf(Layout.partPrune(spark, dir))
    val partLine = p.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("o_orderstatus") && partLine.contains("F"),
      s"status equality must be a PartitionFilter:\n$p")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderstatus"),
      s"partition column must be directory-encoded, not read from files:\n$p")
    val pushedLine = p.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(!pushedLine.contains("o_orderstatus"),
      s"status must prune at listing time, not row-filter:\n$p")
  }

  test("p_sim_ivf_pruned: centroid probes prune DIRECTORIES of the layout") {
    // The IVF-at-rest composition (VERDICT r10 #2): nprobe=2 must become
    // a 2-of-16-directories listing on the partitioned rewrite — the
    // layout that turns IVF's candidate fraction into a bytes-scanned
    // fraction. cent_id in ReadSchema or PushedFilters would mean the
    // scan reads all 16 partitions and row-filters: right answers, 8×
    // overscan at 100 TB.
    val p = planOf(Similarity.ivfAtRest(spark, dir))
    val partLine = p.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("cent_id"),
      s"probe selection must be a PartitionFilter:\n$p")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("cent_id"),
      s"cent_id must be directory-encoded, not read from files:\n$p")
    val pushedLine = p.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(!pushedLine.contains("cent_id"),
      s"probes must prune at listing time, not row-filter:\n$p")
  }

  test("p_sim_ivf_trained: trained-artifact probes prune directories") {
    // Same contract as p_sim_ivf_pruned, but the codebook provenance is
    // the PERSISTED trained artifact (VERDICT r12 #1): pruning must
    // survive the train → persist → load round-trip.
    val p = planOf(Similarity.ivfTrained(spark, dir))
    val partLine = p.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("cent_id"),
      s"probe selection must be a PartitionFilter:\n$p")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("cent_id"),
      s"cent_id must be directory-encoded, not read from files:\n$p")
  }

  test("p_sim_ivfpq_search: pruned directories AND no embedding in scan") {
    // The composed production search (VERDICT r12 #2): the scan must
    // (a) list only the probed cent_id directories and (b) read a schema
    // WITHOUT the raw embedding column — the layout stores packed codes
    // only, so an embedding in ReadSchema would mean the query fell back
    // to the raw table and the 64x compression story is fiction.
    val p = planOf(Similarity.ivfpqSearch(spark, dir))
    val partLine = p.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("cent_id"),
      s"probe selection must be a PartitionFilter:\n$p")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("pq_code"),
      s"scan must read the stored codes:\n$p")
    assert(!readSchema.contains("embedding"),
      s"no raw embedding may reach the ADC scan:\n$p")
    val pushedLine = p.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(!pushedLine.contains("cent_id"),
      s"probes must prune at listing time, not row-filter:\n$p")
  }

  test("p_sim_ivfpq_rerank: shortlist ids push into the raw scan as IN") {
    // Stage 2's economics: the exact re-rank must be a POINT LOOKUP of
    // the 50 shortlisted vectors — the ids pushed to the parquet scan as
    // an IN predicate (row-group skipping) — not a scan of the corpus
    // with a post-filter, and certainly not a join that shuffles it.
    val p = planOf(Similarity.ivfpqRerank(spark, dir))
    val pushedLine = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("vec_id"))
      .getOrElse("")
    assert(pushedLine.contains("In(vec_id") || pushedLine.contains("In(VEC_ID"),
      s"shortlist ids must reach the scan as a pushed IN:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"re-rank must not shuffle-join the corpus:\n$p")
  }

  test("c_salted_join: join exchange hashes the widened (key, salt) space") {
    // The whole point of the salted rewrite: the shuffle must key on
    // (suppkey, salt) — a hot suppkey then spreads across the salt range
    // instead of landing on one reducer. If the salt drops out of the
    // exchange (optimizer simplification, a refactor joining on suppkey
    // only), the query still answers correctly but the skew protection is
    // silently gone.
    val tree = graft.engine.Engine.explain(
      TierC.saltedJoin(spark, dir), "simple")
    assert(tree.contains("SortMergeJoin"), tree)
    val saltedExchange = tree.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("suppkey") &&
        l.contains("salt"))
    assert(saltedExchange,
      s"join exchange must hash on (suppkey, salt):\n$tree")
  }

  test("c_bloom_semijoin: bloom test filters the fact BELOW the join") {
    // The reduction only cuts shuffled bytes if the bloom membership test
    // sits under the orders scan side of the semi-join — a filter that
    // drifts above the join (or disappears into the dim side) leaves the
    // full fact shuffle the technique exists to avoid.
    val tree = graft.engine.Engine.explain(
      TierC.bloomSemijoin(spark, dir), "simple")
    assert(tree.contains("LeftSemi"), tree)
    val lines = tree.linesIterator.toVector
    val joinIdx = lines.indexWhere(_.contains("LeftSemi"))
    val bloomIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("shiftright"))
    assert(bloomIdx >= 0, s"no bloom membership filter in plan:\n$tree")
    assert(bloomIdx > joinIdx,
      s"bloom filter must sit BELOW the semi-join (fact side):\n$tree")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 2, s"expected orders + customer scans, saw $scans:\n$tree")
  }

  test("c_bucket_join: sort-merge on bucketed layouts with ZERO exchanges") {
    // The hash-backed twin of ScaleSpec's bucketed-join shape assertion
    // (VERDICT r9 #2): join AND the per-customer aggregate must both ride
    // the at-rest bucket partitioning. Any Exchange — shuffle OR broadcast
    // — means a side lost its bucketing (metadata regression, bucket-count
    // mismatch, or the merge hint stopped pinning the join strategy).
    val tree = graft.engine.Engine.explain(
      Layout.bucketJoin(spark, dir), "simple")
    assert(tree.contains("SortMergeJoin"), tree)
    assert(!tree.contains("Exchange"),
      s"bucketed join+agg must be exchange-free end to end:\n$tree")
    assert(tree.contains("TakeOrderedAndProject"), tree)
  }

  test("p_filter_blocklist: anti-join broadcasts the blocklist, one scan") {
    // At corpus scale the blocklist is dimension-sized by construction;
    // the documents side must never shuffle for this filter. A regression
    // to SortMergeJoin(LeftAnti) would shuffle every document by domain.
    val tree = graft.engine.Engine.explain(
      Curation.blocklist(spark, dir), "simple")
    assert(tree.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"blocklist must broadcast-anti-join:\n$tree")
    assert(!tree.contains("SortMergeJoin"), tree)
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"blocklist must scan documents once, saw $scans:\n$tree")
  }

  test("p_sample_stratified: map-side partial WindowGroupLimit prunes") {
    // The rank<=k filter must plan as the Partial (before the per-lang
    // exchange) + Final WindowGroupLimit pair: the map-side prune is what
    // keeps a skewed language from shipping its whole corpus slice to one
    // reducer. If the Partial node disappears (optimizer flag regression,
    // or the filter drifting out of the rewrite's recognized shape), the
    // plan silently degrades to the single-reducer window.
    val tree = graft.engine.Engine.explain(
      graft.SparkEntry.queries("p_sample_stratified")(spark, dir), "simple")
    // anchor to the WindowGroupLimit node itself (ADVICE r9): a bare
    // indexOf("Partial") could match an unrelated node above the exchange
    val lines = tree.linesIterator.toVector
    val exchangeIdx = lines
      .indexWhere(_.contains("Exchange hashpartitioning(lang"))
    val partialIdx = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(partialIdx >= 0,
      s"expected a map-side Partial WindowGroupLimit prune:\n$tree")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"Partial prune must sit BELOW the lang exchange (tree prints " +
        s"top-down, so below = later line):\n$tree")
    val scans = "Scan parquet".r.findAllIn(tree).size
    assert(scans == 1, s"one documents scan expected, saw $scans:\n$tree")
  }

  test("p_filter_quality(+approx): threshold table broadcasts onto corpus") {
    // The per-lang threshold is a handful of rows; joining it back must
    // broadcast so the documents side never shuffles for the filter —
    // for the exact median anchor AND its approx_percentile scale twin.
    Seq("p_filter_quality", "p_filter_quality_approx").foreach { name =>
      val tree = graft.engine.Engine.explain(
        graft.SparkEntry.queries(name)(spark, dir), "simple")
      assert(tree.contains("BroadcastHashJoin"), s"$name:\n$tree")
      assert(!tree.contains("SortMergeJoin"),
        s"$name threshold join must not shuffle the corpus:\n$tree")
    }
  }

  test("p_dedup_winnow: index joins, never a cartesian product") {
    // the winnowing pair generation joins selected fingerprints ON the
    // hash through the capped index — the plan must be equi-joins (hash
    // or sort-merge); a cartesian/broadcast-nested-loop would mean the
    // candidate rule degenerated to all-pairs, the exact failure the
    // inverted index exists to prevent at 100 TB
    val p = planOf(Dedup.winnow(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"winnow candidates must come from equi-joins on the fingerprint:\n$p")
    assert(p.contains("Join"), s"expected the index equi-joins:\n$p")
  }

  test("p_dedup_semantic: map-side assignment, cluster-bucketed pairs") {
    // the SemDeDup shape at 100 TB: centroid assignment is an inlined
    // argmax (no Window, no assignment join/exchange), and candidate
    // pairs come ONLY from the cent_id equi-self-join — a cartesian or
    // nested-loop would mean the clustering degenerated to all-pairs
    val p = planOf(Similarity.semanticDedup(spark, dir))
    assert(!p.contains("Window"),
      s"centroid assignment must be the map-side argmax, not a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairs must come from the cent_id equi-join:\n$p")
    // the SemClusterCap branch itself (VERDICT r20 #4): pair inputs are
    // gated through the broadcast LEFT-SEMI join against the under-cap
    // cluster list — a refactor that drops the semi-join silently
    // un-caps the quadratic pair stage
    assert(p.contains("LeftSemi"),
      s"the under-cap cluster gate (broadcast semi-join) must exist:\n$p")
  }

  test("p_dedup_semantic cap: an over-cap cluster contributes zero pairs") {
    // stats twin of the plan gate: the planted fixture's cluster 0 sits
    // at cap+1 members with τ = -2 (every within-cluster pair would
    // drop) — the ONLY thing keeping its members alive is the cap
    // branch, so n_dropped == 0 for cluster 0 proves the over-cap
    // cluster fed NO pairs, and cluster 1 (at cap) proves the pair
    // stage still fires for under-cap clusters
    val rows = Similarity.semanticCapFixture(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.length == 2, s"fixture must emit both clusters: ${rows.toSeq}")
    val (c0, c1) = (rows(0), rows(1))
    assert(c0._2 == Similarity.SemClusterCap + 1 && c0._3 == 0,
      s"over-cap cluster must contribute zero pairs/drops: $c0")
    assert(c1._2 == Similarity.SemClusterCap && c1._3 == c1._2 - 1,
      s"at-cap cluster must drop all but the minimum id: $c1")
  }

  test("p_chunk_docs: map-only until the output ordering") {
    // chunking is per-row explode+slice work; the only exchanges allowed
    // are the top-k on doc_id (limit 200) and the final sort — no
    // aggregate or join exchange may appear
    val p = planOf(graft.SparkEntry.queries("p_chunk_docs")(spark, dir))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"chunking must not join or aggregate:\n$p")
    assert(p.contains("Generate") || p.contains("explode"),
      s"expected the chunk explode:\n$p")
  }

  test("c_window_groups: both window passes share one partition shuffle") {
    // the GROUPS→dense_rank translation re-sorts by the rank, but the
    // rank is ordered identically to the day key, so the plan must keep
    // ONE hashpartitioning exchange on user_id — a second partition
    // exchange would mean the translation broke the shared clustering;
    // the only other exchange allowed is the final ORDER BY rangepartition
    val p = graft.engine.Engine.explain(TierC.windowGroups(spark, dir),
      "simple")
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected one user_id hash exchange, saw $hashEx:\n$p")
    assert("Window".r.findAllIn(p).size == 2, s"expected two window passes:\n$p")
  }

  test("p_dedup_winnow_full ≡ p_dedup_winnow on a ≤500-doc corpus") {
    // sf0.001's documents table is exactly 500 docs, so lifting the
    // corpus slice must not change a single pair — this pins the
    // full-corpus bench leg to the hash-anchored sliced twin
    val full = Dedup.queries("p_dedup_winnow_full")(spark, dir).collect()
    val sliced = Dedup.queries("p_dedup_winnow")(spark, dir).collect()
    assert(full.toSeq == sliced.toSeq,
      s"full (${full.length}) and sliced (${sliced.length}) pair sets differ")
  }

  test("sum_sq UDAF: typed Dataset-side aggregation matches SQL-side") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(1L, 2L, 3L, 4L))
    val typed = ds.select(graft.functions.SumSq.toColumn).head()
    assert(typed === 30L)
    val viaQuery = TierC.udafSumsq(spark, dir)
    val row = viaQuery.filter($"l_returnflag" === "R").head()
    assert(row.getAs[Long]("ssq") > 0L)
  }
}
