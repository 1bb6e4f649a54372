package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming operators driven through MemoryStream — watermarked windows,
  * session windows, custom keyed state. */
class StreamsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("fileStreamHourly: readStream from a parquet dir end to end") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-src")
    val batch = Seq(
      (ts("2024-01-01 10:05:00"), "click"),
      (ts("2024-01-01 10:20:00"), "click"),
      // sentinel far ahead so the 10:00 window finalizes past the 2h wm
      (ts("2024-01-01 13:30:00"), "view")
    ).toDF("ts", "event_type")
    batch.write.mode("overwrite").parquet(dir.toString)
    val q = Streams.fileStreamHourly(
      spark, dir.toString, batch.schema, "file_hourly")
    try {
      q.processAllAvailable()
      // append-mode emits only watermark-closed windows; write a second
      // file to advance the watermark past the first window
      Seq((ts("2024-01-01 16:00:00"), "view")).toDF("ts", "event_type")
        .write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val out = spark.table("file_hourly")
        .selectExpr("CAST(hora AS STRING)", "event_type", "n").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(out.contains(("2024-01-01 10:00:00", "click", 2L)), out)
    } finally q.stop()
  }

  test("dedupStream: repeats of a content key are dropped, state bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "content")
    val q = Streams.dedupStream(df, Seq("content")).writeStream
      .outputMode("append").format("memory").queryName("dedup").start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), "doc-a"),
        (ts("2024-01-01 10:01:00"), "doc-a"), // dup within watermark
        (ts("2024-01-01 10:02:00"), "doc-b"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:03:00"), "doc-a")) // still a dup
      q.processAllAvailable()
      val out = spark.table("dedup").select("content")
        .collect().map(_.getString(0)).toSeq
      assert(out.sorted == Seq("doc-a", "doc-b"))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time band only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp)]
    val cIn = MemoryStream[(Long, Timestamp)]
    val q = Streams.purchasesWithRecentClicks(
        pIn.toDF().toDF("user_id", "ts"), cIn.toDF().toDF("user_id", "ts"))
      .selectExpr("user_id", "CAST(ts AS STRING) AS pts",
        "CAST(c_ts AS STRING) AS cts")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").start()
    try {
      cIn.addData(
        (1L, ts("2024-01-01 10:00:00")), // in band for 10:30 purchase
        (1L, ts("2024-01-01 08:00:00")), // too old
        (2L, ts("2024-01-01 10:15:00"))) // other user
      pIn.addData((1L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val out = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(out == Set(
        (1L, "2024-01-01 10:30:00", "2024-01-01 10:00:00")), out)
    } finally q.stop()
  }

  test("enriched: stream-static join carries dim columns, left-preserves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("user_id", "event_type")
    val q = Streams.enriched(df, dim, "user_id").writeStream
      .outputMode("append").format("memory").queryName("enriched").start()
    try {
      in.addData((1L, "click"), (3L, "view"))
      q.processAllAvailable()
      val out = spark.table("enriched")
        .select("user_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(out == Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("hourlyCounts: windowed counts finalize after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "event_type")
    val q = Streams.hourlyCounts(df).writeStream
      .outputMode("append").format("memory").queryName("hourly").start()
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), "click"),
        (ts("2024-01-01 10:55:00"), "click"),
        (ts("2024-01-01 10:10:00"), "error"))
      q.processAllAvailable()
      // advance event time far enough to close the 10:00 window (2h wm)
      in.addData((ts("2024-01-01 13:30:00"), "click"))
      q.processAllAvailable()
      val out = spark.table("hourly")
        .selectExpr("CAST(hora AS STRING)", "event_type", "n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(out == Set(
        ("2024-01-01 10:00:00", "click", 2L),
        ("2024-01-01 10:00:00", "error", 1L)))
    } finally q.stop()
  }

  test("sessionCounts: gap-based sessions split per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = Streams.sessionCounts(df, gap = "5 minutes").writeStream
      .outputMode("append").format("memory").queryName("sessions").start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 7L),
        (ts("2024-01-01 10:03:00"), 7L), // same session (gap 5m)
        (ts("2024-01-01 10:20:00"), 7L), // new session
        (ts("2024-01-01 10:00:00"), 8L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 14:00:00"), 9L)) // close everything
      q.processAllAvailable()
      val out = spark.table("sessions")
        .selectExpr("CAST(session_start AS STRING)", "user_id", "n_events")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(out == Set(
        ("2024-01-01 10:00:00", 7L, 2L),
        ("2024-01-01 10:20:00", 7L, 1L),
        ("2024-01-01 10:00:00", 8L, 1L)))
    } finally q.stop()
  }

  test("curateStream: canonical-URL dedup + PII scrub on the stream path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "url", "text")
    val q = Streams.curateStream(df).writeStream
      .outputMode("append").format("memory").queryName("curated").start()
    try {
      in.addData(
        // the same page in two disguises -> one canonical survivor
        (ts("2024-01-01 10:00:00"), "https://Site3.example/Page/7",
          "mail bob@mail7.example.com now"),
        (ts("2024-01-01 10:01:00"), "http://www.site3.example/page/7?u=x",
          "recrawl copy"),
        (ts("2024-01-01 10:02:00"), "https://other.example/p",
          "call (555) 867-5309 or 10.1.2.3"))
      q.processAllAvailable()
      // a later recrawl of the same canonical URL is still a dup
      in.addData((ts("2024-01-01 10:03:00"), "https://site3.example/page/7/",
        "third copy"))
      q.processAllAvailable()
      val out = spark.table("curated").select("canon", "text")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out.keySet ==
        Set("site3.example/page/7", "other.example/p"), out)
      assert(out("site3.example/page/7") == "mail <EMAIL> now", out)
      assert(out("other.example/p") == "call <PHONE> or <IP>", out)
    } finally q.stop()
  }

  test("nearDupStream: near-dup claims no bucket; transforms match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.nearDupStream(df).writeStream
      .outputMode("append").format("memory").queryName("neardup").start()
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tC = "completely different content with many unique words here indeed"
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), tA))
      q.processAllAvailable()
      in.addData(
        (2L, ts("2024-01-01 10:01:00"), tA), // identical text = identical
        // signature: all 4 of its band buckets are already claimed
        (3L, ts("2024-01-01 10:02:00"), tC)) // fresh content: 4 new buckets
      q.processAllAvailable()
      val out = spark.table("neardup").select("doc_id", "band", "key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      assert(out.count(_._1 == 1L) == 4, out.mkString(","))
      assert(out.count(_._1 == 2L) == 0, "near-dup must claim no bucket")
      assert(out.count(_._1 == 3L) == 4, out.mkString(","))
      // transform-reuse proof: the stream's claimed (band, key) set is
      // EXACTLY what the batch transforms produce on the same survivors —
      // same functions, not a re-implementation that could drift
      val batch = graft.queries.Dedup.withBandKeys(
          graft.queries.Dedup.withMinhashSig(
            Seq((1L, tA), (3L, tC)).toDF("doc_id", "text")))
        .selectExpr("doc_id",
          "stack(4, 0, k0, 1, k1, 2, k2, 3, k3) AS (band, key)")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSet
      assert(out.toSet == batch)
    } finally q.stop()
  }

  test("runningUserTotals: keyed state accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val q = Streams.runningUserTotals(in.toDS()).writeStream
      .outputMode("update").format("memory").queryName("totals").start()
    try {
      in.addData(
        Streams.Event(1L, ts("2024-01-01 10:00:00"), "click"),
        Streams.Event(1L, ts("2024-01-01 10:01:00"), "error"))
      q.processAllAvailable()
      in.addData(Streams.Event(1L, ts("2024-01-01 10:02:00"), "click"))
      q.processAllAvailable()
      val last = spark.table("totals")
        .filter($"user_id" === 1L).orderBy($"n_events".desc)
        .as[Streams.UserTotal].head()
      assert(last == Streams.UserTotal(1L, 3L, 1L))
    } finally q.stop()
  }

  test("ivfIngest: streamed embeddings land in the partitioned ANN layout") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.queries.Similarity.codebook(emb)
    assert(cents.size == 16, "codebook artifact must have 16 entries")
    val sample = emb.select("vec_id", "embedding").orderBy("vec_id")
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val out = java.nio.file.Files.createTempDirectory("ivf-ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf-ckpt").toString
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfIngest(
      in.toDF().toDF("vec_id", "embedding"), cents, out, ckpt)
    try {
      in.addData(sample.take(20).toSeq: _*)
      q.processAllAvailable()
      in.addData(sample.drop(20).toSeq: _*) // second micro-batch appends
      q.processAllAvailable()
    } finally q.stop()
    // the at-rest shape: one directory per assigned centroid
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cent_id="))
    assert(dirs.length > 1, s"expected multiple centroid dirs: ${dirs.toSeq}")
    // assignment parity: the stream wrote EXACTLY what the batch
    // transform assigns for the same vectors — same function, no drift
    val ingested = spark.read.parquet(out).select("vec_id", "cent_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val sampleIds = sample.map(_._1)
    val batch = graft.queries.Similarity.withCentroid(
        emb.filter(col("vec_id").isin(sampleIds: _*)), cents)
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(ingested == batch)
    // and an nprobe-style read of the INGESTED layout partition-prunes
    val plan = graft.engine.Engine.explain(
      spark.read.parquet(out).filter(col("cent_id") === ingested.values.head))
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"pruned read of the streamed layout:\n$plan")
  }

  test("ivfIngest: restart from checkpoint is exactly-once") {
    // The production property the checkpoint exists for: kill the ingest
    // query, start a NEW one on the same checkpoint + sink, and the
    // layout ends up with each vector exactly once — batch 1 is not
    // reprocessed (source offsets are checkpointed) and batch 2 is not
    // lost. File source here because its offset log (which source files
    // are done) is exactly what a restarted production ingest relies on.
    import org.apache.spark.sql.functions.col
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.queries.Similarity.codebook(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val src = java.nio.file.Files.createTempDirectory("ivf-src").toString
    val out = java.nio.file.Files.createTempDirectory("ivf-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf-ck2").toString
    def start() = Streams.ivfIngest(
      spark.readStream.schema(emb.schema).parquet(src), cents, out, ckpt)

    emb.filter(col("vec_id") < 20).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      .write.mode("append").parquet(src)
    val q2 = start() // restart: same checkpoint, same sink
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got.length == 40, s"exactly-once violated: ${got.length} rows")
    assert(got.distinct.length == 40, "duplicate vectors after restart")
    assert(got.toSet == (0L until 40L).toSet)
  }

  test("upsertStream: micro-batched merges equal the batch upsert") {
    // the ON CONFLICT statement's streaming twin: N uneven micro-batches
    // of upserts against an at-rest layout must land the same final
    // state as one batch merge of the union — and replaying a batch
    // (at-least-once delivery) must not change the layout
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("ups-layout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ups-ck").toString
    spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
      "'base' AS tag").coalesce(2)
      .write.mode("overwrite").parquet(path)
    val in = MemoryStream[(Long, Double, String)]
    val q = Streams.upsertStream(in.toDF().toDF("k", "v", "tag"),
      path, ckpt, Seq("k"), Seq("v", "tag"))
    val b1 = (0L until 10L).map(k => (k, -1.0, "up1"))
    val b2 = Seq((5L, -2.0, "up2"), (200L, 7.5, "new"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getString(2)))).toMap
    assert(got.size == 101)
    assert(got(5L) == ((-2.0, "up2")), "later batch wins the key")
    assert(got(3L) == ((-1.0, "up1")))
    assert(got(200L) == ((7.5, "new")), "fresh key appended")
    assert(got(50L) == ((50.0, "base")), "untouched rows keep base values")
    // replaying batch 2 is idempotent — the merge converges
    graft.engine.Dml.mergeIntoAll(spark, path,
      b2.toDF("k", "v", "tag"), Seq("k"), Seq("v", "tag"))
    val replay = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getString(2)))).toMap
    assert(replay == got, "replayed micro-batch must not change state")
  }

  test("dedupIndexIngest: N micro-batches build the batch band index") {
    // The composed loop (VERDICT r12 #7): the index the stream MAINTAINS
    // must be the index the batch pipeline BUILDS — same docs in, same
    // (doc_id, band, key) relation out, regardless of micro-batch
    // boundaries. Feed 40 documents in 3 uneven micro-batches and
    // compare against the batch transform chain on the same rows.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val out = java.nio.file.Files.createTempDirectory("dedup-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-ck").toString
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIndexIngest(
      in.toDF().toDF("doc_id", "text"), out, ckpt)
    try {
      in.addData(docs.take(7).toSeq: _*)
      q.processAllAvailable()
      in.addData(docs.slice(7, 25).toSeq: _*)
      q.processAllAvailable()
      in.addData(docs.drop(25).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // at-rest shape: one directory per band (the probe's prune column)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("band=")).sorted
    assert(dirs.length == 4, s"expected 4 band dirs: ${dirs.toSeq}")
    val streamed = spark.read.parquet(out)
      .select("doc_id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val ids = docs.map(_._1)
    val batch = graft.queries.Dedup.withBandKeys(
        graft.queries.Dedup.withMinhashSig(
          spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select(col("doc_id"), col("text"))
            .filter(col("doc_id").isin(ids: _*))))
      .select(col("doc_id"),
        expr("stack(4, 0, k0, 1, k1, 2, k2, 3, k3)").as(Seq("band", "key")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(streamed == batch,
      s"stream-maintained index drifted from the batch-built index: " +
        s"${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    assert(streamed.map(_._1) == ids.toSet, "every admitted doc indexed")
    // and a (band, key) probe of the streamed index partition-prunes
    val probe = streamed.head
    val plan = graft.engine.Engine.explain(
      spark.read.parquet(out)
        .filter(col("band") === probe._2 && col("key") === probe._3))
    assert(plan.contains("PartitionFilters") && plan.contains("band"),
      s"band must prune directories of the streamed index:\n$plan")
  }

  test("tokenizeStream: micro-batched token counts equal the batch transform") {
    // stateless artifact-apply work: the trained merges ship as inlined
    // literals, so N uneven micro-batches must produce exactly the batch
    // counts on the same documents
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val merges = graft.queries.Bpe.merges(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(24).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.tokenizeStream(
      in.toDF().toDF("doc_id", "text"), merges)
      .writeStream.outputMode("append")
      .format("memory").queryName("tok_stream_t").start()
    try {
      in.addData(docs.take(7).toSeq: _*)
      q.processAllAvailable()
      in.addData(docs.drop(7).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tok").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = rows(spark.table("tok_stream_t"))
    val batch = rows(graft.queries.Bpe.withTokenCount(
      spark.createDataset(docs.toSeq).toDF("doc_id", "text"), merges))
    assert(streamed == batch,
      s"stream token counts drifted from batch:" +
        s" ${(streamed diff batch).take(3)}")
  }

  test("chunkStream: micro-batched chunks equal the batch transform") {
    // stateless map work: chunk rows from N uneven micro-batches must be
    // exactly the batch chunker's output on the same documents — the
    // shared-transform guarantee, as with nearDupStream/dedupIndexIngest
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.chunkStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream_t").start()
    try {
      in.addData(docs.take(11).toSeq: _*)
      q.processAllAvailable()
      in.addData(docs.drop(11).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_md5")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
    val streamed = rows(spark.table("chunk_stream_t"))
    val batch = rows(graft.queries.TextOps.withChunks(
      spark.createDataset(docs.toSeq).toDF("doc_id", "text")))
    assert(streamed == batch,
      s"stream chunks drifted from batch: ${(streamed diff batch).take(3)}" +
        s" / ${(batch diff streamed).take(3)}")
    assert(streamed.nonEmpty && streamed.map(_._1).size >= 30)
    // the declared p_chunk_docs is its DuckDB text: same chunks for the
    // same documents (its first 200 doc_ids include these 30)
    val declared = rows(graft.SparkEntry.queries("p_chunk_docs")(
      spark, "/root/testdata/sf0.001").filter(col("doc_id") <= docs.last._1))
    assert(declared == batch,
      s"declared chunks drifted from batch: ${(declared diff batch).take(3)}")
  }

  test("compactDedupIndex: probe results unchanged, bytes shrink") {
    // VERDICT r14 #2: the at-rest compaction applies the probe-time
    // `<= DfCap` rule to storage. Plant a corpus whose band index has an
    // over-cap bucket family (DfCap+10 IDENTICAL docs — their 4 band
    // buckets each hold 60 > 50 entries, which `Dedup.incremental`'s
    // probe IGNORES) next to under-cap pairs and singletons; the compacted
    // index must hold EXACTLY the under-cap buckets' rows (set equality —
    // the strongest probe-parity statement: every (band, key) probe
    // returns identical docs before and after) in strictly fewer bytes.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sqlCtx = spark.sqlContext
    val cap = graft.queries.Dedup.DfCap
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(8).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // 60 clones of doc 0's text (over-cap buckets), 2 clones of doc 1's
    // (under-cap bucket, MUST survive), the rest unique
    val docs: Seq[(Long, String)] =
      (0 until cap + 10).map(i => (1000L + i, base(0)._2)) ++
        Seq((2000L, base(1)._2), (2001L, base(1)._2)) ++
        base.drop(2).map { case (id, tx) => (3000L + id, tx) }
    val out = java.nio.file.Files.createTempDirectory("dedup-cmp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-cmpck").toString
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIndexIngest(in.toDF().toDF("doc_id", "text"),
      out, ckpt)
    try { in.addData(docs: _*); q.processAllAvailable() } finally q.stop()

    def rows(): Set[(Long, Int, String)] =
      spark.read.parquet(out).select("doc_id", "band", "key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val before = rows()
    // what a probe can ever see: rows of buckets with count <= DfCap
    val probeVisible = before.groupBy(r => (r._2, r._3))
      .filter(_._2.size <= cap).values.flatten.toSet
    assert(probeVisible.size < before.size,
      "fixture must contain over-cap buckets, or the test proves nothing")

    val stats = Streams.compactDedupIndex(spark, out)
    assert(stats.bucketsDropped >= 4,
      s"the 4 clone-family buckets must drop: ${stats.bucketsDropped}")
    assert(rows() == probeVisible,
      "compacted index must hold exactly the probe-visible rows")
    assert(stats.rowsAfter < stats.rowsBefore &&
      stats.bytesAfter < stats.bytesBefore,
      s"compaction must shrink: $stats")
    // the partitioned at-rest shape survives the swap (band dirs intact)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("band=")).sorted
    assert(dirs.length == 4, s"band partition dirs must survive: ${dirs.toSeq}")
    // and the under-cap pair survived verbatim
    assert(rows().exists(_._1 == 2000L) && rows().exists(_._1 == 2001L),
      "under-cap buckets must be untouched")
  }

  test("decontaminateStream: micro-batched flags equal the batch check") {
    // the r18 contamination gate's streaming twin: feed the corpus in
    // 3 uneven micro-batches against the STATIC eval n-gram relation
    // and require the accumulated flags to equal the batch transform on
    // the same documents — per-batch grouping is the global grouping
    // because each doc arrives exactly once
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val evalGrams = graft.queries.Dedup.evalGramsOf(
      all.filter(col("doc_id") % 7 === 0))
    val corpus = all.filter(col("doc_id") % 7 =!= 0)
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val out = java.nio.file.Files.createTempDirectory("decon").toString
    val ckpt = java.nio.file.Files.createTempDirectory("decon-ck").toString
    val in = MemoryStream[(Long, String)]
    val q = Streams.decontaminateStream(
      in.toDF().toDF("doc_id", "text"), evalGrams, out, ckpt)
    try {
      in.addData(docs.take(50).toSeq: _*)
      q.processAllAvailable()
      in.addData(docs.slice(50, 80).toSeq: _*)
      q.processAllAvailable()
      in.addData(docs.drop(80).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.queries.Dedup.contaminatedAgainst(corpus, evalGrams)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "fixture must surface contaminated docs")
    assert(streamed == batch,
      "streamed contamination flags must equal the batch check")
  }
}
