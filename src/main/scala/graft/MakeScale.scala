package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the SOAK runs (SCALE.md's sf0.1 → sf1
  * matrix): replicates the driver-generated testdata K× with
  * key-shifting so the scaled corpus behaves like a LARGER sample of
  * the same distribution, not K stacked copies of one sample.
  *
  * Per-table rules (the point is to preserve each workload's join /
  * candidate-pair structure):
  *  - fact keys shift by `rep * (max_key + 1)` so primary keys stay
  *    unique and per-key grouping cardinality scales linearly;
  *  - FOREIGN keys into dimensions (o_custkey, l_partkey, l_suppkey)
  *    are kept in their original range so dim joins still resolve —
  *    dims stay at their base size, exactly how TPC-H's nation/region
  *    (and a real warehouse's slowly-growing dims) behave;
  *  - `documents.text` suffixes every TOKEN with the replica id:
  *    within-replica near-duplicate structure is preserved verbatim
  *    while cross-replica shingle sets are DISJOINT — a naive text
  *    copy would make every document a 10-way near-duplicate and blow
  *    the LSH candidate count up quadratically, soaking an artifact
  *    of the generator instead of the operator;
  *  - `embeddings.embedding` rotates the vector by `rep` positions:
  *    norms and within-replica geometry are untouched, cross-replica
  *    neighborhoods decorrelate;
  *  - `events.user_id` shifts per replica so per-user session shapes
  *    are preserved and user cardinality scales with the data.
  *
  * Usage: runMain graft.MakeScale <inDir> <outDir> <factor>
  * (timing-only data: the correctness gate always runs on the
  * driver's own testdata, never on this output).
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args.take(3)
    val k = factorS.toInt
    require(k >= 1, "factor must be >= 1")
    val spark = graft.engine.Session.forHarness()
    new java.io.File(outDir).mkdirs()

    def reps(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(r => f(base, r)).reduce(_ union _)

    def read(name: String): DataFrame =
      spark.read.parquet(s"$inDir/$name.parquet")

    /** Key spans are computed ONCE per key DOMAIN — one small agg job,
      * not one per replica. `o_orderkey` and `l_orderkey` share the
      * "orderkey" domain (lineitem's keys are a subset of orders'):
      * independent per-table maxima would decorrelate the
      * orders↔lineitem join for every replica r >= 1 whenever trailing
      * orders have no lineitems (max(l_orderkey) < max(o_orderkey)).
      * The span's SOURCE is pinned per domain (ADVICE r20): "orderkey"
      * always measures orders, regardless of which table shifts first —
      * the previous first-caller-wins memo silently depended on the
      * orders write preceding lineitem's, and a swapped write order
      * would have collided shifted keys across replicas. */
    val spans = scala.collection.mutable.Map.empty[String, Long]
    val domainOf = Map(
      "o_orderkey" -> "orderkey", "l_orderkey" -> "orderkey")
    val domainSource = Map("orderkey" -> ("orders", "o_orderkey"))
    def shift(df: DataFrame, colName: String, r: Int): DataFrame = {
      val domain = domainOf.getOrElse(colName, colName)
      val span = spans.getOrElseUpdate(domain, {
        val (src, srcCol) = domainSource.get(domain)
          .map { case (t, c) => (read(t), c) }
          .getOrElse((df, colName))
        src.agg(max(srcCol)).head().getLong(0) + 1L
      })
      df.withColumn(colName, col(colName) + lit(r * span))
    }

    def write(name: String)(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[make-scale] $name x$k -> $outDir")
    }

    // dims: base size, copied through (see scaladoc)
    Seq("region", "nation", "supplier", "part", "customer")
      .foreach(t => write(t)(read(t)))

    write("orders")(reps(read("orders")) { (df, r) =>
      shift(df, "o_orderkey", r)
    })
    write("lineitem")(reps(read("lineitem")) { (df, r) =>
      shift(df, "l_orderkey", r)
    })
    write("events")(reps(read("events")) { (df, r) =>
      shift(shift(df, "event_id", r), "user_id", r)
    })
    write("documents")(reps(read("documents")) { (df, r) =>
      // the tag stays INSIDE the corpus alphabet (lowercase letters) —
      // the BPE trainer's alphabet guard rejects '_'-style separators
      val tag = "q" + ('a' + r).toChar
      val tagged =
        if (r == 0) df
        else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1$tag"))
      shift(tagged, "doc_id", r)
        .withColumn("n_chars", length(col("text")))
    })
    write("embeddings")(reps(read("embeddings")) { (df, r) =>
      val rotated =
        if (r == 0) df
        else df.withColumn("embedding", concat(
          slice(col("embedding"), r + 1, 100000),
          slice(col("embedding"), 1, r)))
      shift(rotated, "vec_id", r)
    })

    spark.stop()
  }
}
