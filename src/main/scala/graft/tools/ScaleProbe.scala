package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ~k× scale probe: synthesize a k-times dataset from a base SF dir by
  * union-with-key-offset, then time headline queries against BOTH dirs
  * in one session and print the time ratios next to the data ratio.
  *
  * Synthesis models ORGANIC growth, not cloning:
  * - `documents`: doc_id offset per copy; every token of copies ≥ 1 is
  *   suffixed `x<copy>`, so shingle/minhash/line keys are DISJOINT
  *   across copies — each copy contributes the base corpus's own
  *   duplicate mass, total dup mass scales ~k× (cloning text verbatim
  *   would instead grow every shingle bucket k× and candidate pairs k²×,
  *   which no organic corpus does). The suffix MUST stay inside the
  *   `[a-z0-9]+` token alphabet: a non-alphanumeric marker (the first
  *   draft used `~`) gets split off by the tokenizer and injects a
  *   constant token between every original pair, which manufactures
  *   near-universal `<c> X <c>` shingles and quadratic LSH buckets —
  *   a degenerate corpus no organic growth produces.
  * - `lineitem`/`orders`: order keys offset per copy (facts scale k×);
  *   part/supplier/customer keys unchanged — dimensions intentionally
  *   stay 1×, so dimension joins stay broadcast-able, as at real scale.
  *   Consequence: the distinct co-purchase EDGE SET of the graph family
  *   is copy-invariant (same part pairs per cloned order), so graph
  *   probes measure the scan+distinct legs scaling, not graph growth.
  * - remaining tables: byte-for-byte file copies.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseDir] [outDir] [k] [query...]
  */
object ScaleProbe {

  private val defaultQueries = Seq(
    "q1_pricing_summary", "q5_local_supplier", "q18_large_orders",
    "dedup_exact", "dedup_minhash_lsh", "dedup_jaccard3",
    "dedup_end_to_end", "graph_pagerank")

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale_probe"
    val k = if (args.length > 2) args(2).toInt else 10
    val queryNames =
      if (args.length > 3) args.drop(3).toSeq else defaultQueries
    val spark = graft.Runner.session()

    // SPARK_GRAFT_PROBE_REUSE=1: skip re-synthesis when the scaled dir is
    // already on disk from a previous probe run (a 100× synthesis is
    // minutes of write time; the data is deterministic given (base, k))
    val reuse = sys.env.get("SPARK_GRAFT_PROBE_REUSE").contains("1") &&
      new java.io.File(s"$out/documents.parquet/_SUCCESS").exists()
    if (!reuse) synthesize(spark, base, out, k)

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def runOne(name: String, dir: String): Double =
      graft.Runner.run(spark, name, dir)(graft.Runner.noop)
        .fold(e => sys.error(s"$name over $dir failed: $e"), identity)
    // warmup (JIT/codegen), then base and scaled timings per query
    spark.range(1000000).selectExpr("sum(id)").collect()
    runOne(queryNames.head, base)
    val rows = queryNames.map { name =>
      val tBase = runOne(name, base)
      val tScaled = runOne(name, out)
      println(s"PROBE $name base=${fmt(tBase)}s x$k=${fmt(tScaled)}s " +
        s"ratio=${fmt(tScaled / tBase)}")
      (name, tBase, tScaled)
    }
    val detail = rows.map { case (n, b, s) =>
      s""""$n":{"base":${fmt(b)},"scaled":${fmt(s)},"ratio":${fmt(s / b)}}"""
    }.mkString(s"""{"metric":"scale_probe","k":$k,"base":"$base","queries":{""",
      ",", "}}")
    println(detail)
    spark.stop()
  }

  /** Write the k× dataset under `out` (see class doc for the model). */
  def synthesize(spark: SparkSession, base: String, out: String, k: Int): Unit = {
    val copies = spark.range(k).toDF("cp")
    def withCopies(df: DataFrame): DataFrame = df.crossJoin(broadcast(copies))

    // (graph mode leaves documents 1× — the graph family never reads it,
    // and the token-suffix transform is the synthesis' expensive leg;
    // SPARK_GRAFT_PROBE_SKIPDOCS=1 does the same for any family-focused
    // probe that never touches documents, e.g. events/ANN)
    val skipDocs = sys.env.get("SPARK_GRAFT_PROBE_GRAPH").contains("1") ||
      sys.env.get("SPARK_GRAFT_PROBE_SKIPDOCS").contains("1")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docOff = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    (if (skipDocs) docs.withColumn("cp", lit(0L)) else withCopies(docs))
      .select((col("doc_id") + col("cp") * docOff).as("doc_id"),
        when(col("cp") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("x"), col("cp"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // SPARK_GRAFT_PROBE_GRAPH=1: graph-growth mode — ALSO offset the
    // entity keys the graph family builds edges from (part for the
    // co-purchase graph, supplier/customer for the bipartite one), so
    // nodes AND edges scale k× instead of the default's copy-invariant
    // edge set. Models organic growth by new users/products (each copy
    // its own community; real graphs grow by new nodes, not by k×
    // densification of the same nodes). Dimension JOINS to part/supplier
    // /customer are broken by design in this mode — use it only for the
    // graph probes, and write it to its own out dir.
    val graphMode = sys.env.get("SPARK_GRAFT_PROBE_GRAPH").contains("1")
    // SPARK_GRAFT_PROBE_SKIPFACTS=1: leave orders/lineitem 1× (byte
    // copies) for probes of families that never read the TPC-H facts
    val skipFacts = sys.env.get("SPARK_GRAFT_PROBE_SKIPFACTS").contains("1")
    if (!skipFacts) {
      val orders = spark.read.parquet(s"$base/orders.parquet")
      val ordOff = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val custOff = orders.agg(max(col("o_custkey"))).head().getLong(0) + 1
      def offsetIf(on: Boolean, c: String, off: Long)(df: DataFrame) =
        if (on) df.withColumn(c, col(c) + col("cp") * off) else df
      withCopies(orders)
        .withColumn("o_orderkey", col("o_orderkey") + col("cp") * ordOff)
        .transform(offsetIf(graphMode, "o_custkey", custOff))
        .drop("cp")
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      val partOff = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
      val suppOff = li.agg(max(col("l_suppkey"))).head().getLong(0) + 1
      withCopies(li)
        .withColumn("l_orderkey", col("l_orderkey") + col("cp") * ordOff)
        .transform(offsetIf(graphMode, "l_partkey", partOff))
        .transform(offsetIf(graphMode, "l_suppkey", suppOff))
        .drop("cp")
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }

    // SPARK_GRAFT_PROBE_EVENTS=1: events-growth mode — k× NEW USERS,
    // each carrying the base corpus's per-user history (event_id/user_id
    // offset per copy; timestamps unchanged). Per-user session/window/
    // as-of state stays constant-size while total events and distinct
    // keys scale k× — organic audience growth, the shape that stresses
    // the events family's user-grain exchanges and state stores.
    val eventsMode = sys.env.get("SPARK_GRAFT_PROBE_EVENTS").contains("1")
    if (eventsMode) {
      val ev = spark.read.parquet(s"$base/events.parquet")
      val evOff = ev.agg(max(col("event_id"))).head().getLong(0) + 1
      val userOff = ev.agg(max(col("user_id"))).head().getLong(0) + 1
      withCopies(ev)
        .withColumn("event_id", col("event_id") + col("cp") * evOff)
        .withColumn("user_id", col("user_id") + col("cp") * userOff)
        .drop("cp")
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    // SPARK_GRAFT_PROBE_EMB=1: embedding-growth mode — k× NEW VECTORS:
    // vec_id offset per copy (uniform residues preserved, so the
    // mod-based query/centroid membership keeps its base-scale rates —
    // queries, cells and Σ cell-size all grow organically), components
    // of copies ≥ 1 perturbed by a deterministic ±5% relative jitter
    // (hash of (id, dim)) so copies are distinct points in the same
    // distribution, not k-fold degenerate clones stacking one location.
    val embMode = sys.env.get("SPARK_GRAFT_PROBE_EMB").contains("1")
    if (embMode) {
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      val vecOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      withCopies(emb)
        .select((col("vec_id") + col("cp") * vecOff).as("vec_id"),
          when(col("cp") === 0, col("embedding")).otherwise(
            expr("""transform(embedding, (x, i) ->
              CAST(x * (1.0 + (pmod(xxhash64(vec_id, i, cp), 1001) - 500) / 10000.0)
                     AS FLOAT))""")).as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    // dimensions + untouched tables: byte-for-byte copies (schema-exact —
    // a read/rewrite would e.g. turn events' TIMESTAMP(NANOS) into int64)
    (Seq("region", "nation", "customer", "supplier", "part") ++
      (if (skipFacts) Seq("orders", "lineitem") else Nil) ++
      (if (eventsMode) Nil else Seq("events")) ++
      (if (embMode) Nil else Seq("embeddings"))).foreach { t =>
      val src = java.nio.file.Paths.get(s"$base/$t.parquet")
      val dst = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
