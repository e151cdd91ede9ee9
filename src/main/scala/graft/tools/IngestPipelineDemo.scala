package graft.tools

import graft.Sessions
import graft.dedup.DedupIndex
import graft.sim.{IvfIndex, PqIndex}

/** End-to-end LLM-ingest composition demo — the [[graft.streaming
  * .CurateIngest]] front door driven against real file-source
  * micro-batches: build the dedup lineage store and both ANN stores
  * from a base corpus snapshot, stream the rest of the corpus through
  * admission (near-dups → DLQ at ingest; admitted embeddings grow the
  * IVF and IVF-PQ stores under the same checkpoint), then read back
  * every store: routes, cluster-size audit, index health, and a sample
  * neighbour query per store.
  *
  *   sbt "runMain graft.tools.IngestPipelineDemo [sfDir]"
  */
object IngestPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = s"/tmp/graft_ingest_demo/p${java.lang.ProcessHandle.current().pid()}"
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = d.join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), d("text"), e("embedding"))
    // base on EVEN ids so the auto-sized `id % mod` centroid sample is
    // nonempty inside the base subset; streamed odd ids carry near-dups
    val base = rows.filter($"doc_id" % 2 === 0)

    println(s"== building base stores (${base.count()} docs) under $root ==")
    DedupIndex.build(base.select($"doc_id", $"text"), s"$root/dedup",
      n = 3, threshold = 0.10)
    val baseVecs = base.select($"doc_id".as("vec_id"), $"embedding")
    IvfIndex.build(baseVecs, s"$root/ivf")
    PqIndex.build(baseVecs, s"$root/pq", centroidMod = 0,
      dims = 64, m = 16, k = 16)

    val watch = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
      .parquet(watch)
    val q = graft.streaming.CurateIngest.writer(stream, s"$root/dedup",
        s"$root/admitted", s"$root/dlq", s"$root/ivf", s"$root/pq",
        n = 3, threshold = 0.10)
      .option("checkpointLocation", s"$root/ckpt").start()
    def land(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$root/stage/$tag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      try ls.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(f => java.nio.file.Files.move(f,
          java.nio.file.Paths.get(watch, tag + "_" + f.getFileName)))
      finally ls.close()
    }
    println("== streaming two admission micro-batches ==")
    land(rows.filter($"doc_id" % 4 === 1), "x0")
    q.processAllAvailable()
    land(rows.filter($"doc_id" % 4 === 3), "x1")
    q.processAllAvailable()
    q.stop()

    Seq(0, 1).foreach { b =>
      val st = spark.read.parquet(s"$root/dedup/stats/b$b").collect()(0)
      println(s"batch b$b: ${st.getAs[Long]("n_admitted")} admitted, " +
        s"${st.getAs[Long]("n_dlq")} -> DLQ " +
        s"(${st.getAs[Long]("dlq_share_micro") / 10000.0}%)")
    }
    println("\n== dedup cluster-size audit (template-spam tail) ==")
    DedupIndex.stats(spark, s"$root/dedup").show(10, truncate = false)
    println("== IVF store health ==")
    IvfIndex.health(spark, s"$root/ivf").show(truncate = false)
    println("== PQ store health ==")
    PqIndex.health(spark, s"$root/pq").show(truncate = false)

    val probe = baseVecs.filter($"vec_id" % 100 === 0).limit(2)
    println("== sample neighbours (raw-vector IVF store) ==")
    IvfIndex.query(spark, s"$root/ivf", probe, nprobe = 2, k = 3)
      .orderBy($"qid", $"rank").show(truncate = false)
    println("== sample neighbours (memory-scale IVF-PQ store, ADC) ==")
    PqIndex.query(spark, s"$root/pq", probe, nprobe = 2, topK = 3,
        dims = 64, m = 16)
      .orderBy($"qid", $"rank").show(truncate = false)

    // end-state invariant: DLQ'd ids reached NEITHER ANN store
    val dlqIds = graft.streaming.DedupIngest
      .readRoute(spark, s"$root/dlq").select($"doc_id")
      .as[Long].collect().toSet
    val ivfIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/ivf/postings").select($"id").as[Long].collect().toSet
    val pqIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/pq/postings").select($"nid").as[Long].collect().toSet
    require(dlqIds.nonEmpty && dlqIds.forall(i => !ivfIds(i) && !pqIds(i)),
      "composition invariant violated: a DLQ'd doc reached an ANN store")
    println(s"\nOK: ${dlqIds.size} DLQ'd docs excluded from both ANN stores; " +
      s"IVF holds ${ivfIds.size} vectors, PQ holds ${pqIds.size} codes")
    spark.stop()
  }
}
