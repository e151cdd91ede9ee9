package graft

import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT percent_encode('file:/B/S/doc x.txt') AS pe,
        |  replace_first('data/data/x', 'data/', 'P/') AS rf,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  simhash64(array('a', 'b')) AS sh,
        |  ngram_shingles(array('a', 'b', 'c', 'd'), 3) AS ng,
        |  minhash_sig(array('x y z'), 2) AS mh,
        |  lsh_sig(array(0.5D, -0.5D), 2, 4, 2) AS lsh""".stripMargin).head()
    assert(row.getAs[String]("pe") == "file:/B/S/doc%20x.txt")
    assert(row.getAs[String]("rf") == "P/data/x")
    assert(row.getAs[Double]("dp") == 11.0)
    assert(row.getAs[String]("sh").length == 64)
    assert(row.getSeq[String](row.fieldIndex("ng")) == Seq("a b c", "b c d"))
    assert(row.getSeq[String](row.fieldIndex("mh")).forall(_.length == 32))
    assert(row.getSeq[String](row.fieldIndex("lsh")).map(_.length) == Seq(4, 4))
  }

  test("register exposes every function of the table to SQL") {
    GraftExtensions.register(spark)
    val calls = Seq(
      "percent_encode" -> "percent_encode('a b')",
      "replace_first" -> "replace_first('aa', 'a', 'b')",
      "dot_product" -> "dot_product(array(1.0D), array(2.0D))",
      "minhash_sig" -> "minhash_sig(array('a b'), 2)",
      "minhash_int_sig" -> "minhash_int_sig(array('a b'), 2)",
      "oph_minhash_sig" -> "oph_minhash_sig(array('a b'), 2)",
      "simhash64" -> "simhash64(array('a'))",
      "ngram_shingles" -> "ngram_shingles(array('a', 'b'), 2)",
      "lsh_sig" -> "lsh_sig(array(0.5D, -0.5D), 2, 4, 2)",
      "nfc_normalize" -> "nfc_normalize('a')",
      "topk_by" -> "topk_by(0.5D, 1L, 1)",
      "misra_gries" -> "misra_gries('a', 1)",
      "cdc_chunks" -> "cdc_chunks('abc', 2)",
      "ac_counts" -> "ac_counts('abab', array('ab'))")
    calls.foreach { case (name, call) =>
      assert(spark.sql(s"SELECT $call").collect().length == 1, name)
    }
    // a generator resolves in LATERAL VIEW, not the select list
    spark.sql(
      """SELECT te.name FROM VALUES ('a.tar', X'') AS v(name, content)
        |LATERAL VIEW tar_explode(name, content) te WHERE false""".stripMargin)
      .collect()
    assert((calls.map(_._1) :+ "tar_explode").toSet ==
      GraftExtensions.functions.map(_._1).toSet)
  }

  test("topk_by aggregate is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT qid, t.nid, t.rank FROM (
        |  SELECT qid, explode(topk_by(sim, nid, 2)) AS t
        |  FROM VALUES (1L, 10L, 0.9D), (1L, 11L, 0.8D), (1L, 12L, 0.95D),
        |              (2L, 10L, 0.5D) AS v(qid, nid, sim)
        |  GROUP BY qid)
        |ORDER BY qid, t.rank""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 12L, 1), (1L, 10L, 2), (2L, 10L, 1)))
  }

  test("withExtensions wiring: fresh session sees the functions via SQL conf") {
    // a sibling session sharing the context but with its own state
    val s2: SparkSession = spark.newSession()
    GraftExtensions.register(s2)
    assert(s2.sql("SELECT percent_encode('a b')").head().getString(0) == "a%20b")
  }

  test("misra_gries and cdc_chunks are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val mg = spark.sql(
      """SELECT misra_gries(item, 2) AS sk
        |FROM VALUES ('a'), ('a'), ('a'), ('b'), ('c') AS v(item)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(mg.nonEmpty && mg.head.getString(0) == "a") // majority item survives
    val chunks = spark.sql(
      "SELECT cdc_chunks('the quick brown fox jumps over the lazy dog', 8) AS c")
      .head().getSeq[String](0)
    assert(chunks.mkString == "the quick brown fox jumps over the lazy dog")
  }

  test("tar_explode generator matches Tar.entries from SQL") {
    GraftExtensions.register(spark)
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos))
    def add(name: String, body: Array[Byte], mtimeSec: Long): Unit = {
      val e = new TarArchiveEntry(name)
      e.setSize(body.length); e.setModTime(mtimeSec * 1000L)
      tar.putArchiveEntry(e); tar.write(body); tar.closeArchiveEntry()
    }
    add("bag/data/a.txt", "alpha".getBytes("UTF-8"), 1700000000L)
    add("bag/manifest-sha256.txt", "x  data/a.txt\n".getBytes("UTF-8"), 1700000001L)
    tar.close()
    val bytes = bos.toByteArray
    spark.createDataFrame(Seq(Tuple2("bag.tar.gz", bytes)))
      .toDF("name", "content").createOrReplaceTempView("archives")
    val got = spark.sql(
      """SELECT te.name, te.bytes, te.mtime, te.is_dir
        |FROM archives LATERAL VIEW tar_explode(name, content) te
        |ORDER BY te.name""".stripMargin)
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1),
        "UTF-8"), r.getLong(2), r.getBoolean(3))).toSeq
    val direct = graft.core.archive.Tar.entries("bag.tar.gz", bytes)
      .map(e => (e.name, new String(e.bytes, "UTF-8"), e.mtime, e.isDir))
      .toSeq.sortBy(_._1)
    assert(got == direct && got.map(_._1) ==
      Seq("bag/data/a.txt", "bag/manifest-sha256.txt"))
    assert(got.head._2 == "alpha" && got.head._3 == 1700000000L)
  }
}
