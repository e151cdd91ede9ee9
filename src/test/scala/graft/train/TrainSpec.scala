package graft.train

import graft.SparkSpec
import graft.dedup.Dedup
import graft.mm.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokens / counts / fingerprint are deterministic and normalized") {
    val df = Seq("The  Fast, fast QUERY!  42").toDF("text")
    val row = df.select(
      TextAnalysis.tokens($"text"),
      TextAnalysis.tokenCount($"text"),
      TextAnalysis.bpeTokenCount($"text"),
      TextAnalysis.fingerprint($"text")).head()
    assert(row.getSeq[String](0) == Seq("the", "fast", "fast", "query", "42"))
    assert(row.getInt(1) == 5)
    assert(row.getInt(2) == 7) // the, fast, ",", fast, query, "!", 42
    assert(row.getString(3).length == 32)
  }

  test("languageId picks the marker-richest language, en wins ties") {
    val df = Seq(
      "the cat and the dog is in a house",   // en
      "el que la de y en",                   // es
      "xyz qqq www").toDF("text")            // no markers
    val got = df.select(TextAnalysis.languageId($"text")).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "unknown"))
  }

  test("chunks: window/stride arithmetic covers the tail, short docs yield one chunk") {
    val df = Seq(
      "a b c d e f g",        // 7 tokens, window 3 stride 2 → starts 1,3,5
      "a b").toDF("text")     // shorter than the window → single chunk
    val got = df.select(TextAnalysis.chunks($"text", 3, 2)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "c d e", "e f g"))
    assert(got(1) == Seq("a b"))
    // stride-misaligned tail: 6 tokens → starts on the grid are 1,3 (the
    // last full-window start 4 is off-grid, so "f" rides only the overlap)
    val got6 = Seq("a b c d e f").toDF("text")
      .select(TextAnalysis.chunks($"text", 3, 2)).as[Seq[String]].head()
    assert(got6 == Seq("a b c", "c d e"))
  }

  test("native LangIdExpr matches the declarative arg-max rendering on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = docs.select($"doc_id", TextAnalysis.languageId($"text").as("l"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    val decl = docs.select($"doc_id", TextAnalysis.languageIdDeclarative($"text").as("l"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    assert(native.toSeq == decl.toSeq)
  }

  test("shingles: n-grams when long enough, whole text otherwise") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(TextAnalysis.shingles($"text", 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("native shingles match the declarative rendering on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val n = docs.select($"doc_id", TextAnalysis.shingles($"text", 3).as("s"))
      .orderBy($"doc_id").as[(Long, Seq[String])].collect()
    val d = docs.select($"doc_id", TextAnalysis.shinglesDeclarative($"text", 3).as("s"))
      .orderBy($"doc_id").as[(Long, Seq[String])].collect()
    assert(n.toSeq == d.toSeq)
  }

  test("simhash: 64 bits, identical text → identical sig, disjoint text → differs") {
    val df = Seq("spark hash join table scan", "spark hash join table scan",
      "zzz yyy xxx www vvv").toDF("text")
    val sigs = df.select(TextAnalysis.simhashBits($"text")).as[String].collect()
    assert(sigs.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("native SimHashExpr matches the declarative nibble-vote rendering") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val native = docs.select($"doc_id", TextAnalysis.simhashBits($"text").as("s"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    val decl = docs.select($"doc_id", TextAnalysis.simhashBitsDeclarative($"text").as("s"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    assert(native.toSeq == decl.toSeq)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("exact dedup groups identical content") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(docs).orderBy($"representative")
      .select($"representative", $"n_dups").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("exactByPriority keeps the lowest-(priority, id) copy per content") {
    val docs = Seq(
      (10L, "same text", 5L), (3L, "same text", 2L), (7L, "same text", 2L),
      (1L, "unique text", 9L)
    ).toDF("doc_id", "text", "pri")
    val got = Dedup.exactByPriority(docs, col("pri"))
      .select($"kept_id", $"kept_pri", $"n_dups")
      .as[(Long, Long, Long)].collect().toSet
    // dup group: pri 2 beats 5; within pri 2, id 3 beats 7
    assert(got == Set((3L, 2L, 3L), (1L, 9L, 1L)))
  }

  test("jaccard pairs: identical docs score 1.0, disjoint docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, 3, 0.5).as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("jaccard/containment df cap: a planted hot shingle contributes no " +
    "pairs; kept-shingle sets rescore exactly; maxDf=0 is the exact opt-in") {
    // 6 docs share the boilerplate 3-gram "hot boiler plate" (df=6 > cap);
    // docs 20/21 share the rare 3-gram "rare x y" (df=2 ≤ cap)
    val docs = ((10L until 16L).map(i => (i, s"hot boiler plate u$i")) ++
      Seq((20L, "rare x y q20"), (21L, "rare x y q21"))).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(docs, 3, 0.30, maxDf = 4L)
      .as[(Long, Long, Double)].collect()
    // kept sets for 20/21 = {"rare x y", "x y q2x"}: jaccard 1/(2+2-1)
    assert(capped.toSeq.sortBy(_._1) == Seq((20L, 21L, 0.3333)),
      s"got ${capped.toSeq}")
    val exact = Dedup.jaccardPairs(docs, 3, 0.30, maxDf = 0L)
      .as[(Long, Long, Double)].collect()
    // uncapped: all 15 boilerplate pairs score 1/(2+2-1) too
    assert(exact.length == 16)
    val cont = Dedup.containmentPairs(docs, 3, 0.50, maxDf = 4L)
      .as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((20L, 21L, 0.5)), s"got ${cont.toSeq}")
  }

  test("jaccardPairs df cap (4096) is the DEFAULT: a 4200-doc boilerplate " +
    "shingle is dropped without enumerating its ~8.8M join rows") {
    val docs = (spark.range(4200)
      .select($"id".as("doc_id"),
        concat(lit("hot boiler plate u"), $"id".cast("string")).as("text")))
      .unionByName(Seq((9000L, "planted pair body one two three"),
        (9001L, "planted pair body one two three")).toDF("doc_id", "text"))
    val got = Dedup.jaccardPairs(docs, 3, 0.30)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(got == Set((9000L, 9001L)),
      s"default jaccard path must be df-capped, got ${got.size} pairs")
  }

  test("winnowPairs: shared long run is caught, disjoint docs are not; repartition-stable") {
    val shared = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, s"start one two $shared end marker one"),
      (2L, s"other prefix words here $shared trailing bits"),
      (3L, "completely different content with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    // guarantee: any shared run of ≥ window+n-1 = 6 tokens shares ≥1 fingerprint
    val got = Dedup.winnowPairs(docs, n = 3, window = 4, minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    val again = Dedup.winnowPairs(docs.repartition(5), n = 3, window = 4, minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(again.toSet == got.toSet)
  }

  test("LSH bucket cap prunes a degenerate mega-bucket but keeps true dups") {
    // degenerate corpus: every doc opens with the same boilerplate
    // 3-gram, so one shingle lands in ~every doc and its band buckets go
    // quadratic — plus one planted identical pair (100, 101)
    val docs = ((0L until 40L).map(i =>
      (i, s"boiler plate tail uniq${i}a uniq${i}b uniq${i}c")) ++
      Seq((100L, "planted pair body one two three"),
        (101L, "planted pair body one two three"))).toDF("doc_id", "text")
    val open = Dedup.minhashLsh(docs, 3, 12, 12, 0.0)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLsh(docs, 3, 12, 12, 0.0, maxBucket = 5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // the planted identical pair shares ALL bands — some of its buckets
    // hold just the pair, so the cap cannot lose it
    assert(open.contains((100L, 101L)) && capped.contains((100L, 101L)))
    // the boilerplate mega-bucket's quadratic pair flood is pruned
    assert(open.size > capped.size * 2,
      s"cap should collapse the candidate flood (open=${open.size} capped=${capped.size})")
  }

  test("LSH bucket cap (4096) is the DEFAULT; simhashPairs shares the knob") {
    // 4100 byte-identical docs put every band bucket over the 4096
    // default — the default call must not enumerate the ~8.4M-pair
    // mega-cluster; a planted distinct near-identical pair still matches
    // through its own (small) buckets
    val docs = ((0L until 4100L).map(i => (i, "aaa bbb ccc ddd eee")) ++
      Seq((9000L, "planted pair body one two three"),
        (9001L, "planted pair body one two three"))).toDF("doc_id", "text")
    val lsh = Dedup.minhashLsh(docs, 3, 12, 12, 0.0)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(lsh == Set((9000L, 9001L)),
      s"default LSH path must be capped, got ${lsh.size} pairs")
    val sim = Dedup.simhashPairs(docs, 6)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(sim == Set((9000L, 9001L)),
      s"default simhash path must be capped, got ${sim.size} pairs")
  }

  test("minhash LSH finds every high-jaccard pair (recall vs exact, sf0.001)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, 3, 12, 4, 0.10)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
  }

  test("incrementalLsh flags only batch docs, against corpus and earlier batch") {
    // ids 0..9 → split = 9*6 div 10 = 5; batch = {6..9}. Doc 7 duplicates
    // standing-corpus doc 2; doc 9 duplicates batch doc 8 (which is clean).
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val dup2 = "iota kappa lambda mu nu xi omicron pi rho"
    val uniq = (i: Long) => s"unique$i tokens$i for$i doc$i number$i body$i text$i"
    val docs = ((0L to 9L).map {
      case 2L => (2L, dup)
      case 7L => (7L, dup)
      case 8L => (8L, dup2)
      case 9L => (9L, dup2)
      case i  => (i, uniq(i))
    }).toDF("doc_id", "text")
    val got = Dedup.incrementalLsh(docs, 3, 12, 12, 0.5)
      .orderBy($"id").as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(got.map(_._1) == Seq(6L, 7L, 8L, 9L)) // batch docs only
    assert(got == Seq(
      (6L, false, None), (7L, true, Some(2L)),
      (8L, false, None), (9L, true, Some(8L))))
  }

  test("blockDedup: first occurrence survives, later block copies drop") {
    val a = "a" * 30 + " ten more." // 40-char-aligned block units
    val b = "b" * 33 + " seven."
    val c = "c" * 31 + " nine mo."
    val d = "d" * 32 + " eight.."
    assert(Seq(a, b, c, d).forall(_.length == 40))
    val docs = Seq(
      (1L, a + b),      // both blocks first-seen → kept 2/2
      (2L, b + c),      // b seen in doc 1 → kept 1/2
      (3L, a + b),      // nothing new → kept 0/2
      (4L, d + d)       // within-doc repeat: first copy kept → 1/2
    ).toDF("doc_id", "text")
    val got = Dedup.blockDedup(docs, 40).orderBy($"id")
      .select($"id", $"n_blocks", $"n_kept").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 2L, 0L), (4L, 2L, 1L)))
    // kept_md5 reflects ONLY surviving blocks, in document order
    val md5s = Dedup.blockDedup(docs, 40).orderBy($"id")
      .select($"kept_md5").as[String].collect()
    val ref = Seq(a + b, c, "", d).map(s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    assert(md5s.toSeq == ref)
  }

  test("blockCleanText reassembles exactly the blocks blockDedup keeps") {
    val a = "a" * 30 + " ten more."
    val b = "b" * 33 + " seven."
    val c = "c" * 31 + " nine mo."
    val d = "d" * 32 + " eight.."
    val docs = Seq(
      (1L, a + b), (2L, b + c), (3L, a + b), (4L, d + d)
    ).toDF("doc_id", "text")
    val got = Dedup.blockCleanText(docs, 40).orderBy($"id")
      .select($"id", $"text_clean", $"n_chars", $"n_chars_clean")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, a + b, 80L, 80L), (2L, c, 80L, 40L),
      (3L, "", 80L, 0L), (4L, d, 80L, 40L)))
  }

  test("lshParams picks the S-curve crossing just below the target threshold") {
    // crossing ≈ (1/b)^(1/r) for k = b·r = 12:
    //   b=12,r=1 → 0.083   b=6,r=2 → 0.408   b=4,r=3 → 0.630
    //   b=3,r=4 → 0.760    b=2,r=6 → 0.891   b=1,r=12 → 1.0
    val table = Seq(
      0.10 -> (12, 1), 0.45 -> (6, 2), 0.50 -> (6, 2),
      0.70 -> (4, 3), 0.80 -> (3, 4), 0.95 -> (2, 6))
    table.foreach { case (t, want) =>
      assert(Dedup.lshParams(12, t) == want, s"threshold $t")
    }
    // nothing crosses below a tiny target → fall back to max bands
    assert(Dedup.lshParams(12, 0.01) == (12, 1))
  }

  test("threshold-derived LSH keeps full recall on ≥-threshold pairs (both parameterizations)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // deterministic md5 minhash family ⇒ fixed recall per corpus, no flake
    Seq(0.10, 0.5).foreach { t =>
      val exact = Dedup.jaccardPairs(docs, 3, math.max(t, 0.5))
        .select($"i", $"j").as[(Long, Long)].collect().toSet
      val lsh = Dedup.minhashLshForThreshold(docs, 3, 12, t)
        .select($"i", $"j").as[(Long, Long)].collect().toSet
      assert(exact.nonEmpty)
      assert((exact -- lsh).isEmpty, s"t=$t missed: ${exact -- lsh}")
    }
  }

  test("clusters: label propagation finds transitive dup groups") {
    // chain 1-2-3 plus pair 10-11: two clusters
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: pointer doubling converges on chains far longer than maxIter") {
    // one 40-hop chain: plain propagation needs 39 rounds; doubling needs ~6
    val pairs = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("i", "j")
    val r = Dedup.clustersResult(pairs, maxIter = 10)
    assert(r.converged, s"did not converge in ${r.iterations} rounds")
    val labels = r.labels.as[(Long, Long)].collect()
    assert(labels.forall(_._2 == 0L))
  }

  test("clustersResult reports converged=false when maxIter is insufficient") {
    val pairs = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("i", "j")
    val r = Dedup.clustersResult(pairs, maxIter = 2)
    assert(!r.converged)
  }

  test("dedupeByPairs keeps one representative per cluster + all singletons") {
    val docs = (1L to 6L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val kept = Dedup.dedupeByPairs(docs, pairs).select($"doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))   // reps 1 and 5, singleton 4
  }

  test("OPH signature matches a plain-Scala reference: binning, rotation " +
    "densification (+t·M), empty-set sentinel") {
    val M = 2147483647L
    def ref(shingles: Seq[String], k: Int): Seq[Long] = {
      val bins = Array.fill(k)(Long.MaxValue)
      shingles.foreach { s =>
        var a = 0L
        s.codePoints().toArray.foreach(cp => a = (a * 31 + cp) % M)
        val h = (a * 48271L) % M
        val v = (2654435761L * h + 40503L) % M
        val b = (h % k).toInt
        if (v < bins(b)) bins(b) = v
      }
      (0 until k).map { j =>
        if (bins(j) != Long.MaxValue) bins(j)
        else (1 until k).collectFirst {
          case t if bins((j + t) % k) != Long.MaxValue => bins((j + t) % k) + t * M
        }.getOrElse(-1L)
      }
    }
    // few shingles << k forces empty bins → the densification path runs
    val cases = Seq(Seq("alpha beta gamma"), Seq("a b c", "d e f", "g h i"),
      (1 to 40).map(i => s"tok$i x y"), Seq.empty[String])
    cases.foreach { sh =>
      val got = Seq(Tuple1(sh)).toDF("shset")
        .select(graft.functions.oph_minhash_sig($"shset", 12))
        .as[Seq[Long]].head()
      assert(got == ref(sh, 12), s"shingles $sh")
    }
  }

  test("OPH estimator parity: per-position match rate tracks exact jaccard " +
    "as well as the k-mix family on planted-overlap pairs") {
    // pairs at controlled overlap: doc b shares the first f% of doc a's
    // 200 tokens; jaccard of 3-shingle sets ≈ known. Compare BOTH
    // signature families' |est − jaccard| — OPH must not be worse than
    // the k-mix family by more than 0.08 mean absolute error at k=12
    // (both are 12-sample estimators; this pins "same-quality signature")
    val toks = (1 to 260).map(i => s"w$i")
    val docs = (0 until 40).flatMap { p =>
      val keep = 40 + 4 * p // shared prefix length: 40..196 tokens
      Seq((2L * p, toks.take(200).mkString(" ")),
        (2L * p + 1,
          (toks.take(keep) ++ toks.slice(keep + 30, keep + 230 - keep + 30))
            .mkString(" ")))
    }.toDF("doc_id", "text")
    val base = docs.select($"doc_id".as("id"),
      array_distinct(graft.text.TextAnalysis.shingles($"text", 3)).as("shset"))
    def errs(sig: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Double = {
      val s = base.select($"id", sig($"shset").as("sig"), $"shset")
      val a = s.filter($"id" % 2 === 0).select(($"id" / 2).cast("long").as("p"),
        $"sig".as("sa"), $"shset".as("ha"))
      val b = s.filter($"id" % 2 === 1).select((($"id" - 1) / 2).cast("long").as("p"),
        $"sig".as("sb"), $"shset".as("hb"))
      a.join(b, "p").select(
        expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / 12.0").as("est"),
        expr("size(array_intersect(ha, hb)) / CAST(size(ha) + size(hb) - size(array_intersect(ha, hb)) AS DOUBLE)").as("jac"))
        .select(avg(abs($"est" - $"jac"))).as[Double].head()
    }
    val ophErr = errs(c => graft.functions.oph_minhash_sig(c, 12))
    val intErr = errs(c => graft.functions.minhash_int_sig(c, 12))
    assert(ophErr <= intErr + 0.08,
      f"OPH mean |est-J| $ophErr%.4f vs k-mix $intErr%.4f")
  }

  test("simhash pairs: planted near-identical docs collide within hamming 6") {
    val base = "spark query engine shuffles data across the cluster for joins and aggregates today"
    val docs = Seq((1L, base), (2L, base + " extra"), (3L, "completely different words entirely unrelated zebra"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, 6).select($"i", $"j").as[(Long, Long)].collect()
    assert(got.toSeq.contains((1L, 2L)))
    assert(!got.toSeq.contains((1L, 3L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("dot of unit vectors with themselves ≈ 1") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(5)
    val got = e.select(Similarity.dot($"embedding", $"embedding")).as[Double].collect()
    assert(got.forall(d => math.abs(d - 1.0) < 1e-5))
  }

  test("native LshSigExpr matches the declarative md5-parity signature") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val native = e.select($"vec_id",
      graft.functions.lsh_sig($"embedding", 3, 4, 64).as("sigs"))
    val declarative = e.select($"vec_id", array(
      (0 until 3).map(t => Similarity.lshSignature($"embedding", t, 4, 64)): _*).as("sigs"))
    val n = native.orderBy($"vec_id").as[(Long, Seq[String])].collect()
    val d = declarative.orderBy($"vec_id").as[(Long, Seq[String])].collect()
    assert(n.toSeq == d.toSeq)
  }

  test("LSH near-dup recall vs the exact all-pairs oracle (deterministic)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.nearDupPairs(e, 0.45)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairsLsh(e, 0.45, tables = 24, planes = 4, dims = 64)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    // md5-parity planes are data-independent ⇒ recall is a fixed number
    // for this corpus, not a flaky sample; every LSH pair is a true pair
    // (exact rescore), so precision is 1 by construction
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall=$recall")
    assert((lsh -- exact).isEmpty)
  }

  test("bitext margin mining: cross-parity pairs, one target per source, threshold monotone") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val mined = Similarity.bitextMarginMine(e, k = 4, marginMilli = 1020L)
      .as[(Long, Long, Long, Long)].collect()
    assert(mined.nonEmpty)
    // source side even, target side odd — the parity split IS the language split
    assert(mined.forall { case (x, y, _, _) => x % 2 == 0 && y % 2 == 1 })
    // argmax selection: exactly one mined target per source
    assert(mined.map(_._1).distinct.length == mined.length)
    // every reported margin clears the threshold
    assert(mined.forall(_._4 >= 1020L))
    // raising the bar can only shrink the mined set (same argmax targets)
    val strict = Similarity.bitextMarginMine(e, k = 4, marginMilli = 1100L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(strict.subsetOf(mined.toSet))
  }

  test("ivfTopK recall@5 vs brute force (deterministic; isotropic-data floor)") {
    // TESTDATA embeddings are near-isotropic random unit vectors — the
    // worst case for IVF (neighbours scatter across cells). Measured
    // recall with nprobe=2 of ~14 cells is 0.34 here; real embedding
    // corpora cluster, which is where IVF pays. The value is exact (the
    // sampled-centroid index is deterministic), so the pin is not flaky.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = Similarity.topK(e.filter($"vec_id" % 50 === 0), e, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, centroidMod = 37, nprobe = 2, k = 5, queryMod = 50)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
    // every IVF hit is a true vector pair rescored exactly
    assert(ivf.nonEmpty)
  }

  test("multi-table lshTopK recall@5 vs brute force ≥ 0.5 (OR-amplified ANN)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = Similarity.topK(e.filter($"vec_id" % 50 === 0), e, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(e, tables = 12, planes = 5, dims = 64, k = 5, threshold = 0.0)
      .filter($"qid" % 50 === 0)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("lshTopK auto-planes sizes buckets to the corpus; mega-buckets drop under the cap") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.count()
    // planes = 0 → smallest p with 2^p ≥ ⌈n/64⌉ (integer-exact): at this
    // sf the choice must equal the counting form the oracle replays
    val expectedPlanes = math.max(1,
      (0 until 62).count(p => (1L << p) < (n + 63) / 64))
    val auto = Similarity.lshTopK(e, tables = 12, planes = 0, dims = 64,
      k = 5, threshold = 0.0)
    val manual = Similarity.lshTopK(e, tables = 12, planes = expectedPlanes,
      dims = 64, k = 5, threshold = 0.0)
    assert(auto.collect().toSet == manual.collect().toSet)
    // planted mega-bucket: many copies of ONE vector land in the same
    // bucket in every table; with maxBucket below the clone count the
    // clone pairs vanish, while maxBucket=Int.MaxValue keeps them
    val base = e.limit(8)
    val clones = spark.range(500).crossJoin(base.limit(1))
      .select(($"id" + 100000L).as("vec_id"), $"embedding", $"label")
    val planted = base.unionByName(clones)
    val capped = Similarity.lshTopK(planted, tables = 2, planes = 1, dims = 64,
      k = 5, threshold = -1.0, maxBucket = 100)
      .filter($"qid" >= 100000L)
    assert(capped.count() == 0L)
    val exact = Similarity.lshTopK(planted, tables = 2, planes = 1, dims = 64,
      k = 5, threshold = -1.0, maxBucket = Int.MaxValue)
      .filter($"qid" >= 100000L)
    assert(exact.count() > 0L)
  }

  test("nearDupPairsLsh auto-planes equals the explicit choice; the " +
    "default cap drops a planted mega-bucket, exact opt-in keeps it") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.count()
    val expectedPlanes = math.max(1,
      (0 until 62).count(p => (1L << p) < (n + 63) / 64))
    val auto = Similarity.nearDupPairsLsh(e, 0.45, tables = 24, planes = 0,
      dims = 64)
    val manual = Similarity.nearDupPairsLsh(e, 0.45, tables = 24,
      planes = expectedPlanes, dims = 64)
    assert(auto.collect().toSet == manual.collect().toSet)
    // planted mega-bucket: 500 clones of one vector collide in every
    // table; the DEFAULT maxBucket=4096 keeps them (4096 > 508 rows),
    // maxBucket=100 drops the clone pairs, Int.MaxValue keeps them
    val base = e.limit(8)
    val clones = spark.range(500).crossJoin(base.limit(1))
      .select(($"id" + 100000L).as("vec_id"), $"embedding", $"label")
    val planted = base.unionByName(clones)
    val capped = Similarity.nearDupPairsLsh(planted, -1.0, tables = 2,
      planes = 1, dims = 64, maxBucket = 100)
      .filter($"i" >= 100000L)
    assert(capped.count() == 0L)
    val exact = Similarity.nearDupPairsLsh(planted, -1.0, tables = 2,
      planes = 1, dims = 64, maxBucket = Int.MaxValue)
      .filter($"i" >= 100000L)
    assert(exact.count() > 0L)
  }

  test("nearDupPairsLsh DEFAULT call on a cap-overflow corpus: the 4300-wide " +
    "clone bucket drops, a planted near-dup pair elsewhere still surfaces") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // 4300 clones of one vector exceed the default maxBucket=4096 in EVERY
    // table (identical signature); a separate duplicated vector is the
    // planted near-dup the default path must still find
    val base = e.orderBy($"vec_id").limit(2).collect()
    val cloneSrc = e.filter($"vec_id" === base(0).getLong(0))
    val clones = spark.range(4300).crossJoin(cloneSrc.drop("vec_id"))
      .select(($"id" + 100000L).as("vec_id"), $"embedding", $"label")
    val pairSrc = e.filter($"vec_id" === base(1).getLong(0)).drop("vec_id")
    val planted = clones
      .unionByName(pairSrc.select(lit(2L).as("vec_id"), $"embedding", $"label"))
      .unionByName(pairSrc.select(lit(4L).as("vec_id"), $"embedding", $"label"))
    // DEFAULT call: planes auto-size (no fixed-parameter wall), cap 4096
    val got = Similarity.nearDupPairsLsh(planted, 0.45)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(got.contains((2L, 4L)), s"planted near-dup pair lost: $got")
    assert(!got.exists { case (i, j) => i >= 100000L && j >= 100000L },
      "oversized clone bucket must contribute no pairs under the default cap")
  }

  test("bitextMarginMine DEFAULT call on a cap-overflow corpus: clone-mass " +
    "cells drop, the planted cross-language pair is still mined") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = e.orderBy($"vec_id").limit(1).collect()
    val cloneSrc = e.filter($"vec_id" === base(0).getLong(0))
    // 4300 even-id (source-side) clones of one vector: with ⌊√n⌋ sampled
    // centroids the whole clone mass ties into the lowest clone-centroid
    // cells (identical dots ⇒ cid-asc tie order), each > maxBucket=4096
    val clones = spark.range(4300).crossJoin(cloneSrc.drop("vec_id"))
      .select(($"id" * 2L + 100000L).as("vec_id"), $"embedding", $"label")
    // plant the reciprocal pair ON a sampled-centroid vector (vec_id ==
    // mod is a centroid; dot = 1.0 pins the pair's top-1 cell to that
    // centroid's own healthy-width cell, immune to where the clone mass
    // lands) — base rows at ids 2/3 are swapped out for the pair
    val mod = math.max(1L, math.sqrt((e.count() + 4300).toDouble).toLong)
    val pairSrc = e.filter($"vec_id" === mod).drop("vec_id")
    val planted = e.filter(!$"vec_id".isin(2L, 3L))
      .unionByName(clones)
      .unionByName(pairSrc.select(lit(2L).as("vec_id"), $"embedding", $"label"))
      .unionByName(pairSrc.select(lit(3L).as("vec_id"), $"embedding", $"label"))
    // a reciprocal pair at the top of both sides' kNN lists has margin
    // ≥ 2·sim/(sim+sim) = 1000 (its sim is each side's kNN maximum)
    val mined = Similarity.bitextMarginMine(planted, k = 4, marginMilli = 1000L)
      .select($"x", $"y").as[(Long, Long)].collect()
    assert(mined.map(_._1).contains(2L), s"planted bitext source lost: ${mined.toSeq}")
    assert(!mined.exists(_._1 >= 100000L),
      "oversized clone cells must contribute no mined sources under the default cap")
  }

  test("kmeansAssign auto-k picks floor(sqrt(n)) distinct-or-fewer " +
    "clusters and matches the explicit-k assignment") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.count()
    val expectedK = math.max(1L, math.sqrt(n.toDouble).toLong).toInt
    val auto = graft.sim.Clustering.kmeansAssign(e, k = 0, iters = 2)
    val manual = graft.sim.Clustering.kmeansAssign(e, k = expectedK, iters = 2)
    assert(auto.collect().toSet == manual.collect().toSet)
    assert(auto.select($"cid").distinct().count() <= expectedK)
  }

  test("randProj preserves relative distances (JL property, deterministic)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
      .withColumn("vu", expr("transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"))
    val proj = e.select($"vec_id", Similarity.randProj("vu", 16, 64).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    val orig = e.select($"vec_id", $"vu").as[(Long, Seq[Long])].collect().toMap
    // projected values are exact integers, invariant across partitionings
    val again = e.repartition(7)
      .select($"vec_id", Similarity.randProj("vu", 16, 64).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(proj == again)
    // JL with a 16-dim ±1 matrix: E[|Px-Py|²] = 16·|x-y|², so the
    // normalized distortion |Px-Py|²/(16·|x-y|²) concentrates near 1.
    // With fixed md5 planes this is a deterministic number per pair —
    // assert the MEDIAN distortion over 100 pairs sits in a wide band.
    def d2(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).map { case (x, y) => val d = (x - y).toDouble; d * d }.sum
    val ids = proj.keys.toSeq.sorted
    val ratios = ids.sliding(2).toSeq.take(100).flatMap {
      case Seq(i, j) =>
        val od = d2(orig(i), orig(j))
        if (od == 0) None
        else Some(d2(proj(i), proj(j)) / (16.0 * od))
      case _ => None
    }.sorted
    val median = ratios(ratios.size / 2)
    assert(median > 0.5 && median < 2.0, s"median distortion=$median")
  }

  test("hardNegatives never returns the query's own label and ranks by sim") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter($"vec_id" % 50 === 0)
    val hn = Similarity.hardNegatives(qs, e, 3)
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = hn.select($"qid", $"nid", $"rank").as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, n, _) =>
      assert(labels(q) != labels(n), s"query $q got same-label negative $n")
    }
    // per query: ranks are 1..k and the rank-1 negative dominates the
    // brute-force same-label-excluded field
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.size).toSeq)
    }
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** A structurally valid PNG prefix (magic + IHDR length/tag + 4-byte
    * big-endian width/height) as a binary column, from hex builtins.
    */
  private def pngHeader(width: org.apache.spark.sql.Column,
                        height: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(concat(
      lit("89504E470D0A1A0A"),    // PNG magic
      lit("0000000D49484452"),    // IHDR chunk length (13) + "IHDR"
      lpad(hex(width.cast("long")), 8, "0"),
      lpad(hex(height.cast("long")), 8, "0")))

  test("asMedia: binary content + typed metadata (schema contract)") {
    val m = Multimodal.asMedia(Seq((7L, "hello world")).toDF("id", "payload"),
      "id", "payload", "text/plain")
    assert(m.schema("content").dataType.typeName == "binary")
    val row = m.select($"media_id", $"meta.byte_len", $"meta.sha256").head()
    assert(row.getLong(0) == 7L)
    assert(row.getLong(1) == 11L)
    assert(row.getString(2) ==
      "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9")
  }

  test("pngDims parses IHDR dims from raw bytes; non-PNG bytes yield null") {
    val df = Seq(1L).toDF("id")
      .select(pngHeader(lit(640), lit(480)).as("png"),
        lit("not a png").cast("binary").as("junk"))
    val row = df.select(
      $"png".substr(1, 8),                       // magic intact
      Multimodal.pngDims($"png").as("d"),
      Multimodal.pngDims($"junk").as("j")).head()
    assert(row.getAs[org.apache.spark.sql.Row]("d").getInt(0) == 640)
    assert(row.getAs[org.apache.spark.sql.Row]("d").getInt(1) == 480)
    assert(row.getAs[org.apache.spark.sql.Row]("j") == null)
  }

  test("mp4 shell round-trips through the box walker; v1 and junk handled") {
    val bytes = Multimodal.encodeMp4Shell(timescale = 90000, durationUnits = 450000L)
    assert(Multimodal.mp4Meta(bytes).contains((90000, 450000L)))
    // a conforming reader skips unknown top-level boxes before moov
    val free = java.nio.ByteBuffer.allocate(12)
      .putInt(12).put("free".getBytes("US-ASCII")).putInt(0).array()
    assert(Multimodal.mp4Meta(free ++ bytes.drop(20)).contains((90000, 450000L)))
    // mvhd version 1 (64-bit times): hand-build the layout
    val v1 = {
      val b = java.nio.ByteBuffer.allocate(8 + 8 + 120)
      b.putInt(8 + 8 + 120).put("moov".getBytes("US-ASCII"))
      b.putInt(120).put("mvhd".getBytes("US-ASCII"))
      b.putInt(0x01000000)              // version 1
      b.putLong(0L).putLong(0L)         // ctime, mtime (64-bit)
      b.putInt(1000).putLong(2500L)     // timescale, duration (64-bit)
      while (b.hasRemaining) b.put(0.toByte)
      b.array()
    }
    assert(Multimodal.mp4Meta(v1).contains((1000, 2500L)))
    assert(Multimodal.mp4Meta("not a container".getBytes).isEmpty)
    assert(Multimodal.mp4Meta(bytes.take(30)).isEmpty) // truncated moov
  }

  test("jpeg shell round-trips through the marker walk; edge shapes handled") {
    val base = Multimodal.encodeJpegShell(640, 480, 3, progressive = false)
    assert(Multimodal.jpegMeta(base).contains((640, 480, 3, false)))
    assert(Multimodal.jpegMeta(
      Multimodal.encodeJpegShell(33, 7, 1, progressive = true))
      .contains((33, 7, 1, true)))
    // javax.imageio agrees the shell IS a JPEG frame header: the JDK's
    // own reader recovers the same dimensions from our bytes
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(base)))
    assert((rd.getWidth(0), rd.getHeight(0)) == (640, 480))
    // conforming readers step unknown APPn segments and FF fill bytes
    val app1 = Array(0xff, 0xe1, 0x00, 0x06, 0x41, 0x42, 0x43, 0x44)
      .map(_.toByte)
    val withApp1 = base.take(2) ++ app1 ++ base.drop(2)
    assert(Multimodal.jpegMeta(withApp1).contains((640, 480, 3, false)))
    val withFill = base.take(2) ++ Array(0xff.toByte) ++ base.drop(2)
    assert(Multimodal.jpegMeta(withFill).contains((640, 480, 3, false)))
    // dimensions > 0x7fff survive the signed-short write path
    assert(Multimodal.jpegMeta(
      Multimodal.encodeJpegShell(40000, 50000, 3, progressive = false))
      .contains((40000, 50000, 3, false)))
    assert(Multimodal.jpegMeta("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.jpegMeta(base.take(25)).isEmpty)      // truncated DQT
    assert(Multimodal.jpegMeta(base.take(2)).isEmpty)       // SOI only
    // SOS before any SOF (frame header missing) → None, not a bogus parse
    val soi = base.take(2)
    val sos = Array(0xff, 0xda, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3f, 0x00)
      .map(_.toByte)
    assert(Multimodal.jpegMeta(soi ++ sos).isEmpty)
  }

  test("wavMeta parses a canonical hand-written 44.1kHz stereo header") {
    // ground truth, independent of wavHeader: RIFF....WAVEfmt <16,PCM>
    // channels=2 (0200), rate=44100 (44AC0000), byteRate, align, bits=16
    val canonical = "52494646" + "24000000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0200" + "44AC0000" + "10B10200" + "0400" + "1000"
    val df = Seq(canonical).toDF("hx").select(unhex($"hx").as("wav"))
    val m = df.select(Multimodal.wavMeta($"wav").as("m")).head()
      .getAs[org.apache.spark.sql.Row]("m")
    assert(m.getInt(0) == 2)
    assert(m.getInt(1) == 44100)
    assert(m.getInt(2) == 16)
    // builder round-trips through the same parser; junk yields null
    val b = df.select(Multimodal.wavMeta(
      Multimodal.wavHeader(lit(2), lit(44100), lit(16))).as("m")).head()
      .getAs[org.apache.spark.sql.Row]("m")
    assert(b.getInt(0) == 2 && b.getInt(1) == 44100 && b.getInt(2) == 16)
    assert(df.select(Multimodal.wavMeta(lit("junk").cast("binary"))).head().get(0) == null)
  }

  test("decode stub: mapPartitions batch path yields deterministic frames") {
    val m = Multimodal.asMedia(
      Seq((1L, "a" * 120), (2L, "b" * 10)).toDF("id", "p"), "id", "p", "text/plain")
    val got = Multimodal.decode(m, frameStride = 50).orderBy($"media_id").collect()
    assert(got.length == 2)
    val r1 = got(0)
    def frames(r: org.apache.spark.sql.Row) =
      r.getAs[scala.collection.Seq[String]]("frames").toSeq
    assert(frames(r1).length == 3)   // 120 bytes / 50 → 3 windows
    assert(r1.getInt(1) == 16 + 120 % 640)                // stub width
    assert(frames(got(1)).length == 1)
    // deterministic: same input → same frames on re-run
    val again = Multimodal.decode(m, 50).orderBy($"media_id").collect()
    assert(frames(again(0)) == frames(r1))
  }

  test("real PNG codec: encode → javax.imageio decode round-trips pixels exactly") {
    val pixels = Array.tabulate(8 * 8)(p => (p * 37 + 11) % 256)
    val bytes = Multimodal.encodeGrayPng(pixels, 8, 8)
    // it is a real PNG: magic + IHDR header scan agrees with the raster
    assert(bytes.take(8).map(_ & 0xff).sameElements(
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)))
    val Some((w, h, ch, got)) = Multimodal.decodeImage(bytes)
    assert(w == 8 && h == 8 && ch == 1)
    assert(got.sameElements(pixels)) // lossless: REAL pixels == planted
    assert(Multimodal.decodeImage("not a png".getBytes("UTF-8")).isEmpty)
  }

  test("real PCM WAV codec: encode → chunk-walk decode round-trips samples exactly") {
    val samples = Array.tabulate(300)(i => ((i * 211 + 7) % 65536) - 32768)
    val bytes = Multimodal.encodePcm16Wav(samples, channels = 2, sampleRate = 44100)
    assert(bytes.length == 44 + 600)
    val Some((ch, rate, bits, got)) = Multimodal.decodePcmWav(bytes)
    assert(ch == 2 && rate == 44100 && bits == 16)
    assert(got.sameElements(samples)) // lossless: decoded == planted
    assert(Multimodal.decodePcmWav("not a wav".getBytes("UTF-8")).isEmpty)
  }

  test("PCM decode walks past unknown RIFF chunks and reads 8-bit PCM") {
    // hand-build: RIFF/WAVE + junk "LIST" chunk + fmt (8-bit mono) + data
    val data = Array[Byte](0, 64, 128.toByte, 255.toByte)
    val buf = java.nio.ByteBuffer.allocate(12 + 12 + 24 + 8 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(48 + data.length).put("WAVE".getBytes)
    buf.put("LIST".getBytes).putInt(4).put("INFO".getBytes) // skipped chunk
    buf.put("fmt ".getBytes).putInt(16)
    buf.putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    buf.put("data".getBytes).putInt(data.length).put(data)
    val Some((ch, rate, bits, got)) = Multimodal.decodePcmWav(buf.array())
    assert(ch == 1 && rate == 8000 && bits == 8)
    assert(got.sameElements(Array(-128, -64, 0, 127))) // unsigned-centered
    // non-PCM audioFormat must refuse, not misparse
    val nonPcm = buf.array().clone()
    nonPcm(12 + 12 + 8) = 3 // audioFormat = 3 (IEEE float)
    assert(Multimodal.decodePcmWav(nonPcm).isEmpty)
  }

  test("encodePcm16WavStage → decodeSamples is a distributed identity") {
    val rows = (0L until 7L).map(i =>
      (i, (0 until 64).map(s => ((i * 31 + s * 17) % 4096).toInt - 2048)))
    val df = rows.toDF("id", "samples")
    val media = Multimodal.encodePcm16WavStage(df, "id", "samples",
      channels = 1, sampleRate = 16000)
    val back = Multimodal.decodeSamples(media).orderBy($"media_id").collect()
    assert(back.length == 7)
    back.zip(rows).foreach { case (r, (id, s)) =>
      assert(r.getLong(0) == id)
      assert(r.getInt(1) == 1 && r.getInt(2) == 16000 && r.getInt(3) == 16)
      assert(r.getAs[scala.collection.Seq[Int]]("samples").toSeq == s)
    }
    // wavMeta's columnar header scan agrees with the chunk-walking parser
    val m = media.select(Multimodal.wavMeta(col("content")).as("m")).head()
      .getAs[org.apache.spark.sql.Row]("m")
    assert(m.getInt(0) == 1 && m.getInt(1) == 16000 && m.getInt(2) == 16)
  }

  test("decode routes WAV bytes through the real PCM parser") {
    val samples = Array.tabulate(120)(i => i * 100 - 6000)
    val wav = Multimodal.encodePcm16Wav(samples, channels = 1, sampleRate = 8000)
    val m = Multimodal.asMedia(Seq((5L, wav)).toDF("id", "b"), "id", "b", "audio/wav")
    val r = Multimodal.decode(m, frameStride = 50).head()
    assert(r.getInt(1) == 8000)  // width carries sample rate
    assert(r.getInt(2) == 120)   // height carries sample count
    assert(r.getInt(3) == 1)
    assert(r.getAs[scala.collection.Seq[String]]("frames").length == 3) // 120/50
  }

  test("decode routes PNG bytes through the real codec, others to the stub") {
    val pixels = Array.tabulate(6 * 4)(p => p % 256)
    val png = Multimodal.encodeGrayPng(pixels, 6, 4)
    val rows = Seq((1L, png), (2L, "z" * 120 getBytes "UTF-8"))
      .toDF("id", "bytes")
    val m = Multimodal.asMedia(rows, "id", "bytes", "application/octet-stream")
    val got = Multimodal.decode(m, 50).orderBy($"media_id").collect()
    // PNG row: REAL dims from the raster, one frame-md5 per pixel row (≤8)
    assert(got(0).getInt(1) == 6 && got(0).getInt(2) == 4 && got(0).getInt(3) == 1)
    assert(got(0).getAs[scala.collection.Seq[String]]("frames").length == 4)
    // non-PNG row: deterministic stub (width formula from byte length)
    assert(got(1).getInt(1) == 16 + 120 % 640)
  }

  test("real GIF codec: multi-frame encode → decode round-trips every frame exactly") {
    val frames = (0 until 4).map(f =>
      Array.tabulate(8 * 8)(p => (p * 37 + f * 91 + 11) % 256))
    val bytes = Multimodal.encodeGrayGif(frames, 8, 8)
    // it is a real GIF89a container
    assert(new String(bytes.take(6), "US-ASCII") == "GIF89a")
    val Some(got) = Multimodal.decodeGifFrames(bytes)
    assert(got.length == 4)
    got.zip(frames).foreach { case ((w, h, px), want) =>
      assert(w == 8 && h == 8)
      assert(px.sameElements(want)) // lossless: LZW + full 256-gray palette
    }
    assert(Multimodal.decodeGifFrames("not a gif".getBytes("UTF-8")).isEmpty)
  }

  test("encodeGrayGifStage → decodeGifFramesStage is a distributed identity") {
    val rows = (0L until 5L).map { i =>
      val nf = (i % 3).toInt + 2
      (i, (0 until nf).map(f =>
        (0 until 64).map(p => ((p * 7 + f * 13 + i.toInt * 29) % 256))))
    }
    val df = rows.toDF("id", "frames")
    val media = Multimodal.encodeGrayGifStage(df, "id", "frames", 8, 8)
    val dec = Multimodal.decodeGifFramesStage(media)
      .orderBy($"media_id", $"frame_idx").collect()
    assert(dec.length == rows.map(_._2.length).sum)
    dec.foreach { r =>
      val (id, idx) = (r.getLong(0), r.getInt(1))
      val want = rows(id.toInt)._2(idx)
      assert(r.getInt(2) == rows(id.toInt)._2.length) // n_frames
      assert(r.getInt(3) == 8 && r.getInt(4) == 8)
      assert(r.getAs[scala.collection.Seq[Int]]("pixels").toSeq == want)
    }
  }

  test("encodeGrayPngStage → decodePixels is a distributed identity on pixel arrays") {
    val fake = (0L until 9L).map(i => (i, 8, 8,
      Array.tabulate(64)(p => ((p + i.toInt * 5) % 256)).toSeq)).toDF("id", "w", "h", "px")
    val media = Multimodal.encodeGrayPngStage(fake, "id", "px", "w", "h")
    val dec = Multimodal.decodePixels(media).orderBy($"media_id").collect()
    assert(dec.length == 9)
    dec.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 8 && r.getInt(2) == 8 && r.getInt(3) == 1)
      val px = r.getAs[scala.collection.Seq[Int]]("pixels")
      assert(px == (0 until 64).map(p => (p + id.toInt * 5) % 256))
    }
  }

  test("frameSamplePlan matches the mapPartitions stub's windowing") {
    val df = Seq((1L, "x" * 120)).toDF("doc_id", "text")
    val planned = df.select(Multimodal.frameSamplePlan($"text", 50, 8)).as[Seq[String]].head()
    assert(planned.length == 3)
  }

  test("aHash: same-class items are near (≤3 bits), cross-class far; bands complete") {
    import spark.implicits._
    // 3 classes × 4 items; each item perturbs one distinct pixel
    val items = (0L until 12L).map(id => (id, id % 3, id % 64)).toDF("id", "cls", "np")
    val px = items.select($"id",
      Multimodal.fakePixels($"cls", $"np").as("px"))
    val bands = Multimodal.aHashBands(px, "id", "px")
    assert(bands.groupBy($"mid").count().filter($"count" =!= 4).count() == 0)
    // r13: the mean is an in-row fold, so banding adds no exchange
    // (was explode → mean-join → re-aggregate, 3 exchanges)
    assert(!bands.queryExecution.executedPlan.toString.contains("Exchange"),
      "aHashBands plan should be shuffle-free")
    val near = Multimodal.aHashNearDups(bands, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    // every found pair shares a class; cross-class hashes are far apart
    assert(near.nonEmpty)
    near.foreach { case (i, j, h) =>
      assert(i % 3 == j % 3, s"cross-class pair ($i,$j) at hamming $h")
      assert(h <= 3)
    }
    // pigeonhole completeness: brute-force hamming ≤ 3 pairs all appear
    val hs = bands.groupBy($"mid").agg(
        collect_list(struct($"band", $"bv")).as("b"))
      .as[(Long, Seq[(Long, Int)])].collect()
      .map { case (id, b) => id -> b.sortBy(_._1).map(_._2) }.toMap
    val brute = for {
      i <- hs.keys.toSeq.sorted; j <- hs.keys.toSeq.sorted if i < j
      d = (0 to 3).map(k => Integer.bitCount(hs(i)(k) ^ hs(j)(k))).sum
      if d <= 3
    } yield (i, j)
    assert(near.map(p => (p._1, p._2)).toSet == brute.toSet)
  }

  test("dHash: brightness-shift invariant, spike moves ≤ 2 bits, no pre-band shuffle") {
    import spark.implicits._
    // base raster + globally brightened copy (+40, no wraparound by
    // construction: values are scaled into 0..199) + one-pixel spike
    val base = (0 until 72).map(p => (p * 37) % 200)
    val items = Seq(
      (0L, base), (1L, base.map(_ + 40)),
      (2L, base.updated(10, (base(10) + 128) % 256)))
      .toDF("id", "px")
    val bands = Multimodal.dHashBands(items, "id", "px")
    val hs = bands.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // gradient signs ignore the +40 brightness shift entirely
    (0 to 3).foreach(k => assert(hs((0L, k)) == hs((1L, k)), s"band $k"))
    // a single-pixel spike flips at most its two adjacent gradient bits
    val d = (0 to 3).map(k => Integer.bitCount(hs((0L, k)) ^ hs((2L, k)))).sum
    assert(d >= 1 && d <= 2, s"spike moved $d bits")
    // scan-local claim: hashing adds no exchange (aHash's mean is an
    // in-row fold since r13, so both hash families are shuffle-free)
    val plan = bands.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "dHashBands plan should be shuffle-free")
  }

  test("banded near-dup maxBucket drops a mega-cluster, keeps small clusters") {
    import spark.implicits._
    // one asset "reposted" 10⁴ times (all four bands identical) + two
    // 3-item exact clusters — without the cap the mega-cluster alone is
    // ~5·10⁷ candidate pairs
    val rows =
      (0L until 10000L).flatMap(id => (0 to 3).map(k => (id, k.toLong, 7))) ++
      (20000L to 20002L).flatMap(id => (0 to 3).map(k => (id, k.toLong, 100 + k))) ++
      (30000L to 30002L).flatMap(id => (0 to 3).map(k => (id, k.toLong, 200 + k)))
    val bands = rows.toDF("mid", "band", "bv")
    val got = Multimodal.aHashNearDups(bands, maxHamming = 3, maxBucket = 100)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val want = (for { a <- 20000L to 20002L; b <- 20000L to 20002L if a < b }
      yield (a, b)).toSet ++
      (for { a <- 30000L to 30002L; b <- 30000L to 30002L if a < b } yield (a, b))
    assert(got == want, s"got $got")
  }

  test("banded near-dup: the cap (256) is the DEFAULT; exact audit is the " +
    "explicit Int.MaxValue opt-in") {
    import spark.implicits._
    // a 300-clone cluster (over the 256 default) + one 3-item cluster:
    // the default call must drop the clone flood un-asked
    val rows =
      (0L until 300L).flatMap(id => (0 to 3).map(k => (id, k.toLong, 7))) ++
      (20000L to 20002L).flatMap(id => (0 to 3).map(k => (id, k.toLong, 100 + k)))
    val bands = rows.toDF("mid", "band", "bv")
    val small = (for { a <- 20000L to 20002L; b <- 20000L to 20002L if a < b }
      yield (a, b)).toSet
    val bydefault = Multimodal.aHashNearDups(bands, maxHamming = 3)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(bydefault == small, s"default path must be capped, got $bydefault")
    val exact = Multimodal
      .aHashNearDups(bands, maxHamming = 3, maxBucket = Int.MaxValue)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(exact.size == 300 * 299 / 2 + small.size)
  }
}

class UnigramSpec extends SparkSpec {
  import graft.text.Unigram
  import spark.implicits._

  // "abcd" dominates the corpus; "zq" is rare filler
  private def corpus = ((0L until 30L).map(i => (i, "abcd abcd abcd")) ++
    Seq((100L, "zq wxyz"))).toDF("doc_id", "text")

  test("trainVocab keeps every char and the dominant multi-char subword") {
    val v = Unigram.collectVocab(Unigram.trainVocab(corpus, topN = 8))
    // coverage: every char of the corpus is present
    "abcdzqwxy".foreach(c => assert(v.contains(c.toString), s"missing char $c"))
    assert(v.contains("abcd"), "dominant 4-gram should make the vocab")
    // frequent subwords cost less than rare ones ("wx" is a freq-1 multi
    // that survives the topN cut by the asc tiebreak; "zq" does not)
    assert(v("abcd") < v("wx"))
    assert(!v.contains("zq"), "topN cut should drop the late-sorting rare multi")
  }

  test("Viterbi picks the single frequent subword over per-char splits") {
    val v = Unigram.collectVocab(Unigram.trainVocab(corpus, topN = 8))
    val got = Unigram.segmentDocs(corpus, v)
      .filter($"doc_id" === 0L).head()
    assert(got.getLong(1) == 3)  // n_toks
    assert(got.getLong(2) == 3,  // n_subwords: each "abcd" is ONE piece
      s"expected 3 single-piece segmentations, got ${got.getLong(2)}")
  }

  test("native unigram_seg matches the declarative literal-map DP") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v = Unigram.collectVocab(Unigram.trainVocab(docs, topN = 64))
    val toks = docs.select(
      explode(graft.text.TextAnalysis.tokens($"text")).as("tok"))
      .select(substring($"tok", 1, Unigram.MaxWord).as("tok")).distinct()
    val native = toks.select($"tok",
      graft.functions.unigram_seg($"tok", v, Unigram.MaxSub, Unigram.MaxWord).as("v"))
    val decl = Unigram.withSegmentValue(toks, "tok", v)
    val diff = native.as("n").join(decl.as("d"), $"n.tok" === $"d.tok")
      .filter($"n.v" =!= $"d.v").count()
    assert(diff == 0, s"$diff tokens disagree between native and declarative DP")
  }

  test("lam is the exact bit-length + mantissa log2 surrogate") {
    assert(Unigram.lam(1) == 0)
    assert(Unigram.lam(2) == 65536)
    assert(Unigram.lam(4) == 131072)
    assert(Unigram.lam(3) == 65536 + 32768) // linear mantissa midpoint
    // monotone on a sweep
    val vals = (1L to 1000L).map(Unigram.lam)
    assert(vals.zip(vals.tail).forall { case (a, b) => a <= b })
  }
}

class QualityModelSpec extends SparkSpec {
  import graft.text.QualityModel
  import spark.implicits._

  // planted separable data: y follows x1 exactly; x2/x3 are noise
  private def planted = (0L until 200L).map { i =>
    val hi = i % 2 == 0
    (i, 1000L, if (hi) 900L else 100L, (i % 7) * 100L, (i % 5) * 100L,
      if (hi) 1000L else 0L)
  }.toDF("doc_id", "x0", "x1", "x2", "x3", "y")

  test("standardize: z-scored features have ~zero integer mean") {
    val std = QualityModel.standardize(planted)
    val m = std.selectExpr("avg(x1)", "avg(x2)", "avg(x3)").head()
    (0 until 3).foreach(k => assert(math.abs(m.getDouble(k)) < 50,
      s"feature ${k + 1} mean ${m.getDouble(k)} not centered"))
  }

  test("train recovers a planted separable boundary (weights + accuracy)") {
    val (w, n, acc) = QualityModel.train(QualityModel.standardize(planted), 8)
    assert(n == 200)
    // the informative feature carries the dominant positive weight
    assert(w(1) > 0 && w(1) > math.abs(w(2)) && w(1) > math.abs(w(3)))
    assert(acc >= 190, s"only $acc/200 correct") // separable → near-perfect
  }

  test("train is invariant to partitioning (exact fixed-point arithmetic)") {
    val one = QualityModel.train(QualityModel.standardize(planted).coalesce(1), 4)
    val many = QualityModel.train(QualityModel.standardize(planted).repartition(7), 4)
    assert(one._1.toSeq == many._1.toSeq && one._3 == many._3)
  }

  test("teacher labels flip exactly on the noise slice") {
    val f = QualityModel.features(Seq((11L, "the and of to a in is x y z"))
      .toDF("doc_id", "text"))
    val y = f.withColumn("y", QualityModel.teacherLabel(11)).select("y").head().getLong(0)
    val rule = f.selectExpr("x1 * 2 + x2 + x3 * 3 >= 2100").head().getBoolean(0)
    // doc_id 11 % 11 == 0 → label must be the rule INVERTED
    assert(y == (if (rule) 0L else 1000L))
  }
}

class ZipfSpectrumSpec extends SparkSpec {
  import spark.implicits._

  test("zipfSpectrum: hand-computed spectrum on planted frequencies") {
    // term freqs: a=8, b=4, c=2, d=1 → floor-log₂ buckets 3,2,1,0;
    // tail counts N(≥2^lvl) = 4,3,2,1 and exact integer DIV ratios
    val docs = Seq("a a a a a a a a b b b b c c d").toDF("text")
    val got = TextAnalysis.zipfSpectrum(docs).orderBy($"lvl")
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0, 4L, 750L), // 1000·3 DIV 4
      (1, 3L, 666L), // 1000·2 DIV 3
      (2, 2L, 500L),
      (3, 1L, 0L))) // top level: no (lvl+1) → ratio 0
  }

  test("cross-modal dedup: a text edge and an image edge bridge into ONE " +
    "component; disconnected clusters stay apart") {
    val textPairs = Seq((1L, 2L)).toDF("i", "j")
    val imgPairs = Seq((2L, 3L), (10L, 11L)).toDF("i", "j")
    val labels = Dedup.clusters(textPairs.unionByName(imgPairs).distinct())
      .as[(Long, Long)].collect().toMap
    // 1—2 (text) + 2—3 (image) → {1,2,3} under representative 1: a
    // repost that matches by EITHER modality joins the same cluster
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }
}
