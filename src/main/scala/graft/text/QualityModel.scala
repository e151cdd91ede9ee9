package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine trainable quality classifier: feature standardization +
  * full-batch gradient descent on a logistic model with a HARD sigmoid,
  * entirely in exact fixed-point arithmetic — weights are engine- and
  * partitioning-invariant BIGINTs, so the DuckDB oracle replays every
  * round bit-for-bit.
  *
  * Model (logical units): p = clamp(z/4 + 1/2, 0, 1) with
  * z = Σ w_k·x_k over z-scored features; squared-error gradient
  * g_k = mean((p − y)·x_k); update w ← w − lr·g. Fixed-point: x and y
  * in 1e-3 units, w in 1e-6 units, p1000 = clamp(floor(z/4·10⁶)+500,
  * 0, 1000). The only non-integer steps are floor(·) over ≤2^53-exact
  * doubles and one floor(sqrt(·)) — both IEEE-correctly-rounded and
  * identical across engines (Spark DIV truncates toward zero while
  * DuckDB // floors, so anything signed goes through the double floor).
  *
  * Scale shape: one corpus scan computes features, ONE map-combined
  * aggregation computes all standardization moments (μ from Σx, σ via
  * the exact integer identity Σ(x−μ)² = Σx² − 2μΣx + nμ²), and each GD
  * round is one aggregation producing 4 longs — the textbook
  * distributed-ML driver loop. Nothing ever shuffles at content grain.
  */
object QualityModel {

  /** Per-mille integer features: x0 bias (1000), x1 length saturation
    * (min(tokens,100)·10), x2 alpha density, x3 en-stopword rate.
    * Keeps `idCol` for label construction.
    */
  def features(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    // r14 (§1.2, the repo's interpreted-HOF lesson): markerCount is a
    // `filter` HOF — interpreted, and it re-evaluates its array argument
    // PER ELEMENT. With toks inlined as the regexp_extract_all subtree,
    // a 50-token doc ran the tokenizer regex ~50× per row. Hoist the
    // token array into its own projection so the HOF references a plain
    // attribute (CollapseProject keeps non-cheap multi-use producers
    // un-inlined). x1/x3 denominators reuse the same array — identical
    // values, one tokenizer pass per row.
    // Fan-out: tokenize + regexp per row is row-dominated stage work
    // (no-op at production split counts; Tables doc).
    graft.ops.Hints.spread(docs)
      .select(col(idCol), col(textCol),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(
        col(idCol),
        lit(1000L).as("x0"),
        (least(size(col("_toks")), lit(100)) * 10)
          .cast("long").as("x1"),
        floor((size(regexp_extract_all(lower(col(textCol)), lit("[a-z]"), lit(0)))
            .cast("double") * 1000) / greatest(length(col(textCol)), lit(1)))
          .cast("long").as("x2"),
        floor((TextAnalysis.markerCount(col("_toks"), TextAnalysis.stopwords("en"))
            .cast("double") * 1000)
            / greatest(size(col("_toks")), lit(1)))
          .cast("long").as("x3"))
  }

  /** Teacher labels for trainer validation: a planted linear rule over
    * the raw features, sign-flipped on `idCol % noiseMod = 0` rows
    * (≈1/noiseMod label noise). The trainer must recover the boundary
    * through the noise — the standard planted-ground-truth check.
    */
  def teacherLabel(noiseMod: Int): Column =
    when((col("x1") * 2 + col("x2") + col("x3") * 3 >= 2100)
      =!= (pmod(col("doc_id"), lit(noiseMod)) === 0), 1000L).otherwise(0L)

  /** Z-score x1..x3 in exact integer arithmetic: μ = floor(Σx/n),
    * σ = max(floor(sqrt(floor((Σx² − 2μΣx + nμ²)/n))), 1),
    * x' = floor((x−μ)·1000/σ). One moments aggregation; μ/σ embed in
    * the returned plan as literals.
    */
  def standardize(feats: DataFrame): DataFrame = {
    val m = feats.selectExpr(
      "CAST(count(*) AS BIGINT) AS n" +:
        (1 to 3).flatMap(k => Seq(s"sum(x$k) AS s$k", s"sum(x$k * x$k) AS q$k")): _*)
      .head()
    val n = m.getLong(0)
    val musd = (1 to 3).map { k =>
      val s = m.getLong(2 * k - 1)
      val q = m.getLong(2 * k)
      val mu = Math.floorDiv(s, n)
      val va = Math.floorDiv(q - 2 * mu * s + n * mu * mu, n)
      (mu, math.max(math.floor(math.sqrt(va.toDouble)).toLong, 1L))
    }
    (1 to 3).foldLeft(feats) { (df, k) =>
      val (mu, sd) = musd(k - 1)
      df.withColumn(s"x$k",
        floor((col(s"x$k") - mu).cast("double") * 1000 / sd).cast("long"))
    }
  }

  private def pExpr(w: Array[Long]): String = {
    val z = (0 until 4).map(k => s"${w(k)} * x$k").mkString(" + ")
    s"least(greatest(CAST(floor(($z) / 4000000.0) AS BIGINT) + 500, 0), 1000)"
  }

  /** `rounds` full-batch GD rounds from w = 0 with lr = 1/2. Returns
    * (weights in 1e-6 units, n docs, n correct at the final weights).
    */
  def train(feats: DataFrame, rounds: Int): (Array[Long], Long, Long) = {
    val f = feats.localCheckpoint(eager = false)
    val n = f.count() // eager materialization + the batch size
    var w = Array.fill(4)(0L)
    for (_ <- 1 to rounds) {
      val p = pExpr(w)
      val g = f.selectExpr(
        (0 until 4).map(k => s"sum((($p) - y) * x$k) AS g$k"): _*).head()
      w = Array.tabulate(4)(k =>
        w(k) - math.floor(g.getLong(k) / (2.0 * n)).toLong)
    }
    val acc = f.selectExpr(
      s"sum(CASE WHEN ((${pExpr(w)}) >= 500) = (y = 1000) THEN 1 ELSE 0 END) AS c")
      .head().getLong(0)
    (w, n, acc)
  }

  /** Full pipeline — features → teacher labels → standardize → train —
    * presented as a (feature, weight, n_correct) frame.
    */
  def trainedWeights(spark: SparkSession, docs: DataFrame, rounds: Int,
                     noiseMod: Int): DataFrame = {
    val labeled = features(docs).withColumn("y", teacherLabel(noiseMod))
    val (w, _, acc) = train(standardize(labeled), rounds)
    spark.createDataFrame(
      spark.sparkContext.parallelize(w.zipWithIndex.map {
        case (wk, k) => Row(k, wk, acc)
      }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_correct",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
