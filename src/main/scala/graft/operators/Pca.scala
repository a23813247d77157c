package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DfCache, Tables}

/** [EXT] top principal component of the embedding corpus by distributed
  * power iteration — the "all-but-the-top" post-processing step
  * (removing the dominant direction de-biases anisotropic embedding
  * spaces before cosine retrieval) and the 1-component core of PCA
  * whitening. Complements the existing embedding stack: k-means builds
  * cell structure (q52), PQ compresses (q113); this extracts the
  * corpus-level dominant direction neither exposes.
  *
  * Algorithm: v_{t+1} ∝ C v_t without EVER materializing the d×d
  * covariance C — each round is one narrow pass computing
  * s_i = ⟨x_i − μ, v⟩ (native `graft_dot` kernel against a broadcast
  * literal v) and ONE dim-bounded aggregate: grouping the posexploded
  * coordinates by position yields both Σ_i s_i·x_ij and Σ_i s_i in the
  * same 64-row HashAggregate, from which w_j = Σ s_i x_ij − μ_j Σ s_i
  * — the mean-centering is two correction terms, so the raw (cached,
  * columnar) table is scanned as-is. Per round the driver collects d
  * doubles (the scalar-per-round discipline of q137's BPE argmax);
  * rounds are fixed at [[Iters]] with the Rayleigh sequence reported.
  * At 100 TB: rounds × (one scan + one 64-row shuffle) — the scan
  * dominates and is embarrassingly parallel; nothing grows with n but
  * the scan itself.
  *
  * Cross-engine: the eigenvector is iterative float math no SQL engine
  * reproduces bit-wise, so the ORACLE pins the contract surface
  * (corpus shape + the laws: unit norm, monotone Rayleigh ascent,
  * 0 < λ₁ ≤ total variance) and the SPEC pins the numbers against a
  * dense same-recurrence recompute and a converged reference. */
object Pca {

  /** Fixed power-iteration rounds. Convergence is spectral-gap
    * dependent: this synthetic corpus is near-isotropic (measured
    * λ₂/λ₁ ≈ 0.93–0.99 across SFs), the SLOWEST regime for power
    * iteration, so 20 rounds land within ~4% of the true λ₁ at test
    * scale (spec-pinned band); a production corpus with a genuinely
    * dominant direction (the anisotropy all-but-the-top exists to
    * remove) converges geometrically faster. The L1-delta early exit
    * of q138 applies verbatim if rounds should adapt. */
  private[graft] val Iters = 20

  /** Power-iteration result: corpus size, dim, mean vector, the unit
    * top component, and the per-round Rayleigh estimates λ_t = vᵀCv. */
  final case class TopComponent(n: Long, dim: Int, mean: Array[Double],
      component: Array[Double], rayleigh: Seq[Double])

  private[graft] def topComponent(spark: SparkSession, dir: String)
      : TopComponent =
    DfCache.value(spark, s"pca_top|$dir") {
      graft.plans.GraftFunctions.register(spark)
      val ex = DfCache.df(spark, s"pca_embeddings|$dir")(
        Tables.embeddings(spark, dir).select("embedding"))
      // ONE job yields n, dim AND the mean vector (was three: count,
      // dim head, mean collect — each a full scheduling round trip):
      // the pos-keyed profile's row count IS dim and any pos's count
      // IS n. Per-pos sums are unchanged, so the mean is bit-identical.
      // posexplode_OUTER keeps a null or empty embedding as one null-pos
      // row, where posexplode would drop it and silently undercount n;
      // the null-pos group it forms in this same aggregation is rejected
      // below at no extra job
      val prof = ex
        .select(posexplode_outer(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos").agg(sum(col("x").cast("double")).as("sx"),
          count(lit(1)).as("cnt"))
        .collect()
      require(!prof.exists(_.isNullAt(0)),
        s"null or empty embedding in $dir: " +
          s"${prof.find(_.isNullAt(0)).map(_.getLong(2)).getOrElse(0L)} rows")
      val n = prof.head.getLong(2)
      // n is read off ONE position's profile row, which equals the
      // embedding row count only when every vector has the same length
      // (nulls were rejected above). Assert that instead of assuming it
      // (ADVICE r15): a ragged embedding must fail loudly, not silently
      // skew n/dim and the mean.
      require(prof.forall(_.getLong(2) == n),
        s"ragged embedding corpus in $dir: per-position counts " +
          s"${prof.map(_.getLong(2)).distinct.sorted.mkString(",")}")
      val dim = prof.length
      val mean = prof.map(r => r.getInt(0) -> r.getDouble(1) / n)
        .sortBy(_._1).map(_._2)
      var v = Array.fill(dim)(1.0 / math.sqrt(dim))
      val lambdas = Seq.newBuilder[Double]
      import spark.implicits._
      (1 to Iters).foreach { _ =>
        val muDotV = mean.zip(v).map { case (a, b) => a * b }.sum
        // r15: v and μ·v enter as a broadcast 1-row frame, NOT literals
        // (stage profile: the query's wall was ~4 s against only ~1.6 s
        // of task time — almost pure driver latency, because embedding
        // a fresh 64-double literal in every round's plan changes the
        // generated code and forces a whole-stage-codegen COMPILE per
        // round, 20×). With the values as broadcast columns the
        // generated source is identical across rounds (and across
        // SFs), so round 2+ hit the codegen cache; per-row arithmetic
        // is unchanged (same graft_dot(embedding, v) − μ·v into the
        // same pos-keyed sums), and the broadcast of a driver-local
        // 1-row relation builds without a Spark job.
        val vRow = broadcast(Seq((v.toSeq, muDotV)).toDF("__v", "__mu"))
        val agg = ex
          .crossJoin(vRow)
          .select((expr("graft_dot(embedding, __v)") - col("__mu")).as("s"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("pos")
          .agg(sum(col("x").cast("double") * col("s")).as("sxs"),
            sum(col("s")).as("ss"))
          .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
          .sortBy(_._1).map(_._2)
        val w = agg.zipWithIndex.map { case ((sxs, ss), j) =>
          sxs - mean(j) * ss }
        lambdas += v.zip(w).map { case (a, b) => a * b }.sum / n
        val norm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(_ / norm)
      }
      TopComponent(n, dim, mean, v, lambdas.result())
    }

  /** q162 — the contract surface of [[topComponent]]: corpus shape and
    * the three laws any correct top-PC extraction satisfies. A broken
    * kernel, a sign of divergence, or a variance-accounting bug flips
    * a flag and fails the oracle hash. */
  def q162TopComponent(spark: SparkSession, dir: String): DataFrame = {
    val tc = topComponent(spark, dir)
    val unitNorm =
      math.abs(math.sqrt(tc.component.map(x => x * x).sum) - 1.0) < 1e-9
    val monotone = tc.rayleigh.zip(tc.rayleigh.tail)
      .forall { case (a, b) => b >= a - 1e-9 * math.max(1.0, math.abs(a)) }
    // total variance = E‖x−μ‖² — exact enough from the same passes
    val totalVar = {
      val ex = Tables.embeddings(spark, dir)
      graft.plans.GraftFunctions.register(spark)
      val sumSq = ex.select(expr("graft_dot(embedding, embedding)").as("q"))
        .agg(sum(col("q"))).head().getDouble(0)
      sumSq / tc.n - tc.mean.map(x => x * x).sum
    }
    val lambdaOk = tc.rayleigh.last > 0 &&
      tc.rayleigh.last <= totalVar * (1 + 1e-9)
    import spark.implicits._
    Seq((tc.n, tc.dim, Iters, unitNorm, monotone, lambdaOk))
      .toDF("n_vectors", "dim", "iters", "unit_norm_ok",
        "rayleigh_monotone_ok", "lambda_in_variance_ok")
  }

  /** A dimension is flagged dead when its variance is under this
    * fraction of the MEDIAN per-dimension variance (data-derived
    * threshold — the r07 no-hardcoded-cutoff rule; the fraction itself
    * is the declared policy parameter). */
  private[graft] val DeadVarPct = 100L // 1/100th of the median variance

  /** q238 — EMBEDDING-DIMENSION HEALTH audit: per coordinate of the
    * embedding space, n / mean / variance / std / min / max /
    * zero-fraction, plus a dead-dimension flag (variance under
    * 1/[[DeadVarPct]] of the median dimension variance) — the
    * embedding-table QA every retrieval/cluster pipeline runs before
    * trusting cosine geometry: collapsed or near-constant dimensions
    * carry no signal but still cost index space, and a dimension whose
    * variance dwarfs the rest dominates every distance.
    *
    * Exactness (the q223/q227 composite): coordinates micro-quantize
    * to BIGINT once, Σv and Σv² fold exact, the variance moments
    * n·Σv² − (Σv)² form in DOUBLES (the q227 int64-overflow lesson;
    * the exact Σv² fold itself is documented DECIMAL(38,0) at 100 TB —
    * the q154 drop-in), min/max/zero-count are exact; the dead
    * threshold compares against a broadcast median over the
    * dim-row profile.
    *
    * Scale shape: ONE posexplode + (pos) hash aggregate — combinable
    * fold of the scan; everything after runs on the dim-row profile. */
  def q238DimHealth(spark: SparkSession, dir: String): DataFrame = {
    val prof = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm",
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("s"),
        sum(col("vm") * col("vm")).as("ss"),
        min(col("vm")).as("vmin"), max(col("vm")).as("vmax"),
        sum(when(col("vm") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .withColumn("variance",
        (col("n").cast("double") * col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double")) /
          (col("n").cast("double") * col("n").cast("double")) / 1e12)
    val medVar = prof.agg(expr("percentile(variance, 0.5d)").as("mv"))
    prof.crossJoin(broadcast(medVar))
      .select(col("pos"), col("n"),
        round(col("s").cast("double") / col("n") / 1e6, 6).as("mean"),
        round(col("variance"), 6).as("variance"),
        round(sqrt(col("variance")), 6).as("std"),
        round(col("vmin").cast("double") / 1e6, 6).as("v_min"),
        round(col("vmax").cast("double") / 1e6, 6).as("v_max"),
        round(col("n_zero").cast("double") / col("n"), 6).as("zero_frac"),
        (col("variance") * lit(DeadVarPct.toDouble) < col("mv")).as("dead"))
      .orderBy("pos")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q238_dim_health" -> (q238DimHealth _),
    "q162_top_component" -> (q162TopComponent _))

  val oracles: Map[String, String] = Map(
    "q238_dim_health" ->
      s"""WITH ex AS (
        |  SELECT i - 1 AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS vm
        |  FROM (SELECT embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |prof AS (
        |  SELECT pos, count(*) AS n,
        |         CAST(sum(vm) AS BIGINT) AS s,
        |         CAST(sum(vm * vm) AS BIGINT) AS ss,
        |         CAST(min(vm) AS BIGINT) AS vmin,
        |         CAST(max(vm) AS BIGINT) AS vmax,
        |         CAST(count(*) FILTER (WHERE vm = 0) AS BIGINT) AS n_zero
        |  FROM ex GROUP BY 1),
        |pv AS (
        |  SELECT *,
        |         (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12
        |           AS variance
        |  FROM prof),
        |mv AS (SELECT quantile_cont(variance, 0.5) AS mv FROM pv)
        |SELECT CAST(pos AS INTEGER) AS pos, n,
        |       round(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean,
        |       round(variance, 6) AS variance,
        |       round(sqrt(variance), 6) AS std,
        |       round(CAST(vmin AS DOUBLE) / 1e6, 6) AS v_min,
        |       round(CAST(vmax AS DOUBLE) / 1e6, 6) AS v_max,
        |       round(CAST(n_zero AS DOUBLE) / n, 6) AS zero_frac,
        |       variance * ${DeadVarPct}.0 < (SELECT mv FROM mv) AS dead
        |FROM pv ORDER BY pos""".stripMargin,
    "q162_top_component" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(max(len(embedding)) AS INTEGER) AS dim,
         |       $Iters AS iters,
         |       TRUE AS unit_norm_ok,
         |       TRUE AS rayleigh_monotone_ok,
         |       TRUE AS lambda_in_variance_ok
         |FROM embeddings""".stripMargin)
}
