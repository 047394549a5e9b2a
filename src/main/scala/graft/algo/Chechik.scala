package graft.algo

import graft.core.{Materializer, LocalMaterializer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chechik–Cohen–Kaplan sampled top-k closeness (the reference's flagship,
  * ChechikEstimator.java + ChechikFarnessEstimator.java +
  * ChechikTopCloseness.java), re-expressed as Dataset supersteps:
  *
  *  1. pivot sample of size max(⌈log₂ n⌉, 2) (ChechikEstimator.java:68-70)
  *  2. multi-source BFS from pivots → λ(w) = max(1/n, max_s d(s,w)/F(s))
  *     (A9, ChechikEstimator.java:52,151-160)
  *  3. keep-probability p_v = min(1, K·λ_v), K = ⌈ln n / ε²⌉
  *     (A10, ChechikEstimator.java:46,166-172)
  *  4. Bernoulli sample S by p_v; multi-source BFS from S; Horvitz–Thompson
  *     farness estimate apxF(v) = Σ_{s∈S} d(s,v)/p_s
  *     (A8, ChechikFarnessEstimator.java:143,158-161)
  *  5. certification loop (T7, ChechikTopCloseness.java:148-153,182-219):
  *     exact-BFS candidates in ascending apxF batches; certify processed v
  *     once exactCloseness(v) ≥ (1+ε)·max apxCloseness of the unprocessed;
  *     stop at ≥ k certified.
  *
  * Invariants that let the run skip work the reference repeats:
  *  - Forced sample: λ ≥ 1/n, so K ≥ n makes every p_v = 1 and S = V
  *    whatever the pivots reach. Steps 1-3 are then skipped (no pivot
  *    draw, no pivot BFS) and the telemetry reports 0 initial pivots.
  *  - Sample farness is exact: on the symmetrized graph the sample visit's
  *    Σ_v d(s,v) is F(s) for every s ∈ S, so S enters the certification
  *    set `processed` with its exact farness, and the schedule ranks only
  *    V∖S. Adding exactly-known vertices to `processed` cannot weaken the
  *    (1+ε) bound on the unprocessed remainder, so the certified top-k is
  *    exact in every regime. When S = V no schedule or loop is built and
  *    `exactBfs` (the BFS the loop ran) is 0.
  *
  * Determinism: the reference uses Math.random() (ChechikEstimator.java:60);
  * we use xxhash64-derived uniforms keyed by (seed, vertex id) — fully
  * deterministic and partition-independent (SURVEY.md §4.2.4), unlike
  * Spark's rand() whose draw depends on partition layout.
  */
object Chechik {

  case class Telemetry(
      n: Long, initialPivots: Long, sampleSize: Long, exactBfs: Long,
      totalBfs: Long, supersteps: Long)

  /** U(0,1) pseudo-random, deterministic in (seed, id). */
  private def u01(seed: Int, id: org.apache.spark.sql.Column) =
    pmod(xxhash64(lit(seed), id), lit(1000000L)).cast("double") / 1000000.0

  /** Sample coefficient K = ⌈ln n / ε²⌉ (ChechikEstimator.java:46). */
  def kCoefficient(n: Long, eps: Double): Double =
    math.ceil(math.log(n.toDouble) / (eps * eps))

  /** Mask columns sized to the pivot count (≤ 16, the [[BitsetBfs]] cap). */
  private def maskColsFor(p: Long): Int =
    math.max(1L, math.min(16L, (p + 63) / 64)).toInt

  /** Cost-based path switch for a P-pivot visit over an n-vertex graph: the
    * row path materializes the O(P·n) (pivot, id, dist) relation — trivially
    * cheap while it fits (simple 4-column plans, no per-wave fixed cost);
    * the bitset path keeps every superstep and aggregate at O(n·maskCols)
    * rows regardless of P, but pays fixed per-visit plan/codegen cost for
    * its 64·maskCols-expression histograms — measured ~3× SLOWER at
    * P·n ≈ 2·10⁷ on this host, and the only shape that survives when
    * P·n is 10¹²⁺. Same decision structure as broadcast-vs-shuffle join
    * planning; both paths produce bit-identical doubles (spec-asserted), so
    * the switch can never change results.
    */
  private def useBitset(pivotCount: Long, n: Long): Boolean =
    pivotCount * n > (1L << 25)

  /** Estimator coefficients from a pivot multi-source BFS
    * (ChechikEstimator.java:51-65, SURVEY.md A9/A10): per vertex,
    * λ(w) = max(1/n, max_s d(s,w)/F(s)) over pivots s with total farness
    * F(s) > 0, and Bernoulli keep-probability p(w) = min(1, K·λ(w)).
    * Returns (id, lambda, p) for EVERY vertex of `verts`.
    *
    * Scale path (see [[useBitset]]): ONE bitset visit feeds both halves —
    * F(s) per pivot via the farness histogram, then the per-target max ratio
    * via [[BitsetBfs.reverseMax]] with the F(s) divisors — O(n·maskCols)
    * rows per superstep instead of the O(P·n) row relation.
    */
  def estimatorCoefficients(
      spark: SparkSession,
      adjacency: DataFrame,
      pivots: DataFrame,
      verts: DataFrame,
      n: Long,
      eps: Double = 0.1,
      onSuperstep: (Int, Long) => Unit = (_, _) => (),
      forceBitset: Option[Boolean] = None,
      prep: BitsetBfs.Prep = null): DataFrame = {
    val p = pivots.select(col("pivot").cast("long").as("pivot")).distinct()
      .localCheckpoint(false)
    val nPiv = p.count()
    val maxr =
      if (forceBitset.getOrElse(useBitset(nPiv, n))) {
        val v = BitsetBfs.visit(spark, adjacency, p,
          maskCols = maskColsFor(nPiv), onSuperstep = onSuperstep,
          prep = prep)
        val divisors = BitsetBfs.farness(v)
          .where(col("farness") > 0)
          .select(col("id").as("pivot"), col("farness").cast("double").as("div"))
        // checkpoint the n-row result so the visit's superstep states can be
        // freed NOW instead of living until the caller's last action
        val out = BitsetBfs.reverseMax(v, divisors).localCheckpoint(true)
        v.release()
        out
      } else {
        val pivotDist = MultiBfs.run(spark, adjacency, p, onSuperstep = onSuperstep)
          .localCheckpoint(true)
        val totals = pivotDist.groupBy("pivot").agg(sum("dist").as("total"))
        pivotDist
          .join(totals.where(col("total") > 0), "pivot")
          .select(col("id"), (col("dist").cast("double") / col("total")).as("r"))
          .groupBy("id").agg(max("r").as("value"))
      }
    val kCoef = kCoefficient(n, eps)
    verts
      .join(maxr, Seq("id"), "left")
      .select(col("id"), greatest(coalesce(col("value"), lit(0.0)), lit(1.0 / n)).as("lambda"))
      .withColumn("p", least(lit(1.0), lit(kCoef) * col("lambda")))
  }

  /** Per-pivot exact farness (id, farness) of a row-BFS (pivot, id, dist)
    * relation — the row-path twin of [[BitsetBfs.farness]].
    */
  private def rowFarness(dist: DataFrame): DataFrame =
    dist.groupBy(col("pivot").as("id")).agg(sum("dist").cast("long").as("farness"))

  def topkCloseness(
      spark: SparkSession,
      adjacency: DataFrame,
      k: Int,
      eps: Double = 0.1,
      seed: Int = 42,
      batchSize: Int = 128,
      mat: Materializer = new LocalMaterializer(window = 0)): (DataFrame, Telemetry) = {

    var supersteps = 0L
    val countStep = (_: Int, _: Long) => supersteps += 1

    // lazy checkpoint: the count is the job that materializes it
    val verts = adjacency.select(col("src").as("id")).distinct().localCheckpoint(false)
    val n = verts.count()
    // chunk-keyed visit inputs shared by every bitset visit of the run,
    // built on the first visit that takes the bitset path
    var bprep: BitsetBfs.Prep = null
    def prep(): BitsetBfs.Prep = {
      if (bprep == null) bprep = BitsetBfs.prepare(adjacency)
      bprep
    }
    val forced = kCoefficient(n, eps) >= n
    val nPivots =
      if (forced) 0L
      else math.max(math.ceil(math.log(n.toDouble) / math.log(2)).toLong, 2L).min(n)

    // 1-4. Bernoulli sample S (R2) by the keep probabilities of the pivot
    // BFS (A9/A10); a forced sample is V with p = 1
    val (sample, sampleSize) =
      if (forced) (verts.withColumn("p", lit(1.0)), n)
      else {
        // uniform pivot sample without replacement, seeded (R1)
        val pivots = verts
          .orderBy(xxhash64(lit(seed), col("id")))
          .limit(nPivots.toInt)
          .select(col("id").as("pivot"))
        val s = estimatorCoefficients(spark, adjacency, pivots, verts, n, eps, countStep,
            prep = if (useBitset(nPivots, n)) prep() else null)
          .select(col("id"), col("p"))
          .where(u01(seed + 1, col("id")) < col("p"))
          .localCheckpoint(false)
        (s, s.count())
      }
    val unsampled = n - sampleSize
    val sampleIds = sample.select(col("id").as("pivot"))

    // Sample visit: exact farness of every s ∈ S and, when V∖S is not
    // empty, the HT estimate apxF(v) = Σ_s d(s,v)/p_s that orders it. The
    // sample is the web-scale cardinality (K·E[λ]·n), so past the useBitset
    // cap the row-BFS O(S·n) relation must never materialize: bitset visit
    // + divisor-array reverse sum keeps it O(n·maskCols)/wave
    val (sampleFarness, apxFarness) =
      if (useBitset(sampleSize, n)) {
        val vSample = BitsetBfs.visit(spark, adjacency, sampleIds,
          maskCols = maskColsFor(sampleSize), onSuperstep = countStep,
          prep = prep())
        val far = BitsetBfs.farness(vSample).localCheckpoint(true)
        val apx = if (unsampled == 0) None else Some(
          BitsetBfs.reverseSum(
              vSample, sample.select(col("id").as("pivot"), col("p").as("div")))
            .select(col("id"), col("value").as("apxF"))
            .localCheckpoint(true))
        vSample.release()
        (far, apx)
      } else {
        val dist = MultiBfs.run(spark, adjacency, sampleIds, onSuperstep = countStep)
        val far = rowFarness(dist)
        val apx = if (unsampled == 0) None else Some(
          dist.join(sample.select(col("id").as("pivot"), col("p")), "pivot")
            .groupBy("id")
            .agg(sum(col("dist").cast("double") / col("p")).as("apxF")))
        (far, apx)
      }

    // 5. certification loop over V∖S. Schedule position via distributed
    // range minting (Rank.globalRank) — the schedule is up to n rows and a
    // global row_number window would sort all of them through ONE task.
    // Reference batches 10 BFS between re-sorts (TopCloseness.java:22); under
    // level-synchronous execution a batch is ONE multi-source BFS, so larger
    // batches amortize per-superstep job overhead — the certification
    // guarantee is unchanged, at most one batch of extra exact BFS work.
    var processed = sampleFarness
    var exactBfs = 0L
    apxFarness.foreach { apx =>
      val schedule = graft.core.Rank.globalRank(
        verts
          .join(sample, Seq("id"), "left_anti")
          .join(apx, Seq("id"), "left")
          .select(col("id"), coalesce(col("apxF"), lit(Double.MaxValue)).as("apxF")),
        "pos", asc("apxF"), asc("id"))
        .localCheckpoint(true)
      val batch = math.max(k, batchSize)
      var l = 0L
      var certified = 0L
      while (certified < k && l < unsampled) {
        val batchIds = schedule.where(col("pos") >= l && col("pos") < l + batch)
          .select(col("id").as("pivot"))
        // exact farness per batch pivot; past the useBitset cap a batch is one
        // wave-packed visit, O(n·maskCols) rows/superstep, not O(batch·n)
        val (exactF, releaseBatch) =
          if (useBitset(batch, n)) {
            val vb = BitsetBfs.visit(spark, adjacency, batchIds,
              maskCols = maskColsFor(batch), onSuperstep = countStep,
              prep = prep())
            (BitsetBfs.farness(vb), () => vb.release())
          } else
            (rowFarness(MultiBfs.run(spark, adjacency, batchIds, onSuperstep = countStep)),
              () => ())
        processed = mat.iterate(processed.unionAll(exactF), (l / batch).toInt, certified.toDouble)
        // `processed` is materialized (mat.iterate is eager): the batch
        // visit's cached superstep states are dead now
        releaseBatch()
        // positions are dense 0..unsampled-1, so [l, l+batch) holds
        // min(batch, unsampled−l) ids — no count job
        exactBfs += math.min(batch, unsampled - l)
        l += batch
        // ONE aggregate job per batch: the 1-row remainder aggregate — the
        // largest possible true closeness among unprocessed candidates —
        // broadcasts into a crossJoin and the certified count folds over it
        // in the same action.
        val remAgg = schedule.where(col("pos") >= l)
          .agg(coalesce(max(lit(1.0) / nullif(col("apxF"), lit(0.0))), lit(0.0))
            .as("maxRem"))
        certified = processed
          .crossJoin(broadcast(remAgg))
          .agg(count(when(
            col("farness") > 0 &&
              lit(1.0) / col("farness") >= lit(1.0 + eps) * col("maxRem"), 1)))
          .head().getLong(0)
      }
    }

    // top-k among certified, ties on the k-th farness extended (T5,
    // GTLoader.java:45-52); farness is an integer ⇒ ranking is float-free
    // farness 0 = isolated vertex = closeness 0: ranks LAST, not first.
    // Distributed top-k (TakeOrderedAndProject boundary + tie filter), not
    // an unpartitioned rank() window — `processed` can grow to n rows.
    val ranked = processed
      .withColumn("frank", when(col("farness") > 0, col("farness")).otherwise(Long.MaxValue))
    val topk = graft.core.Rank.topkWithTies(ranked, Seq(asc("frank")), k)(
        _.getAs[Long]("frank"))(b => col("frank") <= b.asInstanceOf[Long])
      .select(
        col("id"), col("farness"),
        when(col("farness") > 0, lit(1.0) / col("farness")).otherwise(0.0).as("closeness"))
      .orderBy(asc("farness"), asc("id"))

    if (bprep != null) bprep.release()
    val telemetry = Telemetry(
      n = n, initialPivots = nPivots, sampleSize = sampleSize,
      exactBfs = exactBfs, totalBfs = nPivots + sampleSize + exactBfs,
      supersteps = supersteps)
    (topk, telemetry)
  }
}
