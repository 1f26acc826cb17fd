package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared embedding-similarity machinery: deterministic hyperplane banks,
  * banded-LSH signatures, a planted near-duplicate twin corpus, and a small
  * IVF (inverted-file) coarse quantizer — the scale paths for
  * `dd_embed_neardup` / `ann_lsh` / `ann_ivf` in OpsQueries.
  *
  * Scale notes (the 100 TB story):
  *  - Banded LSH: candidates = pairs sharing an r-bit band bucket in ANY of
  *    b bands, then EXACT cosine re-rank. No all-pairs stage: the join is
  *    keyed on (band, bucket), shuffle volume ~ b * N, candidate pairs
  *    ~ b * N^2 / 2^r. With r=12/b=6 and near-dup sims >= 0.999 the per-pair
  *    miss probability is < 1e-7 (p_agree = 1 - arccos(s)/pi = 0.996,
  *    miss = (1 - p^12)^6).
  *  - Measured physics bound, why re-rank-only-LSH is NOT used for generic
  *    top-k here: the synthetic corpus is isotropic (non-twin pair sims max
  *    out at ~0.51, top-5 ~0.3-0.4); at those similarities hyperplane
  *    agreement is ~0.6/plane, so any (r, b) either admits ~all pairs or
  *    drops ~all true neighbors — sign-LSH prunes nothing at low similarity.
  *    Generic ANN instead uses the IVF path below, which adapts to the data.
  *  - IVF: k centroids trained on a deterministic hash sample, assignment is
  *    one fused expression per row (plans/CentroidArgsort, k dots), queries
  *    probe their nprobe nearest centroids -> candidate fraction ~ nprobe/k
  *    per query with measured recall@5 ~0.7 at nprobe/k = 1/4. Centroids are
  *    a driver-side Array (k*dims doubles) carried into the plan as a codegen
  *    reference object; training shuffles only (cluster, pos) partial avgs.
  */
object Ann {

  val TwinOffset = 1000000L
  val TwinAmp = 0.002

  /** cosine(a, b) with double accumulation; arrays are float32 at rest.
    * NULL when undefined (a zero norm or a null element). Planned as the
    * native codegen expression (plans/CosineSim) — the previous
    * aggregate(zip_with(...)) HOF chain evaluated interpreted per row with
    * an allocated intermediate array per dot product; the fused loop stays
    * inside WholeStageCodegen (equality with the HOF formulation pinned in
    * SparkJobsSpec). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    GraftBridge.column(graft.plans.CosineSim(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Deterministic ±1 hyperplane component (xorshift64*-mixed of (p, d)) —
    * evaluated once per plan into HyperplaneSigs' plane matrix so nothing
    * is re-hashed per row (see ann_lsh history: precomputed planes are ~7x
    * the throughput of per-row hashing). */
  def hyperplaneSign(p: Int, d: Int): Double = {
    var x = p.toLong * 1315423911L + d.toLong * 2654435761L + 17L
    x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
    if (((x * 0x2545f4914f6cdd1dL) >>> 63) == 0L) 1.0 else -1.0
  }

  /** All band signatures in one fused matrix-vector expression (one pass
    * over the embedding for all bands*r planes — see plans/HyperplaneSigs). */
  def allBandSigs(e: Column, bands: Int, r: Int, dims: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    GraftBridge.column(graft.plans.HyperplaneSigs(
      GraftBridge.expression(e), bands, r, dims))
  }

  /** (vec_id, embedding, ...) exploded to one row per (band, sig), every
    * column of `e` carried along — the LSH bucket relation both near-dup
    * and twin-ANN join on. A NULL embedding gives one row with a NULL band
    * and sig, which no band join matches. (An inner posexplode would make
    * the optimizer infer a filter on `embedding` and push it below
    * dd_embed_neardup's groupBy on `embedding` in this consumer only; the
    * groupBy's other consumers then no longer share its shuffle.) */
  def bandedSigs(e: DataFrame, bands: Int, r: Int, dims: Int): DataFrame =
    e.select(e.columns.toSeq.map(col) :+
      posexplode_outer(allBandSigs(col("embedding"), bands, r, dims)).as(Seq("band", "sig")): _*)

  /** Corpus ∪ deterministic near-duplicate twins: every vec_id % 5 == 0 row
    * gains a twin at vec_id + TwinOffset whose elements are nudged by
    * 0.002*sin(57x + vec_id) — a pure function of the driver's data (no
    * synthesized inputs), cosine ~0.9999 to its source, reproducible in
    * DuckDB SQL for the oracle. Non-twin pair sims max out at ~0.51, so a
    * 0.92 threshold separates twins exactly. */
  def withTwins(e: DataFrame): DataFrame = {
    val twins = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select((col("vec_id") + TwinOffset).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + sin(x.cast("double") * 57 + col("vec_id")) * TwinAmp)
          .as("embedding"))
    asDouble(e).unionAll(twins)
  }

  /** (vec_id, embedding as ARRAY<DOUBLE>): the corpus rows of
    * [[withTwins]]. */
  def asDouble(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  /** Probe order over k centroids: array of centroid indices sorted by
    * descending dot(e, centroid), ties by ascending index — one fused
    * expression whose k*dims centroid matrix rides as a codegen reference
    * object (plans/CentroidArgsort). */
  def centroidRanking(e: Column, cents: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    GraftBridge.column(graft.plans.CentroidArgsort(GraftBridge.expression(e), cents))
  }

  /** Lloyd iterations for the IVF coarse quantizer, trained on a
    * deterministic 25% id-hash sample (at 100 TB you train on a sample,
    * never the corpus). Init = first k vectors. Shuffle per iteration is
    * only (cluster, pos) partial averages: k*dims rows to the driver. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** The IVF centroids ann_ivf probes for the corpus under `dir`: k = 16
    * centroids after two Lloyd iterations over its embeddings. Trained once
    * per (app, corpus): training is a fixed driver-side cost (a few small
    * jobs); repeated ann_ivf invocations in one session reuse the table. */
  def ivfCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(s.sparkContext.applicationId + "|" + dir, _ =>
      trainCentroids(graft.OpsQueries.input(s, s"$dir/embeddings.parquet"), k = 16, iters = 2))

  def trainCentroids(e: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = e.filter(col("vec_id") < k).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)
    val sample = e.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
    var it = 0
    while (it < iters) {
      val rows = sample
        .withColumn("cluster", element_at(centroidRanking(col("embedding"), cents), 1))
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos")).agg(avg(col("v")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      rows.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
      it += 1
    }
    cents
  }
}
