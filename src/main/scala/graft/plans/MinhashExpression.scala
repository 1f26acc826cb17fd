package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All `nHashes` MinHash signature values of a token array in ONE pass —
  * `graft_minhash_sigs(tokens)` returns ARRAY<BIGINT> of length nHashes.
  *
  * Replaces the explode(shingles) -> 16 min() aggregates -> groupBy(doc_id)
  * plan of dd_minhash_lsh: the signature is a pure per-row function, so
  * computing it inside the Project removes BOTH the ~tokens-per-doc row
  * blow-up and the doc_id Exchange (at corpus scale, the widest shuffle of
  * the query — ~16 longs + key per document). The expression is the
  * map-only half; banding and the (band, bucket) self-join stay relational.
  *
  * Hash semantics (pinned against a pure-Column reference formulation in
  * SparkJobsSpec, built from Spark's own xxhash64):
  *  - token hash      th_i   = xxhash64(token_i)               (seed 42)
  *  - shingle hash    s_i    = xxhash64(th_i, .., th_{i+k-1})  (hash chain)
  *  - family member j        = xxhash64(s_i, j.toLong)         (hash-once
  *    universal-family trick from round 3: the shingle content is hashed
  *    once, the 16 members derive from the 8-byte result)
  *  - sig[j] = min over shingles of member j
  * Documents shorter than k tokens contribute ONE shingle over all their
  * tokens; empty token arrays yield all-Long.MaxValue signatures (no
  * shingle -> empty min, sentinel). Null input null-propagates.
  */
case class MinhashSigs(child: Expression, k: Int, nHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sigs"

  // containsNull inputs are REJECTED (ADVICE r4, consistent with Simhash64):
  // compute calls getUTF8String on every slot and would NPE on a null
  // element; the internal toks() pipelines are containsNull=false.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING> with non-null elements, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinhashSigs.compute(input.asInstanceOf[ArrayData], k, nHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.MinhashSigs.compute($e, $k, $nHashes));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

object MinhashSigs {
  private final val Seed = 42L // Spark's xxhash64 default seed

  /** One pass: token hashes, rolling k-window shingle hash chain, 16
    * seed-derived family members, running minimums. Shared by interpreted
    * eval and codegen (static call, JIT-compiled). */
  def compute(tokens: ArrayData, k: Int, nHashes: Int): Array[Long] = {
    val n = tokens.numElements()
    val sigs = Array.fill(nHashes)(Long.MaxValue)
    if (n == 0) return sigs
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(
        t.getBaseObject, t.getBaseOffset, t.numBytes(), Seed)
      i += 1
    }
    val width = math.min(n, k)
    val m = if (n >= k) n - k + 1 else 1
    i = 0
    while (i < m) {
      var s = Seed
      var j = 0
      while (j < width) { s = XXH64.hashLong(th(i + j), s); j += 1 }
      // hash-once family: inner = xxhash64's first-arg step over s
      val inner = XXH64.hashLong(s, Seed)
      var h = 0
      while (h < nHashes) {
        val cand = XXH64.hashLong(h.toLong, inner)
        if (cand < sigs(h)) sigs(h) = cand
        h += 1
      }
      i += 1
    }
    sigs
  }
}

/** The LSH band buckets of a signature array in ONE pass: ARRAY<BIGINT> of
  * length `bands`, element b equal to Spark's xxhash64 (seed 42) over
  * signature elements b*rows .. b*rows+rows-1, skipping a NULL or missing
  * element as xxhash64 skips a NULL argument. Equal to
  * `array(xxhash64(element_at(sigs, b*rows+1), ..) for each b)`, whose
  * exploded projection generated the two largest classes of the LSH
  * queries. Null input null-propagates. */
case class BandHashes(child: Expression, bands: Int, rows: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_band_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<BIGINT>, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(BandHashes.compute(input.asInstanceOf[ArrayData], bands, rows))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.BandHashes.compute($e, $bands, $rows));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

object BandHashes {
  private final val Seed = 42L // Spark's xxhash64 default seed

  def compute(sigs: ArrayData, bands: Int, rows: Int): Array[Long] = {
    val n = sigs.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var r = 0
      while (r < rows) {
        val i = b * rows + r
        if (i < n && !sigs.isNullAt(i)) h = XXH64.hashLong(sigs.getLong(i), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }
}
