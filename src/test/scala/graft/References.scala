package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column formulations of the fused expressions' math built from Spark's own
  * functions: the independent references the equality tests compare
  * `plans.CosineSim`, `plans.Simhash64` and `plans.MinhashSigs` against.
  * Interpreted HOFs and intermediate arrays per row; never a query's plan. */
object References {

  /** cosine(a, b) as the aggregate(zip_with(...)) HOF chain. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** 64-bit simhash as 64 aggregate() folds, one per bit. */
  def simhashHof(hashes: Column): Column = {
    val bitCols = (0 until 64).map { b =>
      val ones = aggregate(hashes, lit(0),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(1).cast("int"))
      when(ones * 2 > size(hashes), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bitCols.reduce((x, y) => x.bitwiseOR(y))
  }

  /** The nHashes minhash values of a token array from Spark's xxhash64:
    * family member j = xxhash64(shingleHash, j); empty docs yield
    * Long.MaxValue sentinels. */
  def minhashRef(tokens: Column, k: Int, nHashes: Int): Column = {
    val sh = OpsQueries.shingleHashes(transform(tokens, t => xxhash64(t)), k)
    array((0 until nHashes).map { j =>
      coalesce(
        array_min(transform(sh, x => xxhash64(x, lit(j.toLong)))),
        lit(Long.MaxValue))
    }: _*)
  }
}
