package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector scalar functions over ArrayType(FloatType) columns.
  *
  * Re-expresses the reference's cosine scoring (sklearn
  * `cosine_similarity`, `backend/ai_service.py:44-57`) without
  * UDFs, DuckDB-oracle-checkable (`list_cosine_similarity`). SURVEY.md §2.9
  * F13. Only `cosine`, a native expression, is codegen'd: the builtin
  * higher-order-function compositions below (`zip_with`, `aggregate`) are
  * `CodegenFallback` in Spark 4.1 and evaluate interpreted.
  *
  * All arithmetic is promoted to DOUBLE; scores are computed per-query and
  * never materialized to storage (mirrors ai_service.py:113 semantics).
  */
object VectorFunctions {

  /** dot(a, b) with double accumulation. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dotProduct(a, a)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in [-1, 1]; null-safe on null arrays.
    *
    * The fused native Catalyst expression
    * ([[graft.functions.expressions.CosineSimilarity]], one codegen'd
    * loop). It accumulates sequentially in double, bit-equal to
    * [[cosineHof]] (asserted in FunctionsSpec), so the oracle contract is
    * implementation-independent. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.CosineSimilarity.cosine_native(a, b)

  /** The five-pass builtin-HOF formulation (SURVEY F13): the reference
    * that FunctionsSpec holds the native expression to. */
  def cosineHof(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))
}
