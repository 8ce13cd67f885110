package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` columns — no UDFs in
  * the hot path.
  *
  * Cosine similarity is the engine's X1 primitive (SURVEY.md §2.11) used
  * by the similarity-search and near-dup operators; it runs as the
  * codegen'd [[CosineSimilarity]] catalyst expression (one fused loop
  * inside whole-stage codegen). Computation is in DOUBLE throughout with
  * sequential accumulation, so results are bit-compatible with engines
  * that compute over double lists (e.g. the DuckDB oracle).
  */
object VectorOps {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Cast an ARRAY<FLOAT> column to ARRAY<DOUBLE> element-wise. */
  def toDoubleVec(c: Column): Column = transform(c, _.cast("double"))

  /** Sequential-order dot product: sum_i a[i]*b[i], accumulated in DOUBLE
    * (higher-order form; the fused cosine below covers the hot paths). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity via the codegen'd catalyst expression. */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity.coerced(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 64-bit sign signature via the codegen'd [[SignBits64]] — the
    * expression twin of the interpreted 64-lambda aggregate/transform
    * HOF (r20 optimization round; VectorBitsSpec pins equivalence). */
  def signBits64(v: Column): Column =
    ColumnBridge.column(VectorBits.signBits64(ColumnBridge.expression(v)))

  /** Squared L2 norm via the codegen'd [[SqNorm]] — the expression twin
    * of `aggregate(v, 0D, (acc, x) -> acc + x * x)`. */
  def sqNorm(v: Column): Column =
    ColumnBridge.column(VectorBits.sqNorm(ColumnBridge.expression(v)))
}
