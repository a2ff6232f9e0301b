package e2ebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** Order-insensitive digest of a query's full result: the sum of a 64-bit
  * hash of every output row in its binary form, plus the row count. It is
  * computed on the executors over `queryExecution.toRdd`, so the query's
  * own physical plan runs and produces every row, as in `graft.Bench`. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def render: String = f"$rows:$hash%016x"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val types = df.queryExecution.executedPlan.output.map(_.dataType).toArray
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      var d = Digest(0L, 0L)
      it.foreach { r =>
        val u = proj(r)
        d = d + Digest(1L, XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L))
      }
      Iterator(d)
    }.fold(Digest(0L, 0L))(_ + _)
  }
}
