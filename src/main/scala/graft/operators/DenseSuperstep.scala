package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag
import scala.util.DynamicVariable

/** Iterative kernels whose state the driver can hold (PageRank ranks under
  * `GraphOps`' broadcast gate, k-means centroids) run each superstep as ONE
  * Spark job over cached primitive arrays, in the spirit of FuseME (SIGMOD
  * 2022): no intermediate is materialized as rows or shuffled.
  *
  *  - '''Setup, once.''' [[withBlocks]] maps each input partition to one
  *    primitive block (dense indices, quantized vectors) and caches it.
  *  - '''Each superstep.''' [[sum]] broadcasts the state; every partition
  *    folds its block into a fresh dense `long` array; the partial arrays
  *    meet on the driver with `Math.addExact`. Long addition is
  *    associative, so the sums do not depend on partitioning or task order,
  *    and an overflow fails loudly, as an ANSI `sum` does.
  *
  * The cached blocks and every broadcast are released in `finally`, on
  * success and on failure alike.
  */
object DenseSuperstep {

  /** Test hook: inside `withValue(Some(n))` on the calling thread, the
    * first `n` supersteps succeed and the next one fails in its tasks.
    * Production code never sets it. */
  private[graft] val failAfter = new DynamicVariable[Option[Int]](None)

  /** Run `body` with `v` broadcast; the broadcast is destroyed when `body`
    * returns or throws. */
  def withBroadcast[V: ClassTag, A](sc: SparkContext, v: V)(body: Broadcast[V] => A): A = {
    val b = sc.broadcast(v)
    try body(b) finally b.destroy()
  }

  /** Map every partition of `rows` to one block, cache the blocks and run
    * `body` over them; the blocks are unpersisted when `body` returns or
    * throws. */
  def withBlocks[T, B: ClassTag, A](rows: RDD[T])(block: Iterator[T] => B)(
      body: RDD[B] => A): A = {
    val blocks = rows.mapPartitions(it => Iterator.single(block(it)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(blocks) finally blocks.unpersist(blocking = false)
  }

  /** One superstep: each block folds into a fresh `width`-long array
    * against the broadcast `state`, and the arrays are summed exactly.
    * Depth 1 merges the partial arrays on the driver as tasks finish, so
    * the job has a single stage and no shuffle. */
  def sum[B, S: ClassTag](blocks: RDD[B], state: S, width: Int)(
      fold: (B, S, Array[Long]) => Unit): Array[Long] = {
    val fail = failAfter.value match {
      case Some(0) => true
      case Some(k) => failAfter.value = Some(k - 1); false
      case None    => false
    }
    withBroadcast(blocks.sparkContext, state) { bc =>
      blocks.treeAggregate(new Array[Long](width))(
        (acc, b) => {
          if (fail) throw new IllegalStateException("injected superstep failure")
          fold(b, bc.value, acc)
          acc
        },
        (a, b) => {
          var i = 0
          while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
          a
        },
        1)
    }
  }
}
