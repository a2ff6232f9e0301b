package graft.streaming

import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's search API (`backend/search.py` POST /api/search →
  * `ai_service.py` `$vectorSearch`) as a CONTINUOUSLY-ANSWERED stream:
  * query vectors arrive on an unbounded stream and each micro-batch gets
  * the exact per-query top-k over a parquet table of vectors.
  *
  * The batch is answered set-at-a-time in one plan of q20's shape: the
  * batch's queries are broadcast and cross-joined to the vectors, scored
  * with the native `cosine`, and ranked by a window keyed by query (the
  * TopKPerGroup idiom), so the answer is the exact top-k with ties broken
  * by the lower `vec_id`.
  *
  * Each batch reads the vector table as it stands when the batch runs.
  * Per-batch output is written under `out/batch=<id>` (overwrite by batch
  * dir — idempotent under replay, the StreamingContentDedup discipline).
  */
object StreamingVectorSearch {

  /** Test hook (the StreamingCompaction/StreamingCuration crash-matrix
    * discipline, VERDICT r8 #6): invoked with an op index at each crash
    * point of a serving micro-batch (0 = before the answer write — the
    * batch is lost and must replay whole; 1 = after the answer write,
    * before the checkpoint commit — the replayed batch must overwrite
    * its own dir idempotently). Production leaves it a no-op. */
  @volatile private[graft] var servingFault: Int => Unit = _ => ()

  /** Answer one batch of (qid, embedding) queries with the exact
    * per-query top-k of `vectors` (vec_id, embedding, label), as rows
    * (qid, rank, vec_id, label), ranked by (score desc, vec_id).
    * Batch-pure; exposed for replay and parity tests. */
  def answerBatch(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame =
    vectors.select(col("vec_id"), col("embedding"), col("label"))
      .crossJoin(broadcast(
        queries.select(col("qid"), col("embedding").as("q_emb"))))
      .withColumn("score", cosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("label"))

  /** Streaming entry: each micro-batch of queries is answered against the
    * parquet vectors at `vectorsPath` and lands under
    * `outPath/batch=<id>`, idempotently. */
  def start(queries: DataFrame, vectorsPath: String, outPath: String,
            checkpointDir: String, k: Int = 10): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        servingFault(0) // crash before the write: batch replays whole
        answerBatch(df.sparkSession.read.parquet(vectorsPath), df, k)
          .write.mode("overwrite").parquet(s"$outPath/batch=$id")
        servingFault(1) // crash before the checkpoint commit: the replay
                        // overwrites the same batch dir — idempotent
      }
      .start()
}
