package graft.streaming

import graft.pipeline.MoviePipeline
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The reference's incremental curation loop (SURVEY.md §3.3,
  * /root/reference/movie_generator.py:469-539) as a Structured Streaming
  * `foreachBatch` job: each micro-batch of raw LLM-record text is parsed,
  * validated, deduplicated against the CURRENT corpus (one fuzzy band
  * anti-join, which also drops exact duplicates — the per-batch corpus read
  * is the streaming analog of the reference's seen-set refresh every 50
  * records, :510-511), resolved last-writer-wins within the batch, and
  * appended to the corpus.
  *
  * One pass per batch — each piece of work is done once:
  *  - the parse/validate/enrich result is cached by the job that collects
  *    its candidate years, and released when the batch returns or fails;
  *  - the corpus is read with the parsed schema plus `yb`, so no batch
  *    runs a parquet schema-inference job;
  *  - the fresh rows are hashed by bucket once; the last-writer-wins window
  *    is keyed by the bucket too, so it reuses that exchange, and the write
  *    lists its buckets from the staging directory instead of a collect.
  * A batch into an existing corpus therefore runs 4 Spark jobs with
  * adaptive execution on: the candidate years, the broadcast of the pruned
  * corpus, the shuffle stage and the write (StreamingSpec pins ≤ 4).
  *
  * Checkpointing: `checkpointLocation` gives exactly-once micro-batch
  * bookkeeping — the replacement for the reference's pickle checkpoint
  * (:106-168); a restarted query resumes from the last committed batch.
  *
  * Scale design — the corpus is parquet PARTITIONED BY a 10-year bucket
  * (`yb`). Dedup reads are partition-pruned to the candidate years ±1, and
  * a batch only APPENDS: dedup guarantees its fresh keys are absent from
  * the corpus, so no existing file is read for the write, rewritten or
  * renamed (asserted byte-identical in StreamingSpec). A batch adds exactly
  * one parquet file to each bucket it touches; nothing bounds a bucket's
  * file count yet (compaction is separate work).
  *
  * Crash safety — the fresh rows are staged in `<corpus>_staging_<batchId>`
  * and each staged file is renamed into its live `yb=` dir, so a bucket's
  * rows of one batch arrive in one step. A crash anywhere replays the
  * batch, which dedups against the corpus as it then stands and therefore
  * stages only the rows whose file was not yet renamed; the replay's write
  * overwrites the stale staging dir and its last step deletes it.
  * (Delta/Iceberg MERGE would replace this file choreography in a
  * deployment with concurrent readers.)
  */
object StreamingCuration {

  /** Partition granularity: 10 release-years per corpus bucket. */
  val BucketYears = 10

  /** Test-only fault injector: invoked with a 0-based op index immediately
    * BEFORE each filesystem mutation of the commit (per touched bucket in
    * name order: mkdirs of its live dir, rename of its staged file; then
    * the staging delete). Tests install a thrower to simulate a crash at an
    * exact point and then assert replay convergence; production leaves the
    * no-op. */
  @volatile private[graft] var swapFault: Int => Unit = _ => ()

  private def bucketOf(year: Column): Column =
    floor(year / BucketYears).cast("long")

  /** Distinct values of a small-domain key (years): partition-
    * pruning metadata, not data, so the driver-side collect is a scalar
    * hop, not a distributed-loop smell. Deduplicated per partition on the
    * executors and across partitions here, it costs one job and no
    * shuffle; `distinct()` would add a shuffle map stage, which adaptive
    * execution runs as a job of its own. */
  private def distinctKeys(df: DataFrame, key: Column): Array[Long] =
    df.select(key.cast("long")).as(Encoders.scalaLong)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaLong).collect().distinct

  private def corpusFs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Read the current corpus (with its `yb` partition column) with the
    * schema of the parsed batch plus `yb: long`, so no batch pays a parquet
    * schema-inference job; an empty frame of that schema stands in while
    * the corpus does not exist yet (explicit first-batch bootstrap).
    * Genuine read errors — corrupt footers, IO failures, permissions —
    * PROPAGATE and fail the micro-batch so the checkpoint retries it:
    * swallowing them here would dedup against nothing and append
    * duplicates of history. */
  def readCorpus(spark: SparkSession, corpusDir: String, schema: StructType): DataFrame = {
    val withYb = schema.add("yb", LongType)
    if (!corpusFs(spark).exists(new Path(corpusDir)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), withYb)
    else spark.read.schema(withYb).parquet(corpusDir)
  }

  /** One micro-batch: parse → partition-pruned dedup vs corpus → in-batch
    * last-writer-wins → append one staged file per touched bucket. */
  def processBatch(corpusDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val parsed = MoviePipeline.enrich(MoviePipeline.validate(
      MoviePipeline.parseRaw(batch))).drop("raw").persist()
    try {
      // Candidate years decide which corpus partitions dedup must see:
      // duplicates sit within ±1 year, so probe the neighbors' buckets too.
      // This job also fills the `parsed` cache.
      val candYears = distinctKeys(parsed, col("year"))
      if (candYears.nonEmpty) {
        val dedupBuckets = candYears
          .flatMap(y => Seq(y - 1, y, y + 1))
          .map(y => math.floorDiv(y, BucketYears.toLong)).distinct.toSeq
        val seen = readCorpus(spark, corpusDir, parsed.schema)
          .filter(col("yb").isin(dedupBuckets: _*)) // pruned scan
        // one exchange, by bucket: the window reuses it, and each bucket's
        // rows land in one task, so the write makes one file per bucket
        val fresh = MoviePipeline.dedupFuzzy(parsed, seen)
          .withColumn("yb", bucketOf(col("year"))).repartition(col("yb"))
        val staging = new Path(corpusDir + s"_staging_$batchId")
        MoviePipeline.mergeUpsert(fresh, col("yb"))
          .write.partitionBy("yb").mode(SaveMode.Overwrite).parquet(staging.toString)
        appendStaged(corpusFs(spark), staging, new Path(corpusDir))
      }
    } finally parsed.unpersist(blocking = false)
  }

  /** Move each staged data file into its live bucket dir, buckets in name
    * order so a crash point maps to a fixed op, then drop the staging dir.
    * A failed rename throws, so the batch replays instead of losing rows. */
  private def appendStaged(fs: FileSystem, staging: Path, corpus: Path): Unit = {
    var opIdx = 0
    def op(f: => Unit): Unit = { swapFault(opIdx); opIdx += 1; f }
    fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("yb="))
      .sortBy(_.getName).foreach { bucket =>
        val live = new Path(corpus, bucket.getName)
        op(fs.mkdirs(live))
        fs.listStatus(bucket).map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith(".")).foreach { f =>
          val to = new Path(live, f.getName)
          op(if (!fs.rename(f, to)) throw new java.io.IOException(s"rename $f -> $to failed"))
        }
      }
    op(fs.delete(staging, true))
  }

  /** Bind the stream: raw text records in, curated corpus directory out. */
  def start(raw: DataFrame, corpusDir: String, checkpointDir: String): StreamingQuery =
    raw.writeStream
      .foreachBatch(processBatch(corpusDir) _)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
