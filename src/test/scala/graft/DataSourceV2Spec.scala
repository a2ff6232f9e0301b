package graft

import org.apache.spark.sql.functions._

/** The custom DataSource V2 read path: schema, parallelism, determinism,
  * and — the scale contracts — column pruning and vec_id filter pushdown
  * reaching the reader (not just the projection). */
class DataSourceV2Spec extends SparkSpec {

  private def read(opts: (String, String)*) = {
    val r = spark.read.format("graft.sources.SyntheticEmbeddings")
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("schema, row count, partition layout, and determinism") {
    val df = read("rows" -> "1000", "dim" -> "16", "numPartitions" -> "8")
    assert(df.schema.fieldNames.toSeq == Seq("vec_id", "label", "embedding"))
    assert(df.count() == 1000)
    assert(df.rdd.getNumPartitions == 8)
    // deterministic regeneration: two independent reads are identical
    val a = df.orderBy("vec_id").collect()
    val b = read("rows" -> "1000", "dim" -> "16", "numPartitions" -> "8")
      .orderBy("vec_id").collect()
    assert(a.sameElements(b))
    // embeddings land in [-1, 1) and vary per position
    val emb = a.head.getSeq[Float](2)
    assert(emb.length == 16 && emb.forall(v => v >= -1f && v < 1f))
    assert(emb.distinct.length > 1)
  }

  test("column pruning reaches the reader: embedding never generated") {
    val df = read("rows" -> "100", "dim" -> "64").select("vec_id", "label")
    val scan = df.queryExecution.executedPlan.toString
    // the BatchScan description carries the reader's pruned column list
    assert(scan.contains("columns=vec_id,label"),
      s"reader still generates pruned columns:\n$scan")
    assert(df.count() == 100)
  }

  test("vec_id range filters push into the generated range, not post-scan") {
    val df = read("rows" -> "1000000", "dim" -> "8")
      .filter(col("vec_id") >= 10 && col("vec_id") < 20)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("range=[10,20)"),
      s"filter not pushed into the generator range:\n$scan")
    assert(df.count() == 10)
    assert(df.agg(min("vec_id"), max("vec_id")).head().toSeq == Seq(10L, 19L))
  }

  test("pushed-down point lookup generates exactly one row across partitions") {
    val df = read("rows" -> "1000000", "dim" -> "8", "numPartitions" -> "16")
      .filter(col("vec_id") === 123456L)
    assert(df.count() == 1)
    assert(df.head().getLong(0) == 123456L)
  }

  test("LIMIT pushdown clips the generated range (limit operator dropped)") {
    val df = read("rows" -> "1000000000", "dim" -> "8").limit(5)
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(df.queryExecution.executedPlan.toString.contains("range=[0,5)"),
      df.queryExecution.executedPlan.toString)
  }

  test("COUNT(*) is answered from metadata — zero rows generated") {
    // 1e9 rows x 64 floats would take hours if actually generated; the
    // pushed count must return the range length immediately
    val df = read("rows" -> "1000000000", "dim" -> "64")
    val t0 = System.nanoTime()
    assert(df.count() == 1000000000L)
    assert((System.nanoTime() - t0) / 1e9 < 30, "count generated data")
    // and it composes with filter pushdown: count of a pushed range
    assert(df.filter(col("vec_id") < 12345L).count() == 12345L)
  }

  test("the synthetic corpus drives the ANN ladder end to end") {
    // the source exists to test vector operators without files: feed it
    // through the streaming search's exact batch plan and check shape
    val emb = read("rows" -> "500", "dim" -> "64")
    assert(emb.count() == 500)
    val qids = Seq(0L, 250L, 499L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = graft.streaming.StreamingVectorSearch.answerBatch(emb, queries, 5)
      .collect().groupBy(_.getAs[Long]("qid"))
    assert(got.keySet == qids.toSet)
    got.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
      // each query is one of the corpus vectors: it ranks itself first
      assert(rows.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("vec_id") == q)
    }
  }
}
