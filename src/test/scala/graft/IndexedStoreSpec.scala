package graft

import graft.operators.IndexedVectorStore
import org.apache.spark.sql.functions._

/** The persistent ANN store: build writes cell-partitioned parquet; probe
  * must be a partition-PRUNED scan (the 100 TB contract — unprobed cells'
  * files never open) that still finds the true neighbors. */
class IndexedStoreSpec extends SparkSpec {

  /** Run `body` over a store built from every embedding. */
  private def withStore[A](body: String => A): A = withTempDir("ivstore") { d =>
    IndexedVectorStore.build(spark, Tables.t(spark, sf, "embeddings"), d)
    body(d)
  }

  test("search finds the query itself at rank 1 and returns k rows") {
    withStore { dir =>
      val rows = IndexedVectorStore.search(spark, dir, 0L, 10).collect()
      assert(rows.length == 10)
      assert(rows.head.getAs[Int]("rank") == 1)
      assert(rows.head.getAs[Long]("vec_id") == 0L)
    }
  }

  test("probe scan is partition-pruned on the cell directory") {
    withStore { dir =>
      val store = spark.read.parquet(dir)
      val qBucket = store.filter(col("vec_id") === 0L).select("bucket")
        .head().getAs[Number](0).longValue()
      val probes: Seq[Int] =
        (qBucket +: (0 until IndexedVectorStore.bits).map(b => qBucket ^ (1L << b)))
          .map(_.toInt)
      val pruned = store.filter(col("bucket").isin(probes: _*))
      val f = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(f.contains("PartitionFilters") && f.contains("bucket"),
        s"cell filter did not become a partition filter:\n$f")
      // and the surviving files all live under probed cell directories
      val files = pruned.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty &&
        files.forall(fn => probes.exists(p => fn.contains(s"bucket=$p/"))))
      // pruning is real: the full store has more cells than the probe set
      val allCells = store.select("bucket").distinct().count()
      assert(allCells > probes.toSet.size / 2, "corpus degenerated to too few cells")
    }
  }

  test("append folds a batch in: build+append search == one-shot build search") {
    withStore { dir =>
      // the incremental story (mirrors BandIndexStore.append): build over
      // ~90% of the corpus, append the held-out slice, and every search —
      // for an old query and for an appended one — must be bit-equal to a
      // search over a one-shot full build, because the signature math is
      // deterministic and append only adds files to the right cell dirs
      val emb = Tables.t(spark, sf, "embeddings")
      val isNew = col("vec_id") % 10 === 7
      withTempDir("ivstore-app") { d =>
        IndexedVectorStore.build(spark, emb.filter(!isNew), d)
        IndexedVectorStore.append(spark, emb.filter(isNew), d)
        val newId = emb.filter(isNew).agg(min(col("vec_id"))).head().getLong(0)
        for (q <- Seq(0L, newId)) {
          val got = IndexedVectorStore.search(spark, d, q, 10).collect()
          val want = IndexedVectorStore.search(spark, dir, q, 10).collect()
          assert(got.toSeq == want.toSeq, s"query $q diverged after append")
        }
        // no rewrite of standing data: one row per vector, still
        val store = spark.read.parquet(d)
        assert(store.count() == emb.count())
        assert(store.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)
      }
    }
  }

  test("store probe meets the sign-LSH recall floor vs exact top-10") {
    withStore { dir =>
      // same floor as q80 (QueriesSpec): 6-bit signatures probing ~7/64 of
      // the corpus trade recall for candidate count; measured 0.5 here
      val exact = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
        .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).take(10).toSet
      val approx = IndexedVectorStore.search(spark, dir, 0L, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.2, s"recall $recall")
    }
  }

  test("store candidates equal the in-query sign-LSH candidates (q80 parity)") {
    withStore { dir =>
      val sig = IndexedVectorStore.signatures(spark, Tables.t(spark, sf, "embeddings"))
      val qBucket = sig.filter(col("vec_id") === 0L).head().getAs[Long]("bucket")
      val probes: Seq[Long] =
        qBucket +: (0 until IndexedVectorStore.bits).map(b => qBucket ^ (1L << b))
      val expected = sig.filter(col("bucket").isin(probes: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val fromStore = spark.read.parquet(dir)
        .filter(col("bucket").isin(probes.map(_.toInt): _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(fromStore == expected,
        "persisted cells diverge from freshly computed signatures")
    }
  }
}
