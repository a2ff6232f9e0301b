package graft

import graft.operators.BandIndexStore
import org.apache.spark.sql.functions._

/** The persistent band index (q125's corpus side as storage layout):
  * build writes cell-partitioned parquet (narrow band rows + one
  * signature row per doc); probe must find EXACTLY what q125's inline
  * derivation finds, through partition-PRUNED scans — the "incremental
  * dedup at 100 TB" claim made physical (files in cells the batch doesn't
  * touch never open); append must grow the index so the next batch is
  * checked against the union corpus without any rebuild. */
class BandIndexSpec extends SparkSpec {

  private val isNew = col("doc_id") % 10 === 7

  /** Run `body` over an index of every doc but the `isNew` batch. */
  private def withIndex[A](body: String => A): A = withTempDir("bandidx") { d =>
    BandIndexStore.build(spark, sf, !isNew, d)
    body(d)
  }

  test("probe over the persisted index == q125's inline derivation") {
    withIndex { dir =>
      val got = BandIndexStore.probe(spark, sf, isNew, dir).collect()
      val want = QueryRegistry.byName("q125_incremental_neardup")
        .fn(spark, sf).collect()
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    }
  }

  test("append folds a batch in: probe B over build(C)+append(A) == q125") {
    // three disjoint slices: C = standing corpus, A = first batch,
    // B = second batch. After append(A), the index covers C ∪ A =
    // everything q125's inline corpus side covers for batch B — so the
    // incremental loop (build once, append per batch) must reproduce
    // q125 bit-for-bit WITHOUT any rebuild.
    val isA = col("doc_id") % 10 === 3
    val isB = col("doc_id") % 10 === 7
    withTempDir("bandidx-app") { d =>
      BandIndexStore.build(spark, sf, !isA && !isB, d)
      // probe A against C (the batch's own verify stage), then fold A in
      BandIndexStore.probe(spark, sf, isA, d).collect()
      BandIndexStore.append(spark, sf, isA, d)
      val got = BandIndexStore.probe(spark, sf, isB, d).collect()
      val want = QueryRegistry.byName("q125_incremental_neardup")
        .fn(spark, sf).collect()
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
      // append wrote new files into existing cell dirs — no rewrite: the
      // signature table still holds exactly one row per indexed doc
      val sigs = spark.read.parquet(s"$d/sigs")
      assert(sigs.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
    }
  }

  test("tiny-batch probe reads only the band cells the batch touches") {
    withIndex { dir =>
      // one-doc batch: touches at most NumBands cells of the 32-cell store —
      // the pruning regime a small ingest batch lives in
      val oneDoc = col("doc_id") === 7
      // probe executes its candidate stage eagerly (localCheckpoint), so
      // the returned plan no longer embeds the band scan; assert pruning on
      // the same literal-isin scan expression probe builds internally
      val bands = spark.read.parquet(s"$dir/bands")
      val allCells = bands.select("cell").distinct().count()
      val touched = operators.DedupText
        .bandTable(operators.DedupText.packedHashTable(spark, sf).filter(oneDoc))
        .select(BandIndexStore.cellOf(col("band"), col("bkey")).as("cell"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(touched.size <= graft.functions.HashFunctions.NumBands)
      assert(allCells > touched.size,
        s"store degenerated to $allCells cells; pruning unobservable")
      // the literal isin over the partition column must become a
      // PartitionFilter (prune before task launch)...
      val pruned = bands.filter(col("cell").isin(touched.toSeq.map(Int.box): _*))
      val plan = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"store cell filter did not become a partition filter:\n$plan")
      // ...and the files the pruned scan actually reads all live under
      // touched cell directories — on-disk "unprobed files never open"
      val files = pruned.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty &&
        files.forall(fn => touched.exists(c => fn.contains(s"cell=$c/"))))
    }
  }

  test("signature reads prune to the candidates' hash cells") {
    withIndex { dir =>
      // signatures are stored ONCE per doc (ADVICE r6: the old layout
      // carried hs per band row — a NumBands× amplification of the
      // dominant column) in a table hash-partitioned by doc_id; the verify
      // stage reads only the cells of docs that actually banded with the
      // batch. Reproduce probe's sig-cell derivation for a one-doc batch
      // and assert the pruned file set stays inside those cells.
      val oneDoc = col("doc_id") === 7
      val newBands = operators.DedupText
        .bandTable(operators.DedupText.packedHashTable(spark, sf).filter(oneDoc))
        .select(col("doc_id").as("new_id"), col("band"), col("bkey"))
      val cells = newBands
        .select(BandIndexStore.cellOf(col("band"), col("bkey")).as("cell"))
        .distinct().collect().map(_.getInt(0))
      val bands = spark.read.parquet(s"$dir/bands")
        .filter(col("cell").isin(cells.map(Int.box): _*))
      val sigCells = newBands
        .join(bands.select(col("doc_id").as("old_id"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select(BandIndexStore.sigCellOf(col("old_id")).as("cell"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(sigCells.size <= BandIndexStore.NumCells)
      val sigs = spark.read.parquet(s"$dir/sigs")
      val allSigCells = sigs.select("cell").distinct().count()
      val prunedSigs = sigs.filter(col("cell").isin(sigCells.toSeq.map(Int.box): _*))
      val files = prunedSigs.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(files.forall(fn => sigCells.exists(c => fn.contains(s"cell=$c/"))))
      // candidate-driven pruning is real only if candidates' cells are a
      // strict subset of the store's
      assert(allSigCells > sigCells.size || sigCells.isEmpty)
    }
  }

  test("probe result for the one-doc batch matches a corpus-wide check") {
    withIndex { dir =>
      // ground truth: brute-force verified pairs for doc 7 against all old
      // docs (tiny at sf0.001) — the probe must agree through the index
      val hashes = operators.DedupText.packedHashTable(spark, sf)
      val newSide = hashes.filter(col("doc_id") === 7)
        .select(col("doc_id").as("new_id"), col("hs").as("hsn"))
      val oldSide = hashes.filter(!(col("doc_id") % 10 === 7))
        .select(col("doc_id").as("old_id"), col("hs").as("hso"))
      val brute = newSide.crossJoin(oldSide)
        .select(col("new_id"), col("old_id"),
          round(size(array_intersect(col("hsn"), col("hso"))).cast("double") /
            size(array_union(col("hsn"), col("hso"))), 6).as("j"))
        .filter(col("j") >= 0.5)
        .orderBy(col("old_id")).collect()
      val got = BandIndexStore.probe(spark, sf, col("doc_id") === 7, dir)
        .head()
      if (brute.isEmpty) {
        assert(got.getLong(1) == -1L && got.getDouble(2) == 0.0)
      } else {
        // the banded probe may legitimately miss band-collision-free pairs;
        // but any pair it reports must be a true verified pair
        val bruteMap = brute.map(r => r.getLong(1) -> r.getDouble(2)).toMap
        if (got.getLong(1) != -1L)
          assert(bruteMap.get(got.getLong(1)).contains(got.getDouble(2)))
      }
    }
  }
}
