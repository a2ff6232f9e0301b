package graft

import org.apache.spark.sql.functions._

/** Smoke + semantics tests for every registry query on sf0.001 (the DuckDB
  * hash-compare happens driver-side at sf0.01; these catch regressions
  * fast and pin a few query-specific invariants). */
class QueriesSpec extends SparkSpec {

  test("every registry query executes; oracle-checked ones return rows") {
    // queries whose sf0.001 result is legitimately empty (thresholded
    // pair-finders over tiny data)
    val mayBeEmpty = Set("q23_embedding_neardup_pairs", "q34_minhash_lsh_pairs",
      "q38_fuzzy_name_pairs", "q46_ratcliff_fuzzy_pairs")
    QueryRegistry.queries.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n >= 0, q.name)
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("entry() flagship returns rows (t1 smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q20 top-1 neighbor of vec 0 is vec 0 itself (cos=1)") {
    val top = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .filter(col("rank") === 1).head()
    assert(top.getAs[Long]("vec_id") == 0L)
  }

  test("q22 emits exactly 2 ranked rows per label") {
    val df = QueryRegistry.byName("q22_vector_topk_per_label").fn(spark, sf)
    val counts = df.groupBy("label").count().select("count").distinct()
    assert(counts.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("top-k nesting: q20 top-10 ids are a subset of top-20 ids") {
    val ids = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0))
    assert(ids.take(10).toSet.subsetOf(ids.take(20).toSet))
  }

  test("q30 exact-dedup fingerprints are unique per distinct text") {
    val df = QueryRegistry.byName("q30_dedup_exact_fingerprint").fn(spark, sf)
    val total = Tables.t(spark, sf, "documents")
      .select("text").distinct().count()
    assert(df.count() == total)
  }

  test("q44 first-event dedup output is unique on (user_id, event_type)") {
    val df = QueryRegistry.byName("q44_first_event_dedup").fn(spark, sf)
    assert(df.count() == df.select("user_id", "event_type").distinct().count())
  }

  test("q90 BM25: rare term dominates, scores strictly ordered, idf sane") {
    val rows = QueryRegistry.byName("q90_bm25_retrieval").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Long]("score_micro"))
    assert(scores.sameElements(scores.sortBy(-_)), "top-k not score-descending")
    // every doc matching the rare 'dup' term (idf 5) must outrank every
    // doc matching only common terms (idf 1 each, <=2.2e6 max per term)
    val dupDocs = Tables.t(spark, sf, "documents")
      .filter(col("text").contains("dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val (withDup, without) = rows.partition(r => dupDocs(r.getAs[Long]("doc_id")))
    if (withDup.nonEmpty && without.nonEmpty)
      assert(withDup.map(_.getAs[Long]("score_micro")).min >
        without.map(_.getAs[Long]("score_micro")).max)
  }

  test("q26 IVF ANN achieves >=60% recall vs exact top-10") {
    val exact = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).take(10).toSet
    val ivf = QueryRegistry.byName("q26_ivf_ann_topk").fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("q65 k-means IVF achieves >=60% recall vs exact top-10") {
    val exact = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).take(10).toSet
    val ivf = operators.MLPipelineOps.q65.fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"kmeans-IVF recall $recall")
  }

  test("q80 sign-LSH ANN recalls at least 20% of the exact top-10") {
    val exact = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).take(10).toSet
    val lsh = QueryRegistry.byName("q80_lsh_signbit_ann").fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.nonEmpty)
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.2, s"sign-LSH recall $recall")
  }

  test("q61 LSH ANN recalls at least 30% of the exact top-10") {
    val exact = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).take(10).toSet
    val lsh = operators.MLPipelineOps.q61.fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall")
  }

  /** q118-style quality contract for the MLlib rungs (VERDICT r4 #7):
    * recall-vs-top-10 alone tolerates an ANN that returns junk beyond its
    * hits; the exhaustive-rank pin does not — EVERY returned neighbor must
    * sit in the exhaustive top slice by exact cosine. */
  private def exhaustiveRanks(returned: Set[Long]): (Int, Long) = {
    import graft.functions.VectorFunctions._
    val emb = Tables.t(spark, sf, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val ranked = emb.crossJoin(broadcast(qv))
      .withColumn("score", cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0))
    val worst = returned.map(id => ranked.indexOf(id) + 1).max
    (worst, ranked.length.toLong)
  }

  test("q61 LSH ANN: every returned neighbor is in the exhaustive top 5%") {
    val lsh = operators.MLPipelineOps.q61.fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.nonEmpty)
    val (worst, n) = exhaustiveRanks(lsh)
    assert(worst <= math.max(32, n / 20),
      s"LSH neighbor at exhaustive rank $worst of $n — not a near neighbor")
  }

  test("q65 k-means IVF: every returned neighbor is in the exhaustive top 5%") {
    val ivf = operators.MLPipelineOps.q65.fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf.nonEmpty)
    val (worst, n) = exhaustiveRanks(ivf)
    assert(worst <= math.max(32, n / 20),
      s"IVF neighbor at exhaustive rank $worst of $n — not a near neighbor")
  }

  test("q118 mined negatives are GENUINELY hard: every one sits in the " +
    "exhaustive top-5% of its query's anti-label candidates") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions._
    // q118's contract is NOT top-3 recall (contrastive training needs
    // similar-but-wrong examples, not the argmax): assert each probed
    // negative's EXHAUSTIVE rank instead. Measured: worst rank 13-23 of
    // 447-1791 candidates across sf0.001-0.1 (top 1.3-5%), median 5-8.
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qvec"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val exhaustive = emb.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("q_label"))
      .withColumn("score", cosine(col("embedding"), col("qvec")))
      .withColumn("xrank", row_number().over(w))
      .select(col("q_id"), col("vec_id").as("neg_id"), col("xrank"))
    val mined = QueryRegistry.byName("q118_hard_negative_ann").fn(spark, sf)
      .select(col("q_id"), col("neg_id"))
    assert(mined.count() == 15, "expected top-3 for each of 5 queries")
    val worst = mined.join(exhaustive, Seq("q_id", "neg_id"))
      .agg(max(col("xrank"))).head().getInt(0)
    val candidatesPerQuery = exhaustive.count() / 5
    assert(worst <= math.max(32, candidatesPerQuery / 20),
      s"mined negative at exhaustive rank $worst of $candidatesPerQuery — not hard")
  }

  test("q64 batch decode covers every document exactly once") {
    val df = QueryRegistry.byName("q64_multimodal_batch_decode").fn(spark, sf)
    assert(df.count() == Tables.t(spark, sf, "documents").count())
    assert(df.select("doc_id").distinct().count() == df.count())
  }

  test("q56 PassJoin finds exactly the brute-force edit-distance pairs") {
    val c = Tables.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"))
    // brute force over the small sf: all pairs with lev <= 1
    val a = c.select(col("c_custkey").as("ak"), col("c_name").as("an"))
    val b = c.select(col("c_custkey").as("bk"), col("c_name").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 1)
      .select(col("ak"), col("bk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pass = QueryRegistry.byName("q56_passjoin_edit_pairs").fn(spark, sf)
      .select(col("a_key"), col("b_key")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pass == brute, s"missing=${brute -- pass} extra=${pass -- brute}")
    assert(brute.nonEmpty)
  }

  test("q79 PassJoin k=2 finds exactly the brute-force ed<=2 pairs on part names") {
    val p = Tables.t(spark, sf, "part").select(col("p_partkey"), col("p_name"))
    val a = p.select(col("p_partkey").as("ak"), col("p_name").as("an"))
    val b = p.select(col("p_partkey").as("bk"), col("p_name").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 2)
      .select(col("ak"), col("bk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pass = QueryRegistry.byName("q79_passjoin_k2_varlen").fn(spark, sf)
      .select(col("a_key"), col("b_key")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pass == brute, s"missing=${brute -- pass} extra=${pass -- brute}")
  }

  test("PassJoin k=2 is lossless on synthetic variable-length strings") {
    import spark.implicits._
    // deterministic corpus with substitutions, insertions, AND deletions —
    // exercises the cross-length (|Δlen| in {1,2}) candidate paths
    val rnd = new scala.util.Random(13)
    val strs = (0L until 300L).map { i =>
      (i, (0 until 6 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("k", "s")
    val a = df.select(col("k").as("ak"), col("s").as("an"))
    val b = df.select(col("k").as("bk"), col("s").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 2)
      .select("ak", "bk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pass = graft.operators.EditDistanceJoin.selfJoinK2(df, "k", "s")
      .select("a_key", "b_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pass == brute, s"missing=${brute -- pass} extra=${pass -- brute}")
    // the synthetic corpus must actually contain cross-length pairs
    val lens = strs.toMap
    assert(brute.exists { case (x, y) => lens(x).length != lens(y).length },
      "corpus has no cross-length ed<=2 pairs — test would not cover them")
  }

  test("PassJoin k=2 is lossless on short low-alphabet strings (segment degeneracy)") {
    import spark.implicits._
    // lengths 3-6 over a 2-letter alphabet: segments of length 1-2, huge
    // collision rate, pairs at every |Δlen| in {0,1,2} — the degenerate
    // regime where candidate-generation bugs (off-by-one shifts, wrong
    // segment geometry) actually surface
    val rnd = new scala.util.Random(99)
    val strs = (0L until 250L).map { i =>
      (i, (0 until 3 + rnd.nextInt(4)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
    }
    val df = strs.toDF("k", "s")
    val a = df.select(col("k").as("ak"), col("s").as("an"))
    val b = df.select(col("k").as("bk"), col("s").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 2)
      .select("ak", "bk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pass = graft.operators.EditDistanceJoin.selfJoinK2(df, "k", "s")
      .select("a_key", "b_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pass == brute, s"missing=${brute -- pass} extra=${pass -- brute}")
    assert(brute.nonEmpty)
  }

  test("PassJoin k=2 pairs degenerate short-suffix rows instead of dropping them") {
    import spark.implicits._
    // ADVICE r9: rows whose post-prefix-strip suffix is < 3 chars can't
    // form three non-empty segments; pre-r10 selfJoinK2 DROPPED them, so
    // selfJoinAuto's size crossover silently changed results on corpora
    // with degenerate suffixes. Corpus: shared literal prefix + suffixes
    // of length 0..6 (incl. empty and duplicates) — short rows must pair
    // with short and near-short partners, with exact lev values.
    val rnd = new scala.util.Random(41)
    val strs = (0L until 200L).map { i =>
      (i, "DOC:" + (0 until rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
    }
    val df = strs.toDF("k", "s")
    val a = df.select(col("k").as("ak"), col("s").as("an"))
    val b = df.select(col("k").as("bk"), col("s").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 2)
      .select(col("ak"), col("bk"), levenshtein(col("an"), col("bn")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pass = graft.operators.EditDistanceJoin.selfJoinK2(df, "k", "s")
      .select("a_key", "b_key", "lev").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pass == brute,
      s"missing=${brute.keySet -- pass.keySet} extra=${pass.keySet -- brute.keySet}")
    // the corpus must actually exercise the short-suffix channel: pairs
    // where at least one side's suffix is sub-segmentable
    val lens = strs.map { case (k, s) => k -> (s.length - 4) }.toMap
    assert(brute.keys.exists { case (x, y) => lens(x) < 3 || lens(y) < 3 },
      "no short-suffix pairs — test would not cover the brute side channel")
    assert(brute.keys.exists { case (x, y) => lens(x) < 3 && lens(y) >= 3 },
      "no short-long pairs — cross-class channel uncovered")
  }

  test("symmetric-delete join is lossless incl. shared prefixes and dup strings") {
    import spark.implicits._
    // shared literal prefix (exercises the common-prefix strip), short
    // post-strip suffixes (down to length 2 — below PassJoin's minimum),
    // duplicate strings (ed=0 pairs), and all |Δlen| in {0,1,2}
    val rnd = new scala.util.Random(7)
    val strs = (0L until 250L).map { i =>
      (i, "ID#" + (0 until 2 + rnd.nextInt(4)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("k", "s")
    val a = df.select(col("k").as("ak"), col("s").as("an"))
    val b = df.select(col("k").as("bk"), col("s").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 2)
      .select(col("ak"), col("bk"), levenshtein(col("an"), col("bn")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // pair sets AND full-string lev values must match despite the strip
    val sym = graft.operators.EditDistanceJoin.selfJoinSymDeleteK2(df, "k", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sym == brute,
      s"missing=${brute.keySet -- sym.keySet} extra=${sym.keySet -- brute.keySet} " +
        s"levDiff=${sym.collect { case (k, v) if brute.get(k).exists(_ != v) => k }}")
    assert(brute.nonEmpty)
  }

  test("symmetric-delete join blocked by nation matches brute force within blocks") {
    val c = Tables.t(spark, sf, "customer")
      .select(col("c_nationkey").as("nk"), col("c_custkey").as("key"),
        col("c_name").as("name"))
    val a = c.select(col("nk"), col("key").as("ak"), col("name").as("an"))
    val b = c.select(col("nk"), col("key").as("bk"), col("name").as("bn"))
    val brute = a.join(b, Seq("nk")).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 2)
      .select("ak", "bk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sym = graft.operators.EditDistanceJoin
      .selfJoinSymDeleteK2(c, "key", "name", blockCols = Seq("nk"))
      .select("a_key", "b_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym == brute, s"missing=${brute -- sym} extra=${sym -- brute}")
    assert(brute.nonEmpty)
  }

  test("as-of join matches a brute-force reference on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // left: (id, key, time); right raw: (id, key, time) — deduped per
    // (key, time) below so the as-of pick is unambiguous
    val left = (0 until 500).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
    val rightRaw = (0 until 300).map(i =>
      (i.toLong + 1000, rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong))
    val rightDedup = rightRaw.groupBy(e => (e._2, e._3))
      .map { case ((k, t), es) => (es.map(_._1).max, k, t) }.toSeq
    val l = left.toDF("l_id", "k", "t")
    val r = rightDedup.toDF("r_id", "rk", "rt")
    val got = graft.plans.AsOfJoin.asof(l, r, Seq("k" -> "rk"), "t", "rt")
      .select("l_id", "r_id").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    val byKey = rightDedup.groupBy(_._2)
    val expected = left.map { case (id, k, t) =>
      val cand = byKey.getOrElse(k, Nil).filter(_._3 <= t)
      (id, if (cand.isEmpty) -1L else cand.maxBy(e => (e._3, e._1))._1)
    }.toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.exists(_._2 >= 0) && expected.exists(_._2 == -1L),
      "test data must exercise both matched and unmatched rows")
  }

  test("connectedComponents matches union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val n = 200
    val keys = (0L until n.toLong)
    val edges = (0 until 260)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val nodesDf = keys.toDF("key")
    val edgesDf = edges.toDF("src", "dst")
    val parent = scala.collection.mutable.Map(keys.map(k => k -> k): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    // canonicalize union-find roots to min-of-component to match min-propagation
    val byRoot = keys.groupBy(find)
    val expect = byRoot.flatMap { case (_, ks) => ks.map(_ -> ks.min) }.toMap
    val got = graft.operators.CurationOps.connectedComponents(nodesDf, edgesDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(expect.values.toSet.size > 1 && expect.values.toSet.size < n)
  }

  test("PassJoin k=1 is lossless on synthetic varied-prefix strings") {
    import spark.implicits._
    // deterministic corpus with entropy spread across the whole string
    val rnd = new scala.util.Random(7)
    val strs = (0L until 400L).map { i =>
      (i, (0 until 8).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    }
    val df = strs.toDF("k", "s")
    val a = df.select(col("k").as("ak"), col("s").as("an"))
    val b = df.select(col("k").as("bk"), col("s").as("bn"))
    val brute = a.crossJoin(b).filter(col("ak") < col("bk"))
      .filter(levenshtein(col("an"), col("bn")) <= 1)
      .select("ak", "bk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pass = graft.operators.EditDistanceJoin.selfJoinK1(df, "k", "s")
      .select("a_key", "b_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pass == brute, s"missing=${brute -- pass} extra=${pass -- brute}")
    assert(brute.nonEmpty)
  }

  test("searchWithFallback degrades from LSH to the exact path (O12)") {
    import graft.operators.SearchService
    val before = SearchService.degradedCount
    // a normal request is served by its tier
    assert(SearchService.searchWithFallback(spark, sf, 0, limit = 5).count() == 5)
    assert(SearchService.degradedCount == before)
    // an absent query vector fails the exact tier's key lookup; the scan
    // serves the request and finds no neighbours for it
    assert(SearchService.searchWithFallback(spark, sf, -1, limit = 5).count() == 0)
    assert(SearchService.degradedCount == before + 1)
    // with no tables both paths fail, and the tier's failure is still counted
    withTempDir("graft_missing") { tmp =>
      intercept[org.apache.spark.sql.AnalysisException] {
        SearchService.searchWithFallback(spark, tmp, 0, limit = 5)
      }
      assert(SearchService.degradedCount == before + 2)
    }
  }

  test("filtered ANN path returns k rows that ALL satisfy the metadata filter") {
    import graft.operators.SearchService
    // the filter is applied BEFORE the top-k (ai_service.py:70 pushes it
    // inside $vectorSearch): a filtered
    // search must return k filtered rows, never post-filter-to-fewer
    val k = 5
    val res = SearchService.searchWithFallback(spark, sf, 0, limit = k,
      langs = Seq("de"))
    assert(res.columns.toSeq == Seq("vec_id", "label"))
    val rows = res.collect()
    assert(rows.length == k, s"expected $k filtered results, got ${rows.length}")
    val deDocs = Tables.t(spark, sf, "documents").filter(col("lang") === "de")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("vec_id")).forall(deDocs.contains),
      "ANN returned a row outside the metadata filter")
  }

  test("q81 components match a driver-side union-find on brute-force block edges") {
    val cust = Tables.t(spark, sf, "customer")
      .select(col("c_nationkey").cast("long").as("block"),
        col("c_custkey").as("key"), col("c_name").as("name")).collect()
    val keys = cust.map(_.getAs[Long]("key"))
    // brute-force same-block ed<=1 edges (independent of PassJoin)
    val parent = scala.collection.mutable.Map(keys.map(k => k -> k): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val tmp = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = tmp
        }
      }
      dp(b.length)
    }
    for (pair <- cust.groupBy(_.getAs[Long]("block")).values.flatMap(_.combinations(2))) {
      val (x, y) = (pair(0), pair(1))
      if (lev(x.getAs[String]("name"), y.getAs[String]("name")) <= 1) {
        val (rx, ry) = (find(x.getAs[Long]("key")), find(y.getAs[Long]("key")))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
    }
    val expect = keys.map(k => k -> find(k)).toMap
    val got = QueryRegistry.byName("q81_dedup_components").fn(spark, sf)
      .select("key", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(expect.values.toSet.size < keys.length, "no nontrivial components formed")
  }

  test("q78 oversample absorbs dedup rejections and still fills the target") {
    val df = QueryRegistry.byName("q78_oversample_dedup_limit").fn(spark, sf)
    val n = df.count()
    val docs = Tables.t(spark, sf, "documents").count()
    // rejections actually happened (dedup did real work on this corpus)
    assert(n < math.min(300L, docs), s"no rejections: n=$n docs=$docs")
    // the retry loop's contract: when the candidate pool is deep enough,
    // the 3x oversample still fills the full target despite rejections
    if (docs >= 300) assert(n == 100, s"target unfilled: $n")
    // keys are unique post-dedup
    assert(df.select("doc_id").distinct().count() == n)
  }

  test("q82 split is deterministic, disjoint, and roughly 8/1/1") {
    val a = QueryRegistry.byName("q82_stratified_split").fn(spark, sf).collect()
    val b = QueryRegistry.byName("q82_stratified_split").fn(spark, sf).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    val splits = a.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(splits.keySet.subsetOf(Set("train", "val", "test")))
    val n = a.length.toDouble
    assert(splits.getOrElse("train", 0) / n > 0.6, s"train share off: $splits")
    // sampling keeps strictly less than everything in at least one stratum
    val total = Tables.t(spark, sf, "documents").count()
    assert(a.length < total)
  }

  test("approx_count_distinct (HLL) within 5% of exact (sketch capability)") {
    val li = Tables.t(spark, sf, "lineitem")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).head()
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_percentile (GK sketch) within its accuracy bound of exact") {
    // the mergeable-sketch percentile path for 100 TB (exact percentile
    // needs a global sort); accuracy parameter 100 → rank error <= 1%
    val o = Tables.t(spark, sf, "orders")
    val r = o.agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      expr("approx_percentile(o_totalprice, 0.5, 100)").as("approx"),
      count(lit(1)).as("n")).head()
    val exact = r.getDouble(0); val approx = r.getDouble(1)
    val n = r.getLong(2)
    // rank of the approx answer must be within 1% of the true median rank
    val rankApprox = o.filter(col("o_totalprice") <= approx).count().toDouble / n
    assert(math.abs(rankApprox - 0.5) <= 0.011,
      s"exact=$exact approx=$approx rank=$rankApprox")
  }

  test("every registry query has an oracle — no rows-only entries") {
    // r5: q46 gained a real DuckDB twin and the MLlib rungs moved out of
    // the registry. r7: the last two rows-only entries (the sketch
    // aggregates, whose raw estimates hash engine-specifically BY
    // CONSTRUCTION) were restructured to check their error contracts
    // IN-QUERY and emit portable exact-plus-verdict output with exact
    // twins (SketchOps) — the full registry is now hash-gated.
    val rowsOnly = QueryRegistry.queries.filter(_.oracle.isEmpty).map(_.name)
    assert(rowsOnly.isEmpty)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("MLlib Tokenizer->HashingTF->IDF invariants (S9 embedding source)") {
    // the MLlib form of q60's hashed-TF-IDF pipeline: hash-based and
    // seed-free, so invariants are deterministic at full parallelism
    import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val tf = new HashingTF().setInputCol("words").setOutputCol("tf")
      .setNumFeatures(64)
    val tfDf = tf.transform(tok.transform(docs))
    val out = new IDF().setInputCol("tf").setOutputCol("features")
      .fit(tfDf).transform(tfDf)
    import org.apache.spark.ml.linalg.Vector
    val feats = out.select(col("doc_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getAs[Vector]("features")).toMap
    assert(feats.size == docs.count())
    assert(feats.values.forall(v => v.size == 64 &&
      v.toArray.forall(x => x >= 0 && !x.isNaN && !x.isInfinite)))
    // idempotent: a second fit+transform reproduces identical vectors
    val again = new IDF().setInputCol("tf").setOutputCol("features")
      .fit(tfDf).transform(tfDf)
      .select(col("doc_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getAs[Vector]("features")).toMap
    assert(again == feats)
  }

  test("MLlib Word2Vec invariants at full parallelism (no repartition(1))") {
    // Word2Vec's distributed gradient order is nondeterministic, so we pin
    // aggregate invariants, not vectors: full vocabulary is learned, every
    // doc gets a finite vector of the right width, norms are bounded.
    import org.apache.spark.ml.feature.{Tokenizer, Word2Vec}
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val words = tok.transform(docs)
    val model = new Word2Vec().setInputCol("words").setOutputCol("vec")
      .setVectorSize(16).setSeed(42).setMinCount(1).setMaxIter(1).fit(words)
    val vocab = model.getVectors.count()
    val distinctToks = words
      .select(explode(col("words")).as("w")).filter(col("w") =!= "")
      .distinct().count()
    assert(vocab == distinctToks, s"vocab=$vocab tokens=$distinctToks")
    import org.apache.spark.ml.linalg.Vector
    val norms = model.transform(words).select(col("vec"))
      .collect().map(_.getAs[Vector]("vec"))
    assert(norms.length == docs.count())
    assert(norms.forall(v => v.size == 16 &&
      v.toArray.forall(x => !x.isNaN && !x.isInfinite)))
    val maxNorm = norms.map(v => math.sqrt(v.toArray.map(x => x * x).sum)).max
    assert(maxNorm < 100.0, s"unbounded embedding norm $maxNorm")
  }

  test("q99 packing: windows partition all tokens; ids contiguous per source") {
    val rows = QueryRegistry.byName("q99_sequence_packing").fn(spark, sf).collect()
    val total = Tables.t(spark, sf, "documents")
      .select(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("window_tokens")).sum == total,
      "packed windows lose or duplicate tokens")
    // contiguous 0..n window ids per source (every doc is far below the
    // 512-token budget, so the running sum can never skip a window)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val ids = rs.map(_.getAs[Long]("window_id")).sorted
      assert(ids.zipWithIndex.forall { case (w, i) => w == i },
        s"$src windows not contiguous: ${ids.mkString(",")}")
    }
  }

  test("q100 chunking: stitching chunks (minus overlap) reconstructs the text") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = QueryRegistry.byName("q100_chunk_overlap").fn(spark, sf)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet)
    val overlap = AssemblyOpsTestAccess.chunkChars - AssemblyOpsTestAccess.chunkStride
    byDoc.foreach { case (id, rs) =>
      val chunks = rs.sortBy(_.getAs[Long]("chunk_id")).map(_.getAs[String]("chunk"))
      val stitched = chunks.head +
        chunks.tail.map(c => c.substring(math.min(overlap, c.length))).mkString
      assert(stitched == docs(id), s"doc $id does not reconstruct")
    }
  }

  test("q102 sampling: exact k per stratum (clamped) and rerun-deterministic") {
    val q = QueryRegistry.byName("q102_topk_per_stratum_sample")
    val a = q.fn(spark, sf).collect()
    val sizes = Tables.t(spark, sf, "documents").groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    a.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      assert(rs.length == math.min(50L, sizes(lang)), s"$lang wrong sample size")
    }
    val b = q.fn(spark, sf).collect()
    assert(a.map(_.getAs[Long]("doc_id")).sorted.sameElements(
      b.map(_.getAs[Long]("doc_id")).sorted), "sample not deterministic")
  }

  test("q103 repetition metrics are valid fractions") {
    val rows = QueryRegistry.byName("q103_repetition_filter").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d3 = r.getAs[Double]("dup_3gram_frac")
      val t2 = r.getAs[Double]("top_2gram_frac")
      assert(d3 >= 0.0 && d3 <= 1.0 && t2 > 0.0 && t2 <= 1.0, r.toString)
      assert(r.getAs[Long]("n_tokens") >= 3)
    }
  }

  test("q104 mixture weights: rates in (0,1], shares consistent with totals") {
    val rows = QueryRegistry.byName("q104_mixture_weights").fn(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val rate = r.getAs[Double]("sample_rate")
      val share = r.getAs[Double]("share")
      assert(rate > 0.0 && rate <= 1.0, r.toString)
      assert(share > 0.0 && share < 1.0, r.toString)
    }
  }

  test("q105 int8 ADC: high recall vs exact cosine top-20 and self-match first") {
    val exact = QueryRegistry.byName("q20_vector_topk").fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val quant = QueryRegistry.byName("q105_int8_quant_ann").fn(spark, sf)
      .orderBy("rank").collect()
    // int8 is a faithful quantization, not a sketch: expect >=70% of the
    // exact top-20 to survive, and the query vector to beat everything
    assert(quant.head.getAs[Long]("vec_id") == 0L, "self-match not rank 1")
    val recall = quant.map(_.getAs[Long]("vec_id")).count(exact.contains)
    assert(recall >= 14, s"int8 recall $recall/20 vs exact top-20")
  }

  test("q106 e2e pipeline: eval slice excluded, splits valid, texts unique") {
    val rows = QueryRegistry.byName("q106_curation_pipeline_e2e").fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("doc_id") % 97 != 0), "eval doc leaked")
    val splits = rows.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val", "test")), splits.toString)
    // survivors must be a subset of the standalone quality+repetition gates
    val q84pass = QueryRegistry.byName("q84_quality_filter").fn(spark, sf)
      .filter(col("passes")).select("doc_id").collect().map(_.getLong(0)).toSet
    val q103clean = QueryRegistry.byName("q103_repetition_filter").fn(spark, sf)
      .filter(!col("flagged")).select("doc_id").collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(q84pass.contains(id) && q103clean.contains(id),
        s"doc $id survived e2e but fails a standalone gate")
    }
  }

  test("q107 correlation: values in [-1,1], group counts cover the table") {
    val rows = QueryRegistry.byName("q107_corr_qty_discount").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.t(spark, sf, "lineitem").count())
    rows.foreach { r =>
      val c = r.getAs[Double]("corr_qty_disc")
      assert(c >= -1.0 && c <= 1.0, r.toString)
    }
  }

  test("q125 incremental dedup agrees with the full self-join q34") {
    // Every (new, old) cross-slice q34 pair at jaccard >= 0.5 must be
    // reflected in q125 (the asymmetric probe loses nothing), and every
    // q125 flag must be such a pair with the minimal old id.
    val full = QueryRegistry.byName("q34_minhash_lsh_pairs").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = full.filter { case (a, b, j) =>
      (a % 10 == 7) != (b % 10 == 7) && j >= 0.5 }
      .map { case (a, b, j) =>
        if (a % 10 == 7) (a, b, j) else (b, a, j) }
    val expect = cross.groupBy(_._1).map { case (n, ps) =>
      val mo = ps.map(_._2).min
      n -> (mo, ps.find(_._2 == mo).get._3)
    }
    val got = QueryRegistry.byName("q125_incremental_neardup").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    expect.foreach { case (n, (o, j)) =>
      assert(got.get(n).contains((o, j)), s"new=$n expected dup_of=$o j=$j got=${got.get(n)}")
    }
    got.filter(_._2._1 >= 0).keys.foreach { n =>
      assert(expect.contains(n), s"q125 flagged $n with no q34 cross pair")
    }
  }

  test("q126 span scrub: exact token accounting, kept text a subsequence") {
    val rows = QueryRegistry.byName("q126_span_scrub_apply").fn(spark, sf)
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed") ==
        r.getAs[Long]("n_tokens"), s"accounting off: $r")
    }
    assert(rows.exists(_.getAs[Long]("n_removed") > 0),
      "no spans scrubbed — dup-span construction broken")
    // the scrubbed text must be the original token stream with positions
    // deleted — i.e. an ordered subsequence
    val orig = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    rows.take(100).foreach { r =>
      val kept = r.getAs[String]("scrubbed") match {
        case "" => Array.empty[String]
        case t => t.split(" ")
      }
      val o = orig(r.getLong(0))
      var i = 0
      kept.foreach { tok =>
        var j = i
        while (j < o.length && o(j) != tok) j += 1
        assert(j < o.length, s"doc ${r.getLong(0)}: '$tok' breaks subsequence")
        i = j + 1
      }
    }
  }

  test("q127 weighted sample: dense unique ranks, weight-biased inclusion") {
    val rows = QueryRegistry.byName("q127_weighted_priority_sample")
      .fn(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq ==
      (1L to rows.length).toSeq)
    assert(rows.forall(_.getAs[Long]("weight") > 0))
    // priority sampling must over-represent heavy documents: the sample's
    // mean weight exceeds the corpus mean
    val sampleMean = rows.map(_.getAs[Long]("weight")).sum.toDouble / rows.length
    val corpusMean = Tables.t(spark, sf, "documents")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("q128 k-means: every vector assigned, cluster ids valid, dists >= 0") {
    val df = QueryRegistry.byName("q128_kmeans_lloyd_assign").fn(spark, sf)
    val rows = df.collect()
    val total = Tables.t(spark, sf, "embeddings").count()
    assert(rows.length == total, "every vector must be assigned")
    val used = rows.map(_.getAs[Long]("cluster")).distinct
    assert(used.forall(c => c >= 0 && c < 8))
    assert(used.length >= 2, "degenerate clustering: one cluster")
    assert(rows.forall(_.getAs[Long]("dist") >= 0))
  }

  test("q130 RRF fusion: ranks dense, fused score is the sum of its parts") {
    val rows = QueryRegistry.byName("q130_hybrid_rrf_fusion").fn(spark, sf)
      .orderBy("rank").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("rank")).sameElements(1L to rows.length))
    val rrf = rows.map(_.getAs[Long]("rrf_micro"))
    assert(rrf.sameElements(rrf.sortBy(-_)), "fusion not score-descending")
    rows.foreach { r =>
      val l = r.getAs[Long]("lex_rank"); val v = r.getAs[Long]("vec_rank")
      assert(l > 0 || v > 0, "fused doc in neither source list")
      val expected = (if (l > 0) 1000000L / (60 + l) else 0L) +
        (if (v > 0) 1000000L / (60 + v) else 0L)
      assert(r.getAs[Long]("rrf_micro") == expected,
        s"doc ${r.getAs[Long]("doc_id")}: rrf != 1/(60+r) sum")
    }
  }

  test("q131 PageRank: every node >= teleport base, total mass conserved") {
    val rows = QueryRegistry.byName("q131_pagerank_trade_graph")
      .fn(spark, sf).collect()
    val n = Tables.t(spark, sf, "nation").count()
    assert(rows.length == n)
    val prs = rows.map(_.getAs[Long]("pr_micro"))
    assert(prs.forall(_ >= 150000L / n), "node below teleport floor")
    // integer truncation and dangling-mass drop only LOSE mass
    assert(prs.sum <= 1000000L, s"mass ${prs.sum} exceeds initial 1e6")
    assert(prs.max > 150000L / n, "no node accumulated link mass")
    // the in-query conservation contract holds on the engine's own run
    assert(rows.forall(_.getAs[Boolean]("mass_ok")))
  }

  test("q132 SemDeDup: drops are unique and each keeper is a q23 near-dup") {
    val pairs = QueryRegistry.byName("q23_embedding_neardup_pairs")
      .fn(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val dropped = QueryRegistry.byName("q132_semdedup_prune")
      .fn(spark, sf).collect()
    assert(dropped.map(_.getAs[Long]("vec_id")).distinct.length == dropped.length)
    dropped.foreach { r =>
      val v = r.getAs[Long]("vec_id"); val k = r.getAs[Long]("keeper")
      assert(k != v)
      assert(pairs((math.min(k, v), math.max(k, v))),
        s"dropped $v with keeper $k is not a q23 near-dup pair")
    }
  }

  test("q133 KMV: estimates inside their documented bounds, sane sketch") {
    val r = QueryRegistry.byName("q133_kmv_set_intersection")
      .fn(spark, sf).head()
    assert(r.getAs[Boolean]("union_ok") && r.getAs[Boolean]("inter_ok"))
    assert(r.getAs[Long]("k_eff") <= 128L)
    assert(r.getAs[Long]("rho") <= r.getAs[Long]("k_eff"))
    assert(math.abs(r.getAs[Long]("est_union") - r.getAs[Long]("exact_union")) * 10
      <= 3 * r.getAs[Long]("exact_union"))
    assert(r.getAs[Long]("jaccard_micro") ==
      r.getAs[Long]("rho") * 1000000L / r.getAs[Long]("k_eff"))
  }

  test("q134 count-min: overcount-only, est bounded by the stream length") {
    val rows = QueryRegistry.byName("q134_countmin_freq").fn(spark, sf).collect()
    assert(rows.length == 10)
    val n = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " "))).count()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("over_ok"))
      assert(r.getAs[Long]("est") >= r.getAs[Long]("cnt"))
      assert(r.getAs[Long]("est") <= n)
    }
  }

  test("q135 Morton invariant: a 2^26-code bucket confines both dims to 2^13") {
    val rows = QueryRegistry.byName("q135_zorder_layout_audit")
      .fn(spark, sf).collect()
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b < 64)
      assert(r.getAs[Long]("x_span") <= 8192, s"bucket $b x_span")
      assert(r.getAs[Long]("y_span") <= 8192, s"bucket $b y_span")
    }
    val total = rows.map(_.getAs[Long]("cnt")).sum
    assert(total == Tables.t(spark, sf, "lineitem").count())
  }

  test("q136 bigram rarity: fractions in range, verdict consistent") {
    val rows = QueryRegistry.byName("q136_bigram_rarity_score")
      .fn(spark, sf).collect()
    rows.foreach { r =>
      val rm = r.getAs[Long]("rare_micro")
      assert(rm >= 0 && rm <= 1000000)
      assert(r.getAs[Long]("mean_bg_count") >= 1)
      assert(r.getAs[Boolean]("keep") == (rm < 200000))
    }
  }

  test("q137 triangles: per-node counts sum to a multiple of 3") {
    val rows = QueryRegistry.byName("q137_triangle_count").fn(spark, sf).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("triangles")).sum % 3 == 0)
    rows.foreach(r => assert(r.getAs[Long]("degree") <= n - 1))
    // edge-iterator total agrees with the node-iterator total in-query
    assert(rows.forall(_.getAs[Boolean]("tri_xcheck")))
  }

  test("q138 k-anonymity: classes partition the customer table") {
    val rows = QueryRegistry.byName("q138_kanonymity_audit").fn(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("class_size")).sum ==
      Tables.t(spark, sf, "customer").count())
    rows.foreach { r =>
      assert(r.getAs[Boolean]("k_anonymous") == (r.getAs[Long]("class_size") >= 5))
      assert(r.getAs[Long]("l_diversity") <= r.getAs[Long]("class_size"))
    }
  }

  test("q139 JL projection: 16 dims, l1 consistent, distances preserved in sign") {
    val rows = QueryRegistry.byName("q139_jl_random_projection")
      .fn(spark, sf).collect()
    assert(rows.length == Tables.t(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val proj = r.getAs[String]("proj_csv").split(",").map(_.toLong)
      assert(proj.length == 16)
      assert(proj.map(math.abs).sum == r.getAs[Long]("l1_norm"))
    }
  }

  test("q140 interval join: every lag inside (0, 1h], pairs unique") {
    val rows = QueryRegistry.byName("q140_interval_join_attrib")
      .fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lag = r.getAs[Long]("lag_us")
      assert(lag > 0 && lag <= 3600L * 1000000)
    }
    val pairs = rows.map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id")))
    assert(pairs.distinct.length == pairs.length)
  }

  test("q141 SCD2: dense versions, contiguous intervals, one current row per user") {
    val rows = QueryRegistry.byName("q141_scd2_history_build")
      .fn(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, hist) =>
      val sorted = hist.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq ==
        (1L to sorted.length).toSeq, s"user $u versions not dense")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us"),
            s"user $u interval gap at v${a.getAs[Long]("version")}")
          assert(a.getAs[String]("state") != b.getAs[String]("state"),
            s"user $u consecutive duplicate state")
        case _ =>
      }
      assert(hist.count(_.getAs[Boolean]("is_current")) == 1,
        s"user $u current-row count")
      assert(sorted.last.getAs[Long]("valid_to_us") == -1L)
    }
  }

  test("q142 phrase search: every hit doc really contains the adjacent phrase") {
    val hits = QueryRegistry.byName("q142_phrase_search_postings")
      .fn(spark, sf).collect()
    assert(hits.nonEmpty)
    val texts = Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id")).toLowerCase.split(" ")
      val occ = toks.sliding(2).count(p => p.sameElements(Array("fast", "spark")))
      assert(occ == r.getAs[Long]("n_occurrences"),
        s"doc ${r.getAs[Long]("doc_id")}: $occ vs ${r.getAs[Long]("n_occurrences")}")
      val fp = r.getAs[Long]("first_pos").toInt
      assert(toks(fp - 1) == "fast" && toks(fp) == "spark")
    }
  }

  test("q143 incremental merge equals the direct one-shot aggregate") {
    val merged = QueryRegistry.byName("q143_incremental_agg_merge")
      .fn(spark, sf).collect()
    val direct = Tables.t(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Tables.dsum(col("o_totalprice")).as("revenue"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy(col("o_orderpriority")).collect()
    assert(merged.length == direct.length)
    merged.zip(direct).foreach { case (m, dr) =>
      assert(m.getAs[String]("o_orderpriority") == dr.getAs[String]("o_orderpriority"))
      assert(m.getAs[Long]("n_orders") == dr.getAs[Long]("n_orders"))
      assert(m.getAs[Double]("revenue") == dr.getAs[Double]("revenue"),
        s"${m.getAs[String]("o_orderpriority")} revenue drift")
      assert(m.getAs[Double]("min_price") == dr.getAs[Double]("min_price"))
      assert(m.getAs[Double]("max_price") == dr.getAs[Double]("max_price"))
    }
  }

  test("q144 Markov: rows of the transition matrix are proper distributions") {
    val rows = QueryRegistry.byName("q144_markov_transitions")
      .fn(spark, sf).collect()
    val ev = Tables.t(spark, sf, "events")
    val expectedPairs = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expectedPairs)
    rows.groupBy(_.getAs[String]("from_state")).foreach { case (fs, grp) =>
      val tot = grp.head.getAs[Long]("from_total")
      assert(grp.map(_.getAs[Long]("n")).sum == tot, s"$fs marginal")
      grp.foreach(r => assert(r.getAs[Long]("p_micro") <= 1000000L))
    }
  }

  test("q145 association rules: support/confidence consistency") {
    val rows = QueryRegistry.byName("q145_association_rules")
      .fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      val (sp, sa, sb) = (r.getAs[Long]("sup_pair"),
        r.getAs[Long]("sup_a"), r.getAs[Long]("sup_b"))
      assert(sp <= math.min(sa, sb))
      assert(r.getAs[Long]("conf_micro") == sp * 1000000L / sa)
      assert(r.getAs[Long]("part_a") < r.getAs[Long]("part_b"))
    }
  }

  test("q146 chi-square: marginals reconcile, statistic is the contribution sum") {
    val rows = QueryRegistry.byName("q146_chi2_independence")
      .fn(spark, sf).collect()
    val n = Tables.t(spark, sf, "events").count()
    assert(rows.map(_.getAs[Long]("o")).sum == n)
    val chi2 = rows.head.getAs[Long]("chi2_micro")
    assert(rows.forall(_.getAs[Long]("chi2_micro") == chi2))
    assert(rows.map(_.getAs[Long]("contrib_micro")).sum == chi2)
    // per-cell truncation loses < 1 milli-unit per cell
    assert(math.abs(rows.map(_.getAs[Long]("expected_milli")).sum - 1000 * n)
      <= rows.length)
  }

  test("q147 Gini matches an independent driver-side recomputation") {
    val r = QueryRegistry.byName("q147_gini_spend").fn(spark, sf).head()
    val units = Tables.t(spark, sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(Tables.fixp(col("o_totalprice"), 0)).as("units"))
      .orderBy(col("units"), col("o_custkey"))
      .collect().map(_.getAs[Long]("units"))
    val nC = units.length.toLong
    val s = units.sum
    val ranked = units.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val gini = 2 * ranked / nC * 1000000L / s - 1000000L * (nC + 1) / nC
    assert(r.getAs[Long]("n_customers") == nC)
    assert(r.getAs[Long]("total_units") == s)
    assert(r.getAs[Long]("gini_micro") == gini)
    assert(gini >= 0 && gini < 1000000L)
  }

  test("q148 BFS: source at 0, reached levels contiguous from a frontier") {
    val rows = QueryRegistry.byName("q148_bfs_hops").fn(spark, sf).collect()
    val hops = rows.map(r => r.getAs[Long]("node") -> r.getAs[Long]("hops")).toMap
    assert(hops(0L) == 0L)
    assert(hops.values.forall(h => h >= -1 && h <= 3))
    // every level-k node (k>=1) must have been reached from level k-1:
    // levels are contiguous (no k without a k-1 elsewhere)
    val levels = hops.values.filter(_ >= 0).toSet
    (0L to levels.max).foreach(k => assert(levels.contains(k), s"gap at $k"))
    // the in-query edge-consistency/frontier-support contract holds
    assert(rows.forall(_.getAs[Boolean]("bfs_ok")))
  }

  test("q149 trending: ranks dense per year, deltas reconcile with prior year") {
    val rows = QueryRegistry.byName("q149_trending_rank_delta")
      .fn(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("yr")).foreach { case (y, grp) =>
      val rnks = grp.map(_.getAs[Long]("rnk")).sorted
      assert(rnks.toSeq == (1L to grp.length).toSeq, s"year $y ranks not dense")
    }
    val byKey = rows.map(r =>
      (r.getAs[Long]("yr"), r.getAs[String]("p_brand")) -> r).toMap
    rows.foreach { r =>
      val prev = byKey.get((r.getAs[Long]("yr") - 1, r.getAs[String]("p_brand")))
      val expected = prev.map(_.getAs[Long]("rnk")).getOrElse(-1L)
      assert(r.getAs[Long]("prev_rnk") == expected)
      if (expected != -1L)
        assert(r.getAs[Long]("rank_delta") == expected - r.getAs[Long]("rnk"))
    }
  }

  test("q150 percolate: match counts reconcile with a direct text scan") {
    val rows = QueryRegistry.byName("q150_percolate_stored_queries")
      .fn(spark, sf).collect()
    assert(rows.length == 8)
    val texts = Tables.t(spark, sf, "documents")
      .select("text").collect().map(_.getString(0).toLowerCase.split(" ").toSet)
    rows.foreach { r =>
      val (t1, t2) = (r.getAs[String]("term1"), r.getAs[String]("term2"))
      assert(t1 != t2)
      val direct = texts.count(ts => ts(t1) && ts(t2))
      assert(r.getAs[Long]("n_matching_docs") == direct,
        s"qid ${r.getAs[Long]("qid")}: engine ${r.getAs[Long]("n_matching_docs")} vs direct $direct")
    }
  }

  test("q101 pivot: cell matrix sums to the direct revenue total") {
    val rows = QueryRegistry.byName("q101_pivot_revenue_matrix").fn(spark, sf)
    val cells = rows.collect().map { r =>
      (1 to 7).map(i => r.getDouble(i)).sum
    }.sum
    val direct = Tables.t(spark, sf, "orders")
      .agg(Tables.dsum(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(cells - direct) < 1e-4, s"pivot $cells vs direct $direct")
  }

  test("q151 multiterm percolate: mixed arities, counts reconcile with a direct scan") {
    val rows = QueryRegistry.byName("q151_percolate_multiterm")
      .fn(spark, sf).collect()
    assert(rows.length == 6)
    // arity pattern 1,2,3,1,2,3 and the terms string carries exactly
    // n_required comma-separated distinct terms
    assert(rows.map(_.getAs[Long]("n_required")).toSeq ==
      Seq(1L, 2L, 3L, 1L, 2L, 3L))
    val texts = Tables.t(spark, sf, "documents")
      .select("text").collect().map(_.getString(0).toLowerCase.split(" ").toSet)
    rows.foreach { r =>
      val terms = r.getAs[String]("terms").split(",").toSeq
      assert(terms.length == r.getAs[Long]("n_required").toInt)
      assert(terms.distinct == terms)
      val direct = texts.count(ts => terms.forall(ts))
      assert(r.getAs[Long]("n_matching_docs") == direct,
        s"qid ${r.getAs[Long]("qid")}: engine " +
          s"${r.getAs[Long]("n_matching_docs")} vs direct $direct")
    }
  }

  test("q155 negation percolate: counts reconcile with a direct scan, NOT actually excludes") {
    val rows = QueryRegistry.byName("q155_percolate_negation")
      .fn(spark, sf).collect()
    assert(rows.length == 6)
    val texts = Tables.t(spark, sf, "documents")
      .select("text").collect().map(_.getString(0).toLowerCase.split(" ").toSet)
    var excludedSomething = false
    rows.foreach { r =>
      val (t1, t2, nt) = (r.getAs[String]("term1"), r.getAs[String]("term2"),
        r.getAs[String]("not_term"))
      assert(Set(t1, t2, nt).size == 3)
      val direct = texts.count(ts => ts(t1) && ts(t2) && !ts(nt))
      val conj = texts.count(ts => ts(t1) && ts(t2))
      assert(r.getAs[Long]("n_matching_docs") == direct,
        s"qid ${r.getAs[Long]("qid")}: engine " +
          s"${r.getAs[Long]("n_matching_docs")} vs direct $direct")
      if (direct < conj) excludedSomething = true
    }
    // the top-rank forbidden terms are frequent, so at least one rule
    // must actually have excluded a conjunctive match
    assert(excludedSomething, "negation never fired — test data too clean")
  }

  test("q152 compaction: bins equal a sequential next-fit replay, bound holds") {
    val inv = operators.LayoutOps.fileInventory(spark, sf)
      .collect().map(r => (r.getAs[Long]("file_id"), r.getAs[Long]("bytes")))
      .sortBy { case (id, b) => (-b, id) } // bytes DESC, file_id tiebreak
    // sequential replay of the greedy pass the window expresses
    val target = operators.LayoutOps.CompactionTarget
    var prior = 0L
    val manual = inv.map { case (_, b) =>
      val bin = prior / target; prior += b; bin
    }
    val manualBins = manual.zip(inv).groupBy(_._1).map { case (bin, fs) =>
      bin -> (fs.length.toLong, fs.map(_._2._2).sum, fs.map(_._2._2).max)
    }
    val rows = QueryRegistry.byName("q152_compaction_binpack")
      .fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length == manualBins.size)
    rows.foreach { r =>
      val (nf, tot, mx) = manualBins(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n_files") == nf)
      assert(r.getAs[Long]("total_bytes") == tot)
      assert(r.getAs[Long]("max_file_bytes") == mx)
      assert(r.getAs[Boolean]("within_bound"))
      assert(tot < target + mx, "packing guarantee violated")
    }
  }

  test("q153 defended join: subset of q140, exact on users the rate limit never touched") {
    def keyed(name: String) = QueryRegistry.byName(name).fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("lag_us")))
    val raw = keyed("q140_interval_join_attrib").toSet
    val defended = keyed("q153_rate_limited_attrib").toSet
    // the defense only REMOVES pairs (never invents or rewrites one)
    assert(defended.subsetOf(raw))
    // users whose view stream the rate limit left untouched (<= 1 view
    // per 10-min bucket already) must attribute identically
    val ev = Tables.t(spark, sf, "events")
    val untouched = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), expr("unix_micros(ts) div 600000000"))
      .count().groupBy(col("user_id")).agg(max("count").as("m"))
      .filter(col("m") === 1).select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(untouched.nonEmpty, "harness data has no rate-limit-clean users")
    assert(raw.filter(t => untouched(t._1)) ==
      defended.filter(t => untouched(t._1)),
      "defense changed attribution for a user it should not have touched")
    // sf0.001's sparse stream has no hot (user, bucket); the reduction
    // behavior itself is pinned by StreamingSpec's synthetic bot user
  }

  test("q154 customer pagerank: shuffle-keyed supersteps match the broadcast plan") {
    val name = "q154_pagerank_customer"
    def run() = QueryRegistry.byName(name).fn(spark, sf).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("pr_units"))).toSeq
    import operators.GraphOps.{denseSuperstepCount, shuffleSuperstepCount}
    def steps() = (denseSuperstepCount, shuffleSuperstepCount)
    val s0 = steps()
    val viaBroadcast = run() // 165 nodes at sf0.001 -> under the limit
    val s1 = steps()
    // DynamicVariable scoping (ADVICE r8): the forced shuffle path is
    // confined to plans built inside withValue on THIS thread
    val viaShuffle =
      operators.GraphOps.broadcastRowLimitOverride.withValue(Some(0L)) {
        run() // every conditional hint now takes the shuffle path
      }
    val s2 = steps()
    // q154 runs 2 supersteps: the first run took only the dense path, the
    // forced run only the shuffle-keyed one
    assert(s1._1 - s0._1 == 2 && s1._2 == s0._2, s"first run moved $s0 -> $s1")
    assert(s2._1 == s1._1 && s2._2 - s1._2 == 2, s"forced run moved $s1 -> $s2")
    assert(viaBroadcast.nonEmpty && viaBroadcast == viaShuffle,
      "conditional broadcast hint changed the RESULT, not just the plan")
    // descending total order with node tiebreak; bounded output
    assert(viaBroadcast.length <= 100)
    assert(viaBroadcast.sliding(2).forall {
      case Seq((n1, r1), (n2, r2)) => r1 > r2 || (r1 == r2 && n1 < n2)
      case _ => true
    })
  }
}

/** Exposes AssemblyOps geometry constants to tests without widening the
  * production API. */
object AssemblyOpsTestAccess {
  val chunkChars: Int = operators.AssemblyOps.ChunkChars
  val chunkStride: Int = operators.AssemblyOps.ChunkStride
}
