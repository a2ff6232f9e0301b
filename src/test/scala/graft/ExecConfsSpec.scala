package graft

/** Contracts for the per-query AQE cost-gate (QueryRegistry.execConfs /
  * withExecConfs): the gate may change PHYSICAL execution only — results
  * must be bit-identical with and without it, and the session conf must
  * come back exactly as it was (Bench/Verify run 119 queries through one
  * session; a leaked conf would silently re-shape every later plan). */
class ExecConfsSpec extends SparkSpec {
  init()

  private def rows(name: String, gated: Boolean): Seq[Seq[Any]] = {
    val fn = QueryRegistry.byName(name).fn
    val df =
      if (gated) QueryRegistry.withExecConfs(spark, name, sf)(fn(spark, sf).collect())
      else fn(spark, sf).collect()
    df.map(_.toSeq).toSeq
  }

  // one bounded-reduce query (AQE off + 8-partition pin), one fixed-shape
  // (AQE off), one ungated control, and the recursion-gated q115 —
  // results must not depend on the gate
  for (name <- Seq("q01_pricing_summary", "q20_vector_topk",
      "q79_passjoin_k2_varlen", "q115_recursive_hierarchy",
      "q154_pagerank_customer")) {
    test(s"$name: gate on == gate off, row for row") {
      // collect() inside withExecConfs so AQE reads the gated conf at
      // physical planning time, same as Bench/Verify
      assert(rows(name, gated = true) == rows(name, gated = false))
    }
  }

  test("withExecConfs restores prior conf values, set and unset alike") {
    val aqe = "spark.sql.adaptive.enabled"
    val sp = "spark.sql.shuffle.partitions"
    val before = (spark.conf.getOption(aqe), spark.conf.getOption(sp))
    // q01 is in the bounded tier: sets both keys
    QueryRegistry.withExecConfs(spark, "q01_pricing_summary", sf) {
      assert(spark.conf.get(aqe) == "false")
      assert(spark.conf.get(sp) == "8")
    }
    assert((spark.conf.getOption(aqe), spark.conf.getOption(sp)) == before)
    // exception path must restore too
    intercept[RuntimeException] {
      QueryRegistry.withExecConfs(spark, "q01_pricing_summary", sf) {
        throw new RuntimeException("boom")
      }
    }
    assert((spark.conf.getOption(aqe), spark.conf.getOption(sp)) == before)
  }

  test("q115's gate lifts the recursion row guard and derives its width") {
    // The chain table is N*log2(max_id) rows by construction, so the 1M
    // default guard fails at 100x data (the first sf10 completion pass,
    // SUITE_sf10.json);
    // termination stays guaranteed by the halving anchor + the level
    // limit. The shuffle width is stat-derived (VERDICT r9 #1): neither
    // the 8-partition bounded pin (misclassified at sf10) nor the
    // session default (r9's 0.68 -> 6.16 s superstep-overhead regression
    // at sf0.1) — observable only through withExecConfs, which routes
    // q115 through the dynamic tier.
    assert(!QueryRegistry.execConfs.contains("q115_recursive_hierarchy"))
    QueryRegistry.withExecConfs(spark, "q115_recursive_hierarchy", sf) {
      assert(spark.conf.get("spark.sql.cteRecursionRowLimit") == "-1")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
      // sf0.01: 500 docs -> ~5.5k chain rows -> the 8-partition floor
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    }
    // the derived width tracks data size: the floor at harness sfs, and
    // growing (capped) widths once the chain crosses the per-partition
    // target — the exact monotone contract widthForRows encodes
    assert(QueryRegistry.widthForRows(5500L) == 8)
    assert(QueryRegistry.widthForRows(16000000L) == 64)
    assert(QueryRegistry.widthForRows(Long.MaxValue / 4) == 1024)
  }

  test("q154's width derives from the edge-list statistic, AQE kept on") {
    // the iterative-superstep family's width must TRACK the co-trading
    // edge list (~2x lineitem rows): measured optima 8 / 8 / 30 at
    // sf0.1 / sf1 / sf10 under the 4M-rows-per-task target, vs 33.5 s
    // at the context-global 256 against 23.9 s at 32 for sf10
    assert(!QueryRegistry.execConfs.contains("q154_pagerank_customer"))
    QueryRegistry.withExecConfs(spark, "q154_pagerank_customer", sf) {
      // sf0.01: 60k lineitem -> 120k edges -> the 8-partition floor;
      // AQE must stay enabled (conditional broadcast re-plans at runtime)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(spark.conf.getOption("spark.sql.adaptive.enabled")
        .forall(_ == "true"))
    }
    // the decade widths the measurements picked
    assert(QueryRegistry.widthForRows(2L * 600000L, 4000000L) == 8)
    assert(QueryRegistry.widthForRows(2L * 60000000L, 4000000L) == 30)
  }

  test("every execConfs key names a registry query") {
    val known = QueryRegistry.queries.map(_.name).toSet
    val unknown = QueryRegistry.execConfs.keySet -- known
    assert(unknown.isEmpty, s"gate entries for non-existent queries: $unknown")
  }
}
