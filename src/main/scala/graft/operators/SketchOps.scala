package graft.operators

import graft.GraftQuery
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate (sketch) aggregates — the operators a 100-TB corpus-stats
  * pipeline reaches for before anything exact (VERDICT r4 "What's missing"
  * #2). Both are single partial+final aggregations over MERGEABLE sketches
  * (HyperLogLog++ registers, Greenwald-Khanna summaries), so at cluster
  * scale they cost one narrow scan plus a constant-size shuffle per group —
  * no global sort (exact percentiles, q55) and no distinct shuffle of the
  * full key set (exact distinct counts, q15/q109).
  *
  * Sketch ESTIMATES hash engine-specifically (HLL register layout / GK
  * summary construction differ between Spark and DuckDB), so the raw
  * estimate can never ride the driver's exact hash compare. Round-7 split
  * (VERDICT r6 "Next round" #4):
  *
  *  - the PURE sketch queries live here as [[approxDistinct]] /
  *    [[approxQuantile]] — the production 100-TB shape, pinned by
  *    SketchSpec's bounded-relative-error / rank-epsilon contracts and the
  *    partial+final plan-shape assertion, and by check_oracle.py's
  *    tolerance mode (bounded_match) for cross-engine evidence;
  *  - the REGISTRY rows q122/q123 run the same sketch and CHECK ITS ERROR
  *    CONTRACT IN-QUERY against the exact aggregate, emitting the exact
  *    value plus a boolean verdict per bound. That output is deterministic
  *    and engine-portable, so the driver's stock hash gate can verify it
  *    (an out-of-bound sketch flips the boolean → hash mismatch → FAIL).
  *    The exact twin rides alongside the sketch only in this gate query;
  *    the helper remains the scale path.
  */
object SketchOps {

  /** Pure HLL distinct-cardinality profile (the 100-TB shape): approx
    * distinct tokens per language plus the corpus-wide count, rsd=0.02
    * (~2% standard error). Scale: the exact form shuffles every distinct
    * token once (q109's vocabulary build); this shuffles a fixed ~12 KB of
    * registers per group regardless of corpus size — the difference
    * between "a second pass over 100 TB" and "free alongside any other
    * aggregate". Output: (lang, approx_tokens). */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val toks = t(s, d, "documents")
      .select(col("lang"), explode(tokens(lower(col("text")))).as("tok"))
    // cube on the single grouping column = grouping sets ((lang), ()):
    // the per-language cells AND the corpus-wide cell come out of ONE
    // pass over the exploded stream instead of a second explode + union —
    // mergeable-sketch partials make the () cell free alongside the
    // (lang) cells. The roll-up cell is identified by grouping(), NOT by
    // lang IS NULL (ADVICE r7: a source group whose lang is literally
    // NULL must stay distinguishable from the grand total).
    // a literal-NULL source lang keeps its own cell, labeled "__null__"
    // (null-free output + total string order on BOTH engines — a raw
    // NULL cell would sort nulls-first in Spark, nulls-last in DuckDB)
    toks.cube(col("lang"))
      .agg(approx_count_distinct(col("tok"), 0.02).as("approx_tokens"),
        grouping(col("lang")).as("g"))
      .select(when(col("g") === 1, lit("__all__"))
          .otherwise(coalesce(col("lang"), lit("__null__"))).as("lang"),
        col("approx_tokens"))
      .orderBy(col("lang"))
  }

  /** Pure GK-sketch quantile profile (the 100-TB shape): p25/p50/p75/p95
    * of order totals per order-priority at accuracy 1000 (rank error
    * <= 0.1%). The exact twin (q55) is a per-group sort; this is one pass
    * building a bounded mergeable summary per group — the only percentile
    * shape that survives a 100-TB group-by.
    * Output: (o_orderpriority, p25, p50, p75, p95, n). */
  def approxQuantile(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.95), 1000)")
          .as("qs"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        col("qs").getItem(0).as("p25"), col("qs").getItem(1).as("p50"),
        col("qs").getItem(2).as("p75"), col("qs").getItem(3).as("p95"),
        col("n"))
      .orderBy(col("o_orderpriority"))

  /** q122 — HLL error-contract gate: per language (and corpus-wide), the
    * exact distinct-token count plus `within_3sigma` = whether the HLL
    * estimate (rsd 0.02 → 3σ = 6% relative error) sits inside its
    * documented bound of the exact value. Deterministic and exact-hashable
    * cross-engine, with the sketch itself on the hot path of the verdict. */
  val q122 = GraftQuery(
    "q122_approx_distinct_hll",
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      // r15: REVERTED the r14 pre-cube distinct() (VERDICT r14 #1). The
      // distinct added a full (lang, tok) hash-agg + exchange of the
      // occurrence stream ahead of the cube; quiet 32-core A/B showed no
      // win (old 1.008 s clean-pass min vs new 1.07-1.09), and under the
      // box's string-alloc weather the extra per-occurrence string pass
      // made the query track the contention probe super-linearly (driver
      // r14 cell 5.81 s at 32 cores vs 1.14 at 8; same-window A/B here:
      // new 9.2 s at str-probe 8.8 vs old <= 2.5 under comparable
      // samples). The r14 at-scale argument was also weaker than claimed:
      // the mixed countDistinct + approx_count_distinct aggregate plans a
      // partial HLL keyed by (lang, gid, tok) EITHER WAY (one ~3.3 KB
      // register buffer per distinct token crossing the exchange — see
      // plans/r15/q122_*_before.txt op (8)), so the distinct only
      // prepended a pass, it never shrank the wide shuffle.
      val toks = t(s, d, "documents")
        .select(col("lang"), explode(tokens(lower(col("text")))).as("tok"))
      // one cube pass (see approxDistinct) carrying the HLL estimate and
      // the exact distinct side by side
      toks.cube(col("lang"))
        .agg(approx_count_distinct(col("tok"), 0.02).as("approx"),
          countDistinct(col("tok")).as("exact_tokens"),
          grouping(col("lang")).as("g"))
        // literal-NULL lang labeled "__null__": null-free output with a
        // total string order on both engines (raw NULL sorts first in
        // Spark, last in DuckDB — the row-order-sensitive compare would
        // diverge exactly in the case the grouping() fix handles)
        .select(when(col("g") === 1, lit("__all__"))
            .otherwise(coalesce(col("lang"), lit("__null__"))).as("lang"),
          col("exact_tokens"),
          (abs(col("approx") - col("exact_tokens")).cast("double") <=
            col("exact_tokens").cast("double") * 0.06).as("within_3sigma"))
        .orderBy(col("lang"))
    },
    Some("""WITH toks AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
                          FROM documents),
            g AS (SELECT coalesce(lang, '__null__') AS lang,
                         CAST(count(DISTINCT tok) AS BIGINT) AS exact_tokens
                  FROM toks GROUP BY 1
                  UNION ALL
                  SELECT '__all__' AS lang, CAST(count(DISTINCT tok) AS BIGINT)
                  FROM toks)
            SELECT lang, exact_tokens, TRUE AS within_3sigma
            FROM g ORDER BY lang"""),
    note = "HLL estimate is engine-hashed, so the registry row checks the " +
      "3σ error CONTRACT in-query (boolean verdict + exact count are " +
      "portable); pure sketch shape = approxDistinct, pinned by SketchSpec")

  /** q123 — GK-quantile error-contract gate: per order-priority, the exact
    * group count plus one boolean per quantile asserting the approximate
    * answer's RANK in the exact value multiset lies within the sketch's
    * epsilon (1/1000, +0.0005 discreteness slack) of its target. Same
    * contract SketchSpec asserts in-JVM, made cross-engine-checkable. */
  val q123 = GraftQuery(
    "q123_approx_quantile_sketch",
    (s, d) => {
      val eps = 0.0015
      val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95")
      val ap = approxQuantile(s, d)
      // rank check: one broadcast of the 5-row sketch output back over
      // orders; below/atOrBelow are map-side sums, one exchange per agg
      val joined = t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"))
        .join(broadcast(ap), "o_orderpriority")
      val rankAggs = qs.flatMap { case (_, nm) =>
        Seq(
          sum(when(col("o_totalprice") < col(nm), 1L).otherwise(0L)).as(s"below_$nm"),
          sum(when(col("o_totalprice") <= col(nm), 1L).otherwise(0L)).as(s"le_$nm"))
      }
      val okCols = qs.map { case (q, nm) =>
        ((col(s"below_$nm").cast("double") / col("n") <= q + eps) &&
          (col(s"le_$nm").cast("double") / col("n") >= q - eps)).as(s"${nm}_ok")
      }
      val aggs = first(col("n")).as("n") +: rankAggs
      joined.groupBy(col("o_orderpriority"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("o_orderpriority") +: col("n") +: okCols: _*)
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                   TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p95_ok
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    note = "GK estimate is engine-built, so the registry row checks the " +
      "rank-epsilon CONTRACT in-query; pure sketch shape = approxQuantile, " +
      "pinned by SketchSpec")

  /** Pure Misra-Gries heavy-hitters profile (the 100-TB shape): the k
    * most-frequent tokens with their (under-)estimates, plus the stream
    * and retained-mass totals the error bound is stated against. Scale:
    * the exact form (q109's wordcount) shuffles the full vocabulary; this
    * ships k counters per partition into ONE partial+final aggregation —
    * the frequent-items complement of approxDistinct/approxQuantile.
    * Output: (token, est, n, retained) — contents depend on partitioning
    * (hence no registry twin for the raw summary), bounds never do. */
  def mgHeavyHitters(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    import graft.functions.expressions.MisraGriesAgg.mg_summary
    val toks = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    toks
      .agg(mg_summary(col("tok"), k).as("m"), count(lit(1)).as("n"))
      .withColumn("retained",
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x))
      .select(explode(col("m")).as(Seq("token", "est")),
        col("n"), col("retained"))
      .orderBy(col("est").desc, col("token"))
  }

  /** q129 — Misra-Gries error-contract gate (the frequent-items member of
    * the sketch family, same discipline as q122/q123): for the top-10
    * exact tokens, check IN-QUERY that the MG estimate (k=8 counters over
    * a ~31-token vocabulary — a real compression) undercounts only and
    * sits within the (N - M)/(k+1) mergeable-summaries bound. Both checks
    * are INTEGER arithmetic — (cnt - est)·(k+1) <= N - M — so the verdict
    * is exact, and it is TRUE by theorem for every partitioning/merge
    * order even though est, M themselves vary with the split. An MG
    * implementation bug (wrong decrement, wrong merge) flips a boolean
    * and fails the driver's hash gate. */
  val q129 = GraftQuery(
    "q129_mg_heavy_hitters",
    (s, d) => {
      import graft.functions.expressions.MisraGriesAgg.mg_summary
      val k = 8
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val sk = toks
        .agg(mg_summary(col("tok"), k).as("m"), count(lit(1)).as("n"))
        .withColumn("retained",
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x))
      val top = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(10)
      val est = coalesce(element_at(col("m"), col("tok")), lit(0L))
      top.crossJoin(broadcast(sk))
        .select(col("tok"), col("cnt"),
          (est <= col("cnt")).as("under_ok"),
          ((col("cnt") - est) * (k + 1) <= col("n") - col("retained"))
            .as("bound_ok"))
        .orderBy(col("cnt").desc, col("tok"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents),
            c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                  FROM toks GROUP BY tok)
            SELECT tok, cnt, TRUE AS under_ok, TRUE AS bound_ok
            FROM c ORDER BY cnt DESC, tok LIMIT 10"""),
    note = "MG summary contents are partitioning-dependent, so the " +
      "registry row checks the mergeable-summaries error contract " +
      "in-query (integer booleans + exact counts are portable); pure " +
      "sketch shape = mgHeavyHitters, pinned by SketchSpec")

  /** q133 — KMV (k-minimum-values) distinct-set sketch with SET-OPERATION
    * estimation (Beyer et al., "On Synopses for Distinct-Value Estimation
    * Under Multiset Operations", SIGMOD 2007): the fourth sketch family
    * (after HLL q122 / GK q123 / MG q129) and the one that answers
    * "how much do corpus A and corpus B OVERLAP" without an exact distinct
    * join — the cross-corpus contamination / vocabulary-overlap question a
    * 100-TB curation pipeline asks constantly.
    *
    * Sets: distinct 3-word shingles of the en vs fr document slices (the
    * q34 shingle space — the harness vocabulary is ~31 tokens, so 1-grams
    * would saturate). Sketch = the k smallest 48-bit md5 values per set
    * (k = 128); union sketch = k smallest of the sketch union (KMV is
    * mergeable: union-then-truncate is associative, the property that
    * makes it one constant-size shuffle per corpus at scale); ρ = union-
    * sketch members present in BOTH input sketches. Estimators (exact
    * integer arithmetic end-to-end, hence hash-checkable cross-engine
    * unlike HLL/GK internals): est_union = (k−1)·2^48 div M (M = kth
    * smallest of the union), est_inter = ρ·est_union div k,
    * jaccard_micro = 10^6·ρ div k. When a sketch holds its entire set
    * (k_eff < k) the sketch IS the set and the estimate is exact by
    * construction — the k_eff guard keeps the small-sf suite honest.
    *
    * Error contract, q122-style in-query booleans (oracle emits literal
    * TRUE → an out-of-bound estimate flips the bit and fails the hash
    * gate): union within 30% of exact (σ ≈ 1/√(k−2) ≈ 8.9% → 3.4σ);
    * intersection within 25% of the exact UNION size — est_inter =
    * (ρ/k)·est_union compounds the union estimator's σ ≈ 8.9% (scaled by
    * J ≤ 1) with ρ's binomial σ = √(J(1−J)/k) ≤ 4.4% of union, so the
    * worst-case combined σ is ≈ 9.9% of union → 25% ≈ 2.5σ at J = 1,
    * >3σ at the J ≈ 0.1–0.75 the suite's scale factors actually span. */
  val q133 = GraftQuery(
    "q133_kmv_set_intersection",
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      import graft.functions.HashFunctions.shingles
      val k = 128
      // r14 optimization: the old plan referenced the deduped corpus hash
      // set `hs` from SEVEN physical branches (skA/skB under un, again
      // under rho, and exact), and per-branch pushed filters broke plan
      // canonicalization so ReuseExchange never deduped them — the
      // explode+md5+distinct pass ran 7×. One aggregation now collapses
      // the corpus to per-hash language flags (h, in en?, in fr?) —
      // everything downstream (per-lang k-minima, union sketch, ρ, exact
      // union/intersection) derives from that hash-set-sized table, and
      // `localCheckpoint` materializes it once for all branches (the
      // house pattern from q121/undirected). Per-lang k-minima use
      // orderBy+limit (TakeOrderedAndProject heaps) instead of a
      // row_number window — no global sort, no window exchange.
      // Measured 2.8×: 1.33 → 0.47 s isolated at sf0.1.
      val hsAgg = t(s, d, "documents").filter(col("lang").isin("en", "fr"))
        .select(col("lang"),
          explode(shingles(tokens(lower(col("text"))))).as("g"))
        .select(col("lang"),
          conv(substring(md5(col("g")), 1, 12), 16, 10).cast("long").as("h"))
        .groupBy(col("h"))
        .agg(max(col("lang") === "en").as("in_a"),
          max(col("lang") === "fr").as("in_b"))
        .localCheckpoint()
      val skA = hsAgg.filter(col("in_a")).select(col("h").as("ha"))
        .orderBy(col("ha")).limit(k)
      val skB = hsAgg.filter(col("in_b")).select(col("h").as("hb"))
        .orderBy(col("hb")).limit(k)
      val un = skA.select(col("ha").as("h"))
        .union(skB.select(col("hb").as("h"))).distinct()
        .orderBy(col("h")).limit(k)
      val m = un.agg(max(col("h")).as("kth_hash"),
        count(lit(1)).cast("long").as("k_eff"))
      val rho = un.join(broadcast(skA), un("h") === skA("ha"), "left_semi")
        .join(broadcast(skB), col("h") === skB("hb"), "left_semi")
        .agg(count(lit(1)).cast("long").as("rho"))
      val exact = hsAgg
        .agg(count(lit(1)).cast("long").as("exact_union"),
          sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))
            .as("exact_inter"))
      m.crossJoin(rho).crossJoin(exact)
        .withColumn("est_union",
          when(col("k_eff") < k, col("k_eff"))
            .otherwise(expr(s"(${k - 1}L * 281474976710656L) div kth_hash")))
        .withColumn("est_inter", expr("(rho * est_union) div k_eff"))
        .select(col("k_eff"), col("kth_hash"), col("rho"),
          col("est_union"), col("exact_union"),
          (abs(col("est_union") - col("exact_union")) * 10 <=
            col("exact_union") * 3).as("union_ok"),
          col("est_inter"), col("exact_inter"),
          (abs(col("est_inter") - col("exact_inter")) <=
            expr("(exact_union * 25) div 100")).as("inter_ok"),
          expr("(rho * 1000000) div k_eff").as("jaccard_micro"))
    },
    Some(s"""WITH sh AS (
        SELECT lang, unnest(${graft.functions.HashFunctions.shinglesSql(
          "string_split(lower(text), ' ')")}) AS g
        FROM documents WHERE lang IN ('en', 'fr')),
      hs AS (SELECT DISTINCT lang,
               ('0x' || substr(md5(g), 1, 12))::BIGINT AS h FROM sh),
      ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                             FROM hs WHERE lang = 'en') WHERE rn <= 128),
      skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                             FROM hs WHERE lang = 'fr') WHERE rn <= 128),
      un AS (SELECT h FROM (SELECT DISTINCT h FROM
               (SELECT h FROM ska UNION ALL SELECT h FROM skb))
             ORDER BY h LIMIT 128),
      m AS (SELECT max(h) AS kth_hash, CAST(count(*) AS BIGINT) AS k_eff
            FROM un),
      r AS (SELECT CAST(count(*) AS BIGINT) AS rho FROM un
            WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
      ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
               CAST(sum(CASE WHEN nl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS exact_inter
             FROM (SELECT h, count(DISTINCT lang) AS nl FROM hs GROUP BY h)),
      f AS (SELECT m.kth_hash, m.k_eff, r.rho, ex.exact_union,
              ex.exact_inter,
              CASE WHEN m.k_eff < 128 THEN m.k_eff
                   ELSE (127 * 281474976710656) // m.kth_hash END AS est_union
            FROM m, r, ex)
      SELECT k_eff, kth_hash, rho, est_union, exact_union,
             TRUE AS union_ok,
             (rho * est_union) // k_eff AS est_inter, exact_inter,
             TRUE AS inter_ok,
             (rho * 1000000) // k_eff AS jaccard_micro
      FROM f"""),
    note = "KMV internals are fully deterministic (md5), so every column " +
      "exact-hashes; the booleans are the in-query error contract " +
      "(oracle pins them TRUE, q122-style)")

  /** q134 — Count-Min sketch point-frequency estimation (Cormode &
    * Muthukrishnan, "An improved data stream summary: the count-min sketch
    * and its applications", J. Algorithms 2005): the fifth sketch family —
    * the OVERCOUNT-only complement of Misra-Gries (q129, undercount-only).
    * A 100-TB token-frequency probe never materializes the vocabulary: the
    * sketch is a fixed d×w counter grid (here 4×32 over a ~31-token
    * vocabulary, so collisions are real), built in ONE bounded aggregation
    * — map-side combine collapses the d-times-replicated stream into ≤ d·w
    * cells per partition, the shuffle carries ≤ d·w rows total, and the
    * grid broadcasts back for point queries.
    *
    * Unlike HLL/GK (engine-specific internals → q122/q123 check contracts
    * in-query), CM is fully deterministic given the hash family: bucket =
    * md5(row ':' token) 48-bit prefix mod w — the [[graft.functions.HashFunctions]]
    * portability construction — so EVERY column (estimate included)
    * exact-hashes cross-engine. `over_ok` (est ≥ exact, the CM one-sided
    * theorem) rides as the in-query contract boolean, q122-style. */
  val q134 = GraftQuery(
    "q134_countmin_freq",
    (s, d) => {
      val dep = 4
      val w = 32
      // r14 optimization (guide §2.3 "aggregate before you shuffle" /
      // §8 "decide with small rows"): the CM cell counts depend on the
      // token stream only through the per-token totals — cell(r, b) =
      // Σ_{tok: bucket(r,tok)=b} cnt(tok) — so the d-way replication and
      // the d·N md5 calls collapse to ONE wordcount pass plus d·|vocab|
      // md5 calls over the vocabulary-sized aggregate (measured 4.3×:
      // 2.08 → 0.48 s isolated at sf0.1). `top` reads the SAME tokCounts subtree,
      // whose partial-aggregated exchange Spark dedupes via ReuseExchange
      // (both consumers are byte-identical below the exchange).
      val tokCounts = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      def bucket(r: Column, tok: Column): Column =
        conv(substring(md5(concat(r.cast("string"), lit(":"), tok)), 1, 12),
          16, 10).cast("long") % w
      val cells = tokCounts
        .select(explode(sequence(lit(0), lit(dep - 1))).as("r"),
          col("tok"), col("cnt"))
        .select(col("r"), bucket(col("r"), col("tok")).as("b"), col("cnt"))
        .groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cell"))
      val top = tokCounts
        .orderBy(col("cnt").desc, col("tok")).limit(10)
      top
        .select(col("tok"), col("cnt"),
          explode(sequence(lit(0), lit(dep - 1))).as("r"))
        .withColumn("b", bucket(col("r"), col("tok")))
        .join(broadcast(cells), Seq("r", "b"))
        .groupBy(col("tok"), col("cnt")).agg(min(col("cell")).as("est"))
        .select(col("tok"), col("cnt"), col("est"),
          (col("est") >= col("cnt")).as("over_ok"))
        .orderBy(col("cnt").desc, col("tok"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents),
        cells AS (SELECT t.r,
                    ('0x' || substr(md5(t.r || ':' || toks.tok), 1, 12))::BIGINT % 32 AS b,
                    CAST(count(*) AS BIGINT) AS cell
                  FROM toks CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
        top AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks
                GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10),
        probe AS (SELECT top.tok, top.cnt, c.cell
                  FROM top CROSS JOIN range(0, 4) t(r)
                  JOIN cells c ON c.r = t.r
                   AND c.b = ('0x' || substr(md5(t.r || ':' || top.tok), 1, 12))::BIGINT % 32)
      SELECT tok, cnt, min(cell) AS est, TRUE AS over_ok
      FROM probe GROUP BY tok, cnt ORDER BY cnt DESC, tok"""),
    note = "CM grid is md5-deterministic, so the estimate itself " +
      "exact-hashes cross-engine; over_ok pins the one-sided CM theorem " +
      "in-query (q122 discipline)")

  val all: Seq[GraftQuery] = Seq(q122, q123, q129, q133, q134)
}
