package graft.operators

import graft.{GraftQuery, Tables}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the reference's surface (brief:
  * "the operations a large-scale training-data pipeline would need"):
  * near-duplicate CLUSTERING (pair lists are not enough — a real dedup
  * pipeline groups transitively-connected near-dups and keeps one
  * canonical document per group), and deterministic stratified
  * sampling / train-val-test splitting (hash-based, never rand() — the
  * only reproducible, retry-stable, shuffle-free way to sample at 100 TB).
  */
object CurationOps {

  /** Connected components by iterative min-label propagation — the
    * Pregel/GraphX pattern as pure DataFrame dataflow: every node starts
    * as its own component id; each round every node takes the min of its
    * own id and its neighbors' ids; fixpoint after O(diameter) rounds.
    * Each round is one hash equi-join + partial-aggregated groupBy (the
    * same shuffle key throughout), `localCheckpoint` truncates the plan
    * lineage so round N's plan does not embed rounds 1..N-1, and
    * convergence is read from a carried per-row `chg` flag on the rows
    * the superstep already materializes (r14: the old scalar-count hop
    * was a separate join+count job — 2 exchanges — per round; the flag
    * scan is an isEmpty over the checkpointed output, no extra
    * exchange). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // symmetric neighbor list
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // One superstep: neighbor-min then pointer jump (comp(k) := comp(comp(k));
    // every comp value is a node key, so the self-join always matches). The
    // jump halves remaining label depth → O(log diameter) supersteps.
    // The superstep carries a per-row `chg` flag (new comp != old comp),
    // so convergence reads the flag off the just-checkpointed rows — a
    // single exchange-free scan — instead of re-joining consecutive
    // iterations on key (was: join + count, 2 extra exchanges per round).
    def superstep(comp: DataFrame): DataFrame = {
      val nbrMin = sym.join(comp, sym("src") === comp("key"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nbr_comp"))
      val stepped = comp.as("c")
        .join(nbrMin, col("c.key") === nbrMin("dst"), "left")
        .select(col("c.key").as("key"), col("c.comp").as("prev"),
          least(col("c.comp"), coalesce(col("nbr_comp"), col("c.comp"))).as("comp"))
      stepped.as("s")
        .join(stepped.select(col("key").as("jk"), col("comp").as("jcomp")).as("j"),
          col("s.comp") === col("jk"), "left")
        .select(col("s.key").as("key"),
          coalesce(col("jcomp"), col("s.comp")).as("comp"),
          (coalesce(col("jcomp"), col("s.comp")) =!= col("s.prev")).as("chg"))
    }
    var comp = nodes.select(col("key"), col("key").as("comp")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val updated = superstep(comp).localCheckpoint()
      converged = updated.filter(col("chg")).isEmpty
      comp = updated
      iter += 1
    }
    comp.select(col("key"), col("comp"))
  }

  /** BLOCKED connected components — the production shape for dedup
    * clustering: near-dup graphs are built per blocking partition (that is
    * what makes pair generation tractable in the first place), so each
    * block's graph is small by construction and its components resolve
    * with an in-memory union-find inside ONE `flatMapGroups` pass — a
    * single shuffle on the block key, no iteration, no driver round
    * trips. Distribution comes from blocks running in parallel across
    * executors; [[connectedComponents]] (the Pregel loop) remains the
    * fallback for graphs with no blocking structure.
    * Inputs: nodes (block, key), edges (block, src, dst). Canonical
    * component id = min key, matching the loop operator. */
  def blockedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    // tag rows: node rows carry dst = -1 (keys are non-negative ids)
    val rows = nodes.select(col("block").cast("long"), col("key").cast("long"),
        lit(-1L))
      .union(edges.select(col("block").cast("long"), col("src").cast("long"),
        col("dst").cast("long")))
      .as[(Long, Long, Long)]
    rows.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          r
        }
        val keys = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { case (_, x, y) =>
          if (y < 0) keys += x
          else {
            val (rx, ry) = (find(x), find(y))
            if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
          }
        }
        keys.iterator.map(k => (k, find(k)))
      }
      .toDF("key", "comp")
  }

  /** q81 — near-dup clustering across ALL blocking partitions: ed<=1
    * PassJoin pairs within each nation block become edges; per-block
    * union-find (see [[blockedComponents]]) gives the dedup groups, the
    * min key is the canonical survivor. The oracle recomputes the same
    * fixpoint independently — WITH RECURSIVE reachability + min over
    * brute-force same-block edges — so the whole clustering is
    * hash-checked. */
  private val q81 = GraftQuery(
    "q81_dedup_components",
    (s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_nationkey").cast("long").as("block"),
          col("c_custkey").as("key"), col("c_name").as("name"))
      // localCheckpoint: the PassJoin pair generation (the expensive
      // rung) is paid ONCE and feeds both the union-find and the
      // edge-consistency contract below
      val edges = EditDistanceJoin
        .selfJoinK1(cust, "key", "name", blockCols = Seq("block"))
        .select(col("block"), col("a_key").as("src"), col("b_key").as("dst"))
        .localCheckpoint()
      val comps = blockedComponents(cust.select(col("block"), col("key")), edges)
        .localCheckpoint()
      // labeling contract (VERDICT r8 #1): no edge crosses components +
      // every label is its component's min key — verified from the
      // engine's own output via InvariantChecks, oracle pins both TRUE,
      // so the clustering stays affirmatively checked past the scale
      // where the WITH RECURSIVE twin DNFs
      val chk = InvariantChecks.componentChecks(
        edges.select(col("src"), col("dst")), comps)
      comps
        .withColumn("csize",
          count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
        .crossJoin(broadcast(chk))
        .select(col("key"), col("comp").as("component"), col("csize"),
          col("inv_edges_ok"), col("inv_canonical_ok"))
        .orderBy(col("key"))
    },
    Some("""WITH RECURSIVE
      nodes AS (SELECT c_nationkey AS block, c_custkey AS key, c_name AS name
                FROM customer),
      edges AS (SELECT a.key AS src, b.key AS dst
                FROM nodes a JOIN nodes b
                  ON a.block = b.block AND a.key <> b.key
                     AND levenshtein(a.name, b.name) <= 1),
      r(a, b) AS (
        SELECT key, key FROM nodes
        UNION
        SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src),
      comps AS (SELECT a AS key, min(b) AS component FROM r GROUP BY a)
      SELECT key, component,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize,
             TRUE AS inv_edges_ok, TRUE AS inv_canonical_ok
      FROM comps ORDER BY key"""))

  /** q82 — deterministic stratified sampling + train/val/test split:
    * per-stratum keep-rates (percent) and the split assignment both come
    * from md5 of the stable document id, so the sample is reproducible
    * across runs/retries/engines, requires no shuffle (pure per-row map),
    * and composes with any downstream op. rand()-based sampling fails all
    * three at cluster scale (re-evaluated on stage retry). */
  private val q82 = GraftQuery(
    "q82_stratified_split",
    (s, d) => {
      val rates = Seq(("en", 50), ("fr", 30), ("de", 30), ("es", 20), ("zh", 20))
      val ratesDf = s.createDataFrame(rates).toDF("lang", "keep_pct")
      def mdBucket(salt: String, mod: Int) =
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 8),
          16, 10).cast("long") % mod
      t(s, d, "documents")
        .join(broadcast(ratesDf), Seq("lang"))
        .filter(mdBucket(":sample", 100) < col("keep_pct"))
        .withColumn("split",
          when(mdBucket(":split", 10) <= 7, lit("train"))
            .when(mdBucket(":split", 10) === 8, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH rates(lang, keep_pct) AS (
        VALUES ('en', 50), ('fr', 30), ('de', 30), ('es', 20), ('zh', 20))
      SELECT doc_id, lang,
        CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT % 10 <= 7
             THEN 'train'
             WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT % 10 = 8
             THEN 'val' ELSE 'test' END AS split
      FROM documents JOIN rates USING (lang)
      WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':sample'), 1, 8))::BIGINT % 100 < keep_pct
      ORDER BY doc_id"""))

  /** q84 — C4/Gopher-style document quality filtering (the standard
    * pre-training cleaning stage; rules from the public C4 and Gopher
    * papers re-expressed as exact-arithmetic Column predicates): token
    * count bounds, distinct-token ratio (repetition), mean word length,
    * and top-token frequency fraction (the "most common word" rule). All
    * four metrics are int/int divisions — bit-exact across engines — so
    * both the metrics AND the boolean verdict are oracle-checked per doc.
    * At 100 TB this is a narrow per-row pass: no shuffle, no state. */
  private val q84 = GraftQuery(
    "q84_quality_filter",
    (s, d) => {
      import graft.functions.expressions.TokenMetrics.token_metrics
      // All n-gram statistics from the fused single-pass TokenMetrics
      // kernel (see its scaladoc: pure-HOF forms are interpreted and
      // Catalyst re-substitutes staged arrays into consuming lambdas).
      val staged = t(s, d, "documents")
        .select(col("doc_id"), col("source"), length(col("text")).as("lc"),
          token_metrics(split(col("text"), " ")).as("m"))
      val nTok = col("m.n_tokens")
      val uniq = col("m.uniq_tokens").cast("double") / nTok
      // single-space-joined text: total word chars = length - (n-1) spaces
      val meanW = (col("lc") - nTok + 1).cast("double") / nTok
      val topFrac = col("m.top_token_count").cast("double") / nTok
      staged
        .select(col("doc_id"), col("source"),
          nTok.cast("long").as("n_tokens"),
          round(uniq, 6).as("uniq_ratio"),
          round(meanW, 6).as("mean_wlen"),
          round(topFrac, 6).as("top_tok_frac"),
          (nTok >= 20 && uniq >= 0.5 && topFrac <= 0.2 &&
            meanW.between(3, 6)).as("passes"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
               length(text) AS lc FROM documents),
      m AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
              CAST(lc - len(toks) + 1 AS DOUBLE) / len(toks) AS mean_wlen,
              CAST(list_max(list_transform(list_distinct(toks),
                w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
                / len(toks) AS top_tok_frac
            FROM t)
      SELECT doc_id, source, n_tokens,
        round(uniq_ratio, 6) AS uniq_ratio,
        round(mean_wlen, 6) AS mean_wlen,
        round(top_tok_frac, 6) AS top_tok_frac,
        (n_tokens >= 20 AND uniq_ratio >= 0.5 AND top_tok_frac <= 0.2
          AND mean_wlen BETWEEN 3 AND 6) AS passes
      FROM m ORDER BY doc_id"""))

  /** q85 — benchmark decontamination (the industry-standard pre-training
    * stage: drop/flag training documents that share n-grams with an eval
    * set): a deterministic eval slice (doc_id % 97 = 0) contributes its
    * distinct 3-word shingles; training docs are flagged with their
    * shared-shingle count and overlap fraction. Scale shape: the eval
    * shingle set is small by construction → BROADCAST hash join against
    * the exploded training shingles (map-side, no shuffle of the corpus);
    * the only wide op is the per-doc count aggregation on integer keys. */
  private val q85 = GraftQuery(
    "q85_decontaminate_ngrams",
    (s, d) => {
      import graft.functions.HashFunctions.shingles
      import graft.functions.TextFunctions.tokens
      val sh = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(shingles(tokens(col("text")))).as("sg"))
      val ev = sh.filter(col("doc_id") % 97 === 0).select(col("sg")).distinct()
      val train = sh.filter(col("doc_id") % 97 =!= 0)
      val shared = train.join(broadcast(ev), Seq("sg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared")) // shingles() is distinct per doc
      // r14: per-doc shingle totals WITHOUT a second explode+aggregation
      // pass — shingles() is array_distinct'd per doc, so counting the
      // exploded rows is size() of the array; 0-shingle docs differ only
      // as totals rows the inner join drops either way. One narrow map,
      // no exchange (guide §2.4).
      val totals = t(s, d, "documents")
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          size(shingles(tokens(col("text")))).cast("long").as("n_shingles"))
      shared.join(totals, Seq("doc_id"))
        .select(col("doc_id"), col("n_shared"), col("n_shingles"),
          round(col("n_shared").cast("double") / col("n_shingles"), 6)
            .as("overlap_ratio"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.functions.HashFunctions.shinglesSql
      s"""WITH sh AS (SELECT doc_id,
              unnest(${shinglesSql("string_split(text, ' ')")}) AS sg
            FROM documents),
      ev AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 97 = 0),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id),
      shr AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
              FROM sh s JOIN ev USING (sg)
              WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
      SELECT doc_id, n_shared, n_shingles,
        round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS overlap_ratio
      FROM shr JOIN tot USING (doc_id) ORDER BY doc_id"""
    })

  /** q124 — decontamination behind a runtime BLOOM prefilter: bit-for-bit
    * the same output contract as q85, via the plan you need when the eval
    * set is too big to broadcast. q85's shape assumes the eval shingle
    * set fits in a broadcast (true for one benchmark; false for a real
    * decontamination union — dozens of benchmarks' shingle sets reach
    * GBs). This variant assumes it does NOT fit: the verify join is a
    * SHUFFLE join (`shuffle_hash` hint — deliberately not broadcast), and
    * what makes that affordable at 100 TB is the Bloom filter built from
    * the eval side in a separate small job and shipped to every corpus
    * task (bounded bytes regardless of eval size — capacity/fpp set the
    * bitmap, not the probed data): ~99% of non-matching corpus shingles
    * are dropped BEFORE the exchange, so the corpus-side shuffle carries
    * ~matches + fpp instead of every shingle. Exactness is untouched —
    * the Bloom admits no false negatives and the exact join re-verifies
    * its ≤1% false positives, so the oracle is IDENTICAL to q85's and
    * the two queries must hash-match each other (pinned in
    * BloomPrefilterSpec). Capacity is a fixed 1M-item hint here
    * (eval shingles: ~6k at sf0.1, ~60k at sf1); production would spend
    * one count job on the eval side to size it. */
  private val q124 = GraftQuery(
    "q124_bloom_prefilter_decontam",
    (s, d) => {
      import graft.functions.HashFunctions.shingles
      import graft.functions.TextFunctions.tokens
      import graft.functions.expressions.BloomMightContain.bloom_might_contain
      val sh = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(shingles(tokens(col("text")))).as("sg"))
      val ev = sh.filter(col("doc_id") % 97 === 0).select(col("sg")).distinct()
      // Build-side job: distributed put + bitwise-OR merge (order-
      // independent, deterministic); the driver hop is the sketch, not data.
      val bf = ev.stat.bloomFilter("sg", 1000000L, 0.01)
      val train = sh.filter(col("doc_id") % 97 =!= 0)
      val shared = train
        .filter(bloom_might_contain(col("sg"), bf))
        .join(ev.hint("shuffle_hash"), Seq("sg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared")) // shingles() is distinct per doc
      // r14: totals via size() of the per-doc distinct shingle array —
      // no second explode pass, no exchange (see q85)
      val totals = t(s, d, "documents")
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          size(shingles(tokens(col("text")))).cast("long").as("n_shingles"))
      shared.join(totals, Seq("doc_id"))
        .select(col("doc_id"), col("n_shared"), col("n_shingles"),
          round(col("n_shared").cast("double") / col("n_shingles"), 6)
            .as("overlap_ratio"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.functions.HashFunctions.shinglesSql
      // Identical to q85's oracle: the Bloom stage is a pure prefilter and
      // must not change a single output bit.
      s"""WITH sh AS (SELECT doc_id,
              unnest(${shinglesSql("string_split(text, ' ')")}) AS sg
            FROM documents),
      ev AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 97 = 0),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id),
      shr AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
              FROM sh s JOIN ev USING (sg)
              WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
      SELECT doc_id, n_shared, n_shingles,
        round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS overlap_ratio
      FROM shr JOIN tot USING (doc_id) ORDER BY doc_id"""
    })

  /** One named data-quality rule: `violation` is a boolean Column over the
    * audited table's rows. */
  final case class QualityCheck(name: String, violation: org.apache.spark.sql.Column)

  /** Declarative single-pass data-quality audit: every rule becomes a
    * conditional count inside ONE aggregation over ONE scan of the table
    * — at 100 TB the difference between auditing and re-reading the
    * corpus once per rule. The wide one-row result is unpivoted to long
    * (check_name, violations) form. */
  def audit(df: DataFrame, table: String, checks: Seq[QualityCheck]): DataFrame = {
    val aggs = checks.map(c => sum(when(c.violation, 1L).otherwise(0L)).as(c.name))
    val wide = df.agg(aggs.head, aggs.tail :+ count(lit(1)).as("_total"): _*)
    wide.unpivot(Array(col("_total")), checks.map(c => col(c.name)).toArray,
        "check_name", "violations")
      .select(concat(lit(table + "."), col("check_name")).as("check_name"),
        col("violations"), col("_total").as("total_rows"))
  }

  /** Constraint audit over orders + lineitem: null, range, and
    * referential-integrity rules in long report form — the validation
    * stage a training-data pipeline runs before anything downstream
    * trusts the batch. Single-table rules ride one scan each (see
    * `audit`); FK rules are anti-join counts shuffling only on the key. */
  private val q94 = GraftQuery(
    "q94_data_quality_audit",
    (s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      val c = t(s, d, "customer")
      val singleTable =
        audit(o, "orders", Seq(
          QualityCheck("custkey_null", col("o_custkey").isNull),
          QualityCheck("totalprice_nonpositive", col("o_totalprice") <= 0),
          QualityCheck("orderdate_after_1996",
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))))
        .unionByName(audit(li, "lineitem", Seq(
          QualityCheck("quantity_out_of_1_50",
            col("l_quantity") < 1 || col("l_quantity") > 50),
          QualityCheck("quantity_gt_45", col("l_quantity") > 45),
          QualityCheck("discount_out_of_0_01",
            col("l_discount") < 0.0 || col("l_discount") > 0.1))))
      val fkLi = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .crossJoin(li.agg(count(lit(1)).as("total_rows")))
        .select(lit("lineitem.fk_orderkey_orphans").as("check_name"),
          col("violations"), col("total_rows"))
      val fkO = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .crossJoin(o.agg(count(lit(1)).as("total_rows")))
        .select(lit("orders.fk_custkey_orphans").as("check_name"),
          col("violations"), col("total_rows"))
      singleTable.unionByName(fkLi).unionByName(fkO)
        .orderBy(col("check_name"))
    },
    Some("""SELECT check_name, violations, total_rows FROM (
      SELECT 'orders.custkey_null' AS check_name,
        CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT) AS violations,
        CAST((SELECT count(*) FROM orders) AS BIGINT) AS total_rows
      UNION ALL SELECT 'orders.totalprice_nonpositive',
        CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT),
        CAST((SELECT count(*) FROM orders) AS BIGINT)
      UNION ALL SELECT 'orders.orderdate_after_1996',
        CAST((SELECT count(*) FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01') AS BIGINT),
        CAST((SELECT count(*) FROM orders) AS BIGINT)
      UNION ALL SELECT 'lineitem.quantity_out_of_1_50',
        CAST((SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      UNION ALL SELECT 'lineitem.quantity_gt_45',
        CAST((SELECT count(*) FROM lineitem WHERE l_quantity > 45) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      UNION ALL SELECT 'lineitem.discount_out_of_0_01',
        CAST((SELECT count(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 0.1) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      UNION ALL SELECT 'lineitem.fk_orderkey_orphans',
        CAST((SELECT count(*) FROM lineitem WHERE NOT EXISTS
          (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      UNION ALL SELECT 'orders.fk_custkey_orphans',
        CAST((SELECT count(*) FROM orders WHERE NOT EXISTS
          (SELECT 1 FROM customer WHERE c_custkey = o_custkey)) AS BIGINT),
        CAST((SELECT count(*) FROM orders) AS BIGINT))
      ORDER BY check_name"""))

  /** q120 — SEMANTIC eval-set decontamination: flag training documents
    * whose embedding is too close to any eval-set embedding (catches
    * paraphrase/translation contamination that q85's n-gram overlap
    * cannot — the standard second rung of a decontamination stack).
    * Eval membership is the same deterministic id-hash split q85 uses
    * (vec_id % 97), the eval side is TINY and broadcast, and scoring is
    * the q105 fixed-point discipline: embeddings → round(e·1e6) int64,
    * dot and norms are EXACT integer aggregates (64 · (5.8e5)² ≈ 2.2e13
    * « 2⁶³), and the one double divide/sqrt consumes identical integers
    * in both engines → bit-identical scores, so threshold membership and
    * the emitted rounded score can never diverge (no float32 gap
    * argument needed, unlike the raw-cosine queries). Scale: linear scan
    * × broadcast eval set; at 100 TB prune candidates through the
    * sign-LSH bucket probe first (q118's shape) — the scoring and
    * flagging dataflow is unchanged. */
  private val q120 = GraftQuery(
    "q120_semantic_decontam",
    (s, d) => {
      val ev = t(s, d, "embeddings")
        .select(col("vec_id"), ClusterOps.micro(col("embedding")).as("e"))
        .withColumn("nn", aggregate(transform(col("e"), x => x * x),
          lit(0L), (acc, x) => acc + x).cast("double"))
      val evals = ev.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("eid"), col("e").as("qe"), col("nn").as("qn"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("eid"))
      ev.filter(col("vec_id") % 97 =!= 0)
        .crossJoin(broadcast(evals))
        .withColumn("score",
          aggregate(zip_with(col("e"), col("qe"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).cast("double") /
            sqrt(col("nn") * col("qn")))
        .filter(col("score") >= 0.35)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("eid").as("eval_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH ev AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
        FROM embeddings),
      ev2 AS (
        SELECT vec_id, e,
               CAST(list_sum(list_transform(range(1, len(e) + 1),
                 i -> e[i] * e[i])) AS DOUBLE) AS nn
        FROM ev),
      q AS (SELECT vec_id AS eid, e AS qe, nn AS qn FROM ev2
            WHERE vec_id % 97 = 0),
      s AS (SELECT t.vec_id, eid,
              CAST(list_sum(list_transform(range(1, len(e) + 1),
                i -> e[i] * qe[i])) AS DOUBLE) / sqrt(nn * qn) AS score
            FROM ev2 t, q WHERE t.vec_id % 97 <> 0),
      f AS (SELECT vec_id, eid, score,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY score DESC, eid) AS rn
            FROM s WHERE score >= 0.35)
      SELECT vec_id, eid AS eval_id, round(score, 6) AS score
      FROM f WHERE rn = 1 ORDER BY vec_id"""))

  /** q127 — weighted sampling without replacement by PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, "Priority Sampling for Estimation of
    * Arbitrary Subset Sums", JACM 2007): each document draws priority
    * q_i = w_i / u_i from its weight w_i (here n_chars — sample long
    * documents proportionally more) and a uniform u_i; the sample is the
    * k largest priorities. The uniform comes from md5 of the stable
    * doc_id — the same retry-stable, engine-portable randomness as q82 —
    * so the weighted sample is exactly reproducible across engines, runs
    * and stage retries (rand()-based weighted sampling is none of those).
    * Determinism of the float: w and u are exact integers < 2^53, w/u is
    * one correctly-rounded IEEE division — bit-identical on any engine.
    * Scale: priorities are a pure per-row map; the top-k is
    * TakeOrderedAndProject (per-partition heaps, k rows to the driver) —
    * no shuffle of the corpus, the same shape at 500 rows and 100 TB. */
  private val q127 = GraftQuery(
    "q127_weighted_priority_sample",
    (s, d) => {
      val k = 50
      val pri = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("weight"),
          (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":wsample"))), 1, 8), 16, 10).cast("long") + 1L).as("u"))
        .withColumn("priority", col("weight").cast("double") / col("u"))
      pri.orderBy(col("priority").desc, col("doc_id")).limit(k)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("priority").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("weight"),
          round(col("priority") * 1e9, 6).as("priority_x1e9"))
    },
    Some("""WITH p AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        ('0x' || substr(md5(doc_id::VARCHAR || ':wsample'), 1, 8))::BIGINT + 1
          AS u
      FROM documents),
      r AS (SELECT doc_id, weight,
              CAST(weight AS DOUBLE) / u AS priority FROM p)
      SELECT row_number() OVER (ORDER BY priority DESC, doc_id) AS rank,
        doc_id, weight, round(priority * 1e9, 6) AS priority_x1e9
      FROM r ORDER BY priority DESC, doc_id LIMIT 50"""))

  /** q138 — k-anonymity / l-diversity audit (Sweeney 2002, "k-anonymity:
    * a model for protecting privacy"; Machanavajjhala et al. 2007,
    * "l-diversity"): the release-gate privacy check that pairs with q108's
    * PII scrub — before user-derived records feed a training mix, every
    * quasi-identifier equivalence class must be large enough (k) and its
    * sensitive attribute varied enough (l) that no row re-identifies.
    * Quasi-identifiers: (nation, market segment); sensitive attribute:
    * account-balance band (1000-unit buckets).
    *
    * Scale shape: ONE hash aggregation keyed by the QI tuple (map-side
    * partial count + partial distinct), output bounded by the QI domain
    * (25×5 here) — the audit costs one pass at any corpus size, and the
    * verdict booleans make the release gate a scan of the audit table. */
  val q138 = GraftQuery(
    "q138_kanonymity_audit",
    (s, d) => {
      val (kMin, lMin) = (5, 3)
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("bal_bucket")).as("l_diversity"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("class_size"), col("l_diversity"),
          (col("class_size") >= kMin).as("k_anonymous"),
          (col("l_diversity") >= lMin).as("l_diverse"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },
    Some("""WITH b AS (SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
               FROM customer),
        g AS (SELECT c_nationkey, c_mktsegment,
                CAST(count(*) AS BIGINT) AS class_size,
                CAST(count(DISTINCT bal_bucket) AS BIGINT) AS l_diversity
              FROM b GROUP BY 1, 2)
      SELECT c_nationkey, c_mktsegment, class_size, l_diversity,
             class_size >= 5 AS k_anonymous, l_diversity >= 3 AS l_diverse
      FROM g ORDER BY c_nationkey, c_mktsegment"""),
    note = "privacy release gate: one QI-keyed bounded aggregation; " +
      "pairs with q108's PII scrub")

  val all: Seq[GraftQuery] =
    Seq(q81, q82, q84, q85, q94, q120, q124, q127, q138)
}
