package graft.operators

import graft.{GraftQuery, Tables}
import graft.Tables._
import graft.functions.TextFunctions._
import graft.functions.HashFunctions
import graft.functions.HashFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data-pipeline operators over `documents`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard) and text
  * analysis (token counting, quality scoring, language-ID heuristic,
  * fingerprinting) — plus the reference's own text pipeline primitives
  * (clean/slug/year-extract, movie_generator.py:329-384) and fuzzy
  * band-join dedup (movie_generator.py:83-94).
  *
  * Scale design: every dedup op is blocked — MinHash pairs meet only inside
  * an LSH band bucket (the shuffle key), Jaccard pairs only inside a
  * `source` block, fuzzy name pairs only inside a nation — so nothing here
  * is O(n²) on the full corpus. All hashes are md5-derived (portable), so
  * the entire sketch pipeline is DuckDB-oracle-checked end to end.
  */
object DedupText {

  /** Shingle sets, spread across all cores: the harness documents arrive
    * as one small parquet split, which would run every downstream sketch
    * kernel single-threaded — at 100 TB the scan itself yields thousands
    * of splits and this repartition is a no-op by comparison. */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), shingles(tokens(col("text"))).as("sg"))

  private val shSqlCte =
    s"sh AS (SELECT doc_id, ${shinglesSql("string_split(text, ' ')")} AS sg FROM documents)"

  /** Exact dedup via content fingerprint — hash-groupBy on md5(text)
    * (SURVEY A6/S5 key-set build; the 100 TB exact-dedup primitive). */
  private val q30 = GraftQuery(
    "q30_dedup_exact_fingerprint",
    (s, d) => {
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper_doc"))
        .orderBy(col("fp"))
    },
    Some("""SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS keeper_doc
      FROM documents GROUP BY md5(text) ORDER BY fp"""))

  /** Token counting + per-doc stats (whitespace tokenizer; int-exact). */
  private val q31 = GraftQuery(
    "q31_token_stats",
    (s, d) => {
      val toks = tokens(col("text"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          length(col("text")).cast("long").as("n_chars_m"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 6)
            .as("uniq_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_distinct(string_split(text, ' '))) AS n_distinct,
      length(text) AS n_chars_m,
      round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS uniq_ratio
      FROM documents ORDER BY doc_id"""))

  private val StopWords = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Quality scoring: stopword ratio + distinct ratio + length band —
    * all integer-derived ratios (bit-exact across engines). */
  private val q32 = GraftQuery(
    "q32_quality_score",
    (s, d) => {
      val toks = tokens(col("text"))
      val stopCnt = stopwordCount(toks, StopWords)
      val stopRatio = stopCnt.cast("double") / size(toks)
      val uniqR = uniqueRatio(toks)
      t(s, d, "documents")
        .select(
          col("doc_id"),
          round(stopRatio, 6).as("stop_ratio"),
          round(uniqR, 6).as("uniq_ratio"),
          when(col("n_chars").between(200, 2000), 1).otherwise(0).as("len_ok"),
          round(
            (stopRatio * 0.25 + uniqR * 0.5 +
              when(col("n_chars").between(200, 2000), 0.25).otherwise(0.0)), 6)
            .as("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
      round(CAST(len(list_filter(string_split(text, ' '), w -> w IN (${StopWords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
      round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS uniq_ratio,
      CASE WHEN n_chars BETWEEN 200 AND 2000 THEN 1 ELSE 0 END AS len_ok,
      round(CAST(len(list_filter(string_split(text, ' '), w -> w IN (${StopWords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(string_split(text, ' ')) * 0.25
        + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) * 0.5
        + CASE WHEN n_chars BETWEEN 200 AND 2000 THEN 0.25 ELSE 0.0 END, 6) AS quality
      FROM documents ORDER BY doc_id"""))

  /** Language-ID n-gram/marker heuristic (deterministic CASE over marker
    * token hit-rates; the synthetic corpus is English-ish so the verdict
    * keys off function-word density). */
  private val q33 = GraftQuery(
    "q33_lang_id_heuristic",
    (s, d) => {
      val toks = tokens(col("text"))
      val enHits = stopwordCount(toks, Seq("the", "a", "of")).cast("double") / size(toks)
      t(s, d, "documents")
        .select(
          col("doc_id"), col("lang").as("declared_lang"),
          when(enHits >= lit(0.02), "en").otherwise("other").as("predicted_lang"),
          round(enHits, 6).as("en_score"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang AS declared_lang,
      CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of'))) AS DOUBLE) / len(string_split(text, ' ')) >= 0.02 THEN 'en' ELSE 'other' END AS predicted_lang,
      round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of'))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS en_score
      FROM documents ORDER BY doc_id"""))

  /** MinHash + LSH near-dup candidate pairs, Jaccard-verified — the
    * shingle→minhash→band→bucket-join pipeline, fully oracle-checked
    * (md5-derived hashes are engine-portable). The band bucket is the
    * shuffle key: at 100 TB this is a plain hash-partitioned equi-join,
    * never an all-pairs scan. */
  /** The shingle→minhash→band→bucket-join→jaccard-verify pipeline,
    * reusable by q34 (pair inventory) and q121 (canonical dedup apply).
    * Returns (a_id, b_id, jaccard), unordered.
    *
    * Stage 1: packed 62-bit shingle hashes — one long per shingle
    * instead of the shingle string, so whole-stage codegen CSE derives
    * the md5 chain once per row per stage and downstream stages
    * (signatures, jaccard verify on both sides) carry 8-byte longs, not
    * strings. Recompute-per-side, no caching: the earlier localCheckpoint
    * staging paid an eager serialization job up front (and its retained
    * blocks skewed later bench queries); a lazy Dataset.persist leaks
    * CacheManager entries that RDD-level unpersist can't drop (measured:
    * per-run time doubled run over run). At 100 TB the equivalent choice
    * is writing the packed-hash table to storage once vs recomputing a
    * cheap narrow map — the shingle+md5 map is ~3% of the query's work,
    * so recompute wins at any scale. */
  /** (doc_id, hs): each doc's packed-hash shingle set — the input to both
    * the minhash signatures and the Jaccard verify rung. */
  private[graft] def packedHashTable(s: SparkSession, d: String): DataFrame =
    docShingles(s, d)
      .select(col("doc_id"), packedHashes(col("sg")).as("hs"))

  /** (doc_id, hs, band, bkey): the exploded LSH band-signature table over a
    * packed-hash table. `hs` rides along for callers that verify in-cell
    * (BandIndexStore persists it next to the signature); callers that only
    * join on (band, bkey) project it away and Catalyst prunes the column
    * before the explode, so carrying it is free when unused. */
  private[graft] def bandTable(hashTable: DataFrame): DataFrame = {
    val mhCols = (0 until NumHashes).map(k => minHashPacked(col("hs"), k).as(s"mh$k"))
    val mh = hashTable.select(col("doc_id") +: col("hs") +: mhCols: _*)
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        bandKey((0 until NumHashes).map(k => col(s"mh$k")), b).as("bkey"))
    }
    mh.select(col("doc_id"), col("hs"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("hs"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  private[operators] def minHashPairs(s: SparkSession, d: String): DataFrame = {
    val base = packedHashTable(s, d)
    // Band signatures are cheap arithmetic over the staged hashes —
    // recomputing them on each self-join side beats a second
    // materialization (measured at sf0.1)
    val bands = bandTable(base).select(col("doc_id"), col("band"), col("bkey"))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val sa = base.select(col("doc_id").as("a_id"), col("hs").as("hsa"))
    val sb = base.select(col("doc_id").as("b_id"), col("hs").as("hsb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("hsa"), col("hsb"))).cast("double") /
          size(array_union(col("hsa"), col("hsb"))), 6).as("jaccard"))
  }

  /** The matching oracle CTE chain ending in scored `pairs(a_id, b_id,
    * jaccard)` — shared by the q34/q121 twins. */
  private[operators] def minHashPairsSqlCtes: String = {
    val mhExprs = (0 until NumHashes).map(k => minHashPackedSql("hs", k))
    val mhSelect = mhExprs.zipWithIndex
      .map { case (e, k) => s"$e AS mh$k" }.mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql((0 until NumHashes).map(k => s"mh$k"), b)} AS bkey FROM mh"
    }.mkString(" UNION ALL ")
    s"""$shSqlCte,
      hss AS (SELECT doc_id, ${packedHashesSql("sg")} AS hs FROM sh),
      mh AS (SELECT doc_id, $mhSelect FROM hss),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      pairs AS (SELECT a_id, b_id,
        round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.hs, sb.hs))), 6) AS jaccard
      FROM cand JOIN hss sa ON a_id = sa.doc_id JOIN hss sb ON b_id = sb.doc_id)"""
  }

  private val q34 = GraftQuery(
    "q34_minhash_lsh_pairs",
    (s, d) => minHashPairs(s, d).orderBy(col("a_id"), col("b_id")),
    Some(s"""WITH $minHashPairsSqlCtes
      SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id"""))

  /** q121 — near-dup dedup APPLY: the step after detection (q34) and
    * clustering (q81) that a curation pipeline actually ships — pick ONE
    * canonical survivor per near-dup cluster and emit the deduplicated
    * corpus. Edges are the MinHash-verified pairs at jaccard >= 0.5,
    * components resolve by min-id label propagation (the component label
    * IS the canonical min doc_id, so survivors are exactly the rows
    * whose id equals their component), and each survivor reports how
    * many near-dups it absorbed. Scale: the pair stage is the bucketed
    * q34 pipeline (never all-pairs, measured sub-linear in BASELINE.md),
    * clustering is the Pregel-style loop with O(log diameter)
    * supersteps; near-dup graphs are tiny relative to the corpus.
    * Oracle: same CTEs + a recursive-CTE closure (tractable at oracle
    * scale because the edge set is small; the q81 note about closure
    * cost at sf0.1 applies to its dense customer graph, not here). */
  private val q121 = GraftQuery(
    "q121_dedup_canonical",
    (s, d) => {
      // Materialize the (tiny) edge table ONCE: the propagation loop
      // references edges every superstep, and without the checkpoint each
      // superstep re-runs the whole MinHash pipeline upstream of it
      // (measured: 3 supersteps × ~1.5 s of re-derivation).
      val edges = minHashPairs(s, d).filter(col("jaccard") >= 0.5)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .localCheckpoint()
      // The label-propagation loop runs ONLY over nodes that touch an
      // edge — everything else is a singleton (its own canonical) by
      // definition. The near-dup subgraph is tiny relative to the corpus
      // at every scale; running supersteps over 100 TB of singletons
      // would be pure waste (measured here: 3.5 s → ~2 s at sf0.1).
      val endpoints = edges.select(col("src").as("key"))
        .union(edges.select(col("dst").as("key"))).distinct()
      val clustered = CurationOps.connectedComponents(endpoints, edges)
        .groupBy(col("comp"))
        .agg((count(lit(1)) - 1).cast("long").as("n_dups_merged"))
        .select(col("comp").as("doc_id"), col("n_dups_merged"))
      val singles = t(s, d, "documents").select(col("doc_id"))
        .join(endpoints, col("doc_id") === col("key"), "left_anti")
        .select(col("doc_id"), lit(0L).as("n_dups_merged"))
      clustered.unionAll(singles).orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $minHashPairsSqlCtes,
      dedges AS (SELECT a_id AS src, b_id AS dst FROM pairs WHERE jaccard >= 0.5
                 UNION ALL
                 SELECT b_id, a_id FROM pairs WHERE jaccard >= 0.5),
      r(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM r JOIN dedges e ON r.b = e.src),
      comps AS (SELECT a AS key, min(b) AS comp FROM r GROUP BY a)
      SELECT comp AS doc_id, CAST(count(*) - 1 AS BIGINT) AS n_dups_merged
      FROM comps GROUP BY comp ORDER BY doc_id"""))

  /** q125 — INCREMENTAL near-dup dedup: the arriving batch (deterministic
    * slice doc_id % 10 = 7, ~10% of the corpus) is checked against the
    * EXISTING corpus without ever re-pairing old×old — the only join is
    * new-side band signatures against old-side band signatures, so work
    * scales with |batch| × bucket density, not |corpus|². This is the
    * shape that keeps dedup affordable on a growing 100-TB corpus: the
    * full self-join (q34) runs once to bootstrap; every ingest after
    * that probes the band index. Here the old-side band table is derived
    * inline because registry queries are stateless; in production it is
    * the persisted, bucketed signature index (BandIndexStore — write
    * once, cell-pruned probes per batch), and the new
    * batch is typically small enough that its band table broadcasts.
    * Each new doc reports the minimum old doc_id it near-duplicates
    * (jaccard >= 0.5, q121's threshold) with that pair's score, or
    * (-1, 0.0) when unique — null-free by the house rule. Oracle: the
    * shared q34 CTE chain filtered to cross-slice pairs — the Spark side
    * must find exactly the pairs the all-pairs banded oracle finds,
    * proving the asymmetric probe loses nothing. */
  private val q125 = GraftQuery(
    "q125_incremental_neardup",
    (s, d) => {
      val base = packedHashTable(s, d)
      val bands = bandTable(base).select(col("doc_id"), col("band"), col("bkey"))
      val isNew = col("doc_id") % 10 === 7
      val bandsNew = bands.filter(isNew)
        .select(col("doc_id").as("new_id"), col("band"), col("bkey"))
      val bandsOld = bands.filter(!isNew)
        .select(col("doc_id").as("old_id"), col("band"), col("bkey"))
      val cand = bandsNew.join(bandsOld, Seq("band", "bkey"))
        .select(col("new_id"), col("old_id")).distinct()
      val sn = base.filter(isNew).select(col("doc_id").as("new_id"), col("hs").as("hsn"))
      val so = base.filter(!isNew).select(col("doc_id").as("old_id"), col("hs").as("hso"))
      val matches = cand.join(sn, "new_id").join(so, "old_id")
        .select(col("new_id"), col("old_id"),
          round(size(array_intersect(col("hsn"), col("hso"))).cast("double") /
            size(array_union(col("hsn"), col("hso"))), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      val bestIds = matches.groupBy(col("new_id"))
        .agg(min(col("old_id")).as("dup_of"))
        .withColumnRenamed("new_id", "bn")
      val best = bestIds.join(matches,
          bestIds("bn") === matches("new_id") && bestIds("dup_of") === matches("old_id"))
        .select(col("bn").as("new_id"), col("dup_of"), col("jaccard"))
      t(s, d, "documents").filter(isNew).select(col("doc_id"))
        .join(best, col("doc_id") === best("new_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $minHashPairsSqlCtes,
      matches AS (SELECT
          CASE WHEN a_id % 10 = 7 THEN a_id ELSE b_id END AS new_id,
          CASE WHEN a_id % 10 = 7 THEN b_id ELSE a_id END AS old_id,
          jaccard
        FROM pairs
        WHERE (a_id % 10 = 7) <> (b_id % 10 = 7) AND jaccard >= 0.5),
      best AS (SELECT new_id, min(old_id) AS dup_of FROM matches GROUP BY new_id),
      scored AS (SELECT b.new_id, b.dup_of, m.jaccard
                 FROM best b JOIN matches m
                   ON b.new_id = m.new_id AND b.dup_of = m.old_id)
      SELECT d.doc_id, coalesce(s.dup_of, -1) AS dup_of,
        coalesce(s.jaccard, 0.0) AS jaccard
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.new_id
      WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id"""))

  /** Blocked 3-gram Jaccard near-dup scan — brute-force within a `source`
    * block (the blocking key bounds the pair count; SURVEY J2 shape).
    * Scale verdict (measured, BASELINE.md sf0.1→sf1): this is the EXACT
    * verification rung — its output is quadratic in block size when the
    * block key set is fixed (622k→62.5M pairs at 10× data), so at corpus
    * scale the pair stream must come from the q34 MinHash ladder
    * (measured sub-linear) with this kernel verifying only bucketed
    * candidates. Kept as its own query because the fused SortedJaccard
    * merge beats the DuckDB twin ~4× even while emitting 100× the rows. */
  private val q35 = GraftQuery(
    "q35_ngram_jaccard_blocked",
    (s, d) => {
      import graft.functions.expressions.SortedJaccard.sorted_jaccard
      // Sort each doc's (distinct) shingle set ONCE pre-join — it rides
      // the shuffle materialized — then score pairs with the linear-merge
      // SortedJaccard kernel: bit-identical to the array_intersect/
      // array_union form (order-independent set ops, same final IEEE
      // division) at ~40× less cost (46.8 s → ~1 s at sf0.1; the builtin
      // pair builds two boxed hash sets per PAIR).
      // repartition BEFORE the shingle projection: the corpus arrives as
      // one file split, and the interpreted HOF shingle build is the
      // per-row cost — left unspread it runs single-threaded both on the
      // broadcast build side (collected to the driver AFTER the child
      // plan runs on its one partition) and on the probe side
      val base = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"),
          array_sort(shingles(tokens(col("text")))).as("sg"))
      val a = base.select(col("source"), col("doc_id").as("a_id"), col("sg").as("sga"))
      val b = base.select(col("source"), col("doc_id").as("b_id"), col("sg").as("sgb"))
      // sampled independent-formulation contract (VERDICT r8 #1): for a
      // deterministic ~1/997 of pairs, recompute the score through the
      // BUILTIN set-op formulation (array_intersect/array_union hash
      // sets — a completely different code path from the SortedJaccard
      // linear merge) and carry agreement as a per-row boolean. The
      // oracle pins it TRUE at sf0.01; past the oracle's reach the
      // checker verifies the column affirmatively, so the custom kernel
      // stays cross-checked at every scale the engine runs. Degenerate
      // pairs (both shingle sets empty → 0/0) are excluded from the
      // sample: the mirror division is NaN there by construction.
      a.join(b, Seq("source"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("jaccard", round(sorted_jaccard(col("sga"), col("sgb")), 6))
        .withColumn("jacc_xck",
          when(pmod(hash(col("a_id"), col("b_id")), lit(997)) === 0 &&
              size(col("sga")) + size(col("sgb")) > 0,
            col("jaccard") ===
              round(size(array_intersect(col("sga"), col("sgb"))).cast("double") /
                size(array_union(col("sga"), col("sgb"))), 6))
            .otherwise(lit(true)))
        .select(col("source"), col("a_id"), col("b_id"), col("jaccard"),
          col("jacc_xck"))
        .orderBy(col("source"), col("a_id"), col("b_id"))
    },
    Some(s"""WITH $shSqlCte,
      ds AS (SELECT s.doc_id, d.source, s.sg FROM sh s JOIN documents d ON s.doc_id = d.doc_id)
      SELECT a.source, a.doc_id AS a_id, b.doc_id AS b_id,
        round(CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sg, b.sg))), 6) AS jaccard,
        TRUE AS jacc_xck
      FROM ds a JOIN ds b ON a.source = b.source AND a.doc_id < b.doc_id
      ORDER BY a.source, a_id, b_id"""))

  /** SimHash document fingerprints (32-bit, shingle-weighted): one md5 per
    * shingle, then 32 per-row HOF vote aggregates over the hash array —
    * no explode, no shuffle (the exploded groupBy formulation measured
    * 30× slower at sf0.1: 1.5M-row shuffle vs a narrow per-row pass). */
  private val q36 = GraftQuery(
    "q36_simhash_fingerprint",
    (s, d) => {
      val hv = docShingles(s, d)
        .withColumn("hv", transform(md5List(col("sg")), h => hexLong(h, 1)))
      val simhash = (0 until 32).map { j =>
        val votes = aggregate(col("hv"), lit(0L), (acc, x) =>
          acc + when(shiftright(x, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        when(votes > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      hv.select(col("doc_id"), simhash.as("simhash")).orderBy(col("doc_id"))
    },
    Some {
      val h = hexLongSql("md5(sh)", 1)
      val voteSelects = (0 until 32)
        .map(j => s"sum(CASE WHEN (($h) >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(", ")
      val bitSum = (0 until 32)
        .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shSqlCte,
      ex AS (SELECT doc_id, unnest(sg) AS sh FROM sh),
      votes AS (SELECT doc_id, $voteSelects FROM ex GROUP BY doc_id)
      SELECT doc_id, ($bitSum)::BIGINT AS simhash FROM votes ORDER BY doc_id"""
    })

  /** The reference's text-normalization primitives in one pass: clean
    * (movie_generator.py:329-338), slug (:384), year-extract-with-fallback
    * (:353-356,375-377), numeric id extraction. */
  private val q37 = GraftQuery(
    "q37_text_normalize",
    (s, d) => {
      val firstWords = concat_ws(" ",
        element_at(tokens(col("text")), 1),
        element_at(tokens(col("text")), 2),
        element_at(tokens(col("text")), 3))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          slug(firstWords).as("slug3"),
          cleanText(substring(col("text"), 1, 40)).as("clean40"),
          extractYear(col("text")).as("year_f"),
          when(regexp_extract(col("source"), "([0-9]+)", 1) =!= "",
            regexp_extract(col("source"), "([0-9]+)", 1).cast("int")).as("src_num"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
      ${slugSql("string_split(text, ' ')[1] || ' ' || string_split(text, ' ')[2] || ' ' || string_split(text, ' ')[3]")} AS slug3,
      ${cleanTextSql("substr(text, 1, 40)")} AS clean40,
      ${extractYearSql("text")} AS year_f,
      CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS src_num
      FROM documents ORDER BY doc_id"""))

  /** Fuzzy band-join dedup — the reference's ±1-band + similarity-ratio
    * self-join (movie_generator.py:83-94), re-keyed to the harness:
    * customers within one nation whose names are ≤2 edits apart.
    * levenshtein is the DuckDB-checkable twin of Ratcliff/Obershelp
    * (SURVEY F8); the nation key is the block that BOUNDS the quadratic —
    * but nation cardinality is a CONSTANT 25, so blocking alone cannot be
    * the whole plan: at sf10 each nation holds 60k rows → 1.8B pairs
    * streaming through ONE join partition per nation (25-way parallelism
    * forever; the straggler measured 27+ CPU-minutes inside the banded DP
    * before this was unpinned).
    *
    * Strategy is therefore selected by MEASURED block size
    * (EditDistanceJoin.selfJoinAuto, crossover ~3k rows/block): below it,
    * brute-within-block — this corpus (zero-padded dense digit IDs after
    * the shared "Customer#000..." prefix) makes candidate generation pure
    * overhead at small blocks (measured at sf0.1: brute 0.54s vs PassJoin
    * 1.5s when run UNBLOCKED; per-nation blocks of 600 are far under the
    * ceiling). Above it, candidate generation whose (block, signature)
    * join keys grow with the data — parallelism and per-task work then
    * scale with rows, not with the fixed nation count. WHICH candidate
    * scheme is itself stat-selected (r12): this corpus's stripped suffix
    * is a short dense digit string, exactly the shape that collapses
    * PassJoin's segment entropy (the r11 sf100 run was candidate-bound at
    * ~240B candidates and wall-killed), so the stripped-length stat
    * (Tables.cachedStrippedLen, ≤12 chars) routes the blocked join
    * through per-block deletion signatures (selfJoinSymDelete) whose
    * buckets stay discriminative on digit IDs. All paths are exact
    * (hash-matched oracle + the blocked k=2 agreement tests in
    * TokenizerSpec), so both crossovers only move time, never values.
    * Block size is the REAL per-nation maximum from the memoized
    * histogram stat (Tables.cachedMaxBlockRows — r9's rowCount/25 was the
    * mean, which a skewed assignment could underestimate past the
    * crossover, ADVICE r9); the bounded aggregates the two stats cost are
    * paid once per (dir, mtime) and amortize to map lookups. */
  private val q38 = GraftQuery(
    "q38_fuzzy_name_pairs",
    (s, d) => {
      // single-split input would run the pair scan on one thread
      val base = t(s, d, "customer").repartition(s.sparkContext.defaultParallelism)
        .select(col("c_nationkey").as("nk"), col("c_custkey").as("key"),
          col("c_name").as("name"))
      val blockEst = Tables.cachedMaxBlockRows(s, d, "customer", "c_nationkey")
      val slen = Tables.cachedStrippedLen(s, d, "customer", "c_name")
      // ratio is over FULL name lengths; the rungs emit them alongside
      // lev (withLens — the strings are in hand at verify time), which
      // replaced the r11 design's two output-sized re-attach joins
      // against a (key, len) projection: at sf100 those joins shuffled
      // the ~700M-row pair stream twice (~50 GB) to recover two ints the
      // verify already saw.
      val pairs = EditDistanceJoin.selfJoinAuto(base, "key", "name", k = 2,
        blockCols = Seq("nk"), maxBlockRowsHint = Some(blockEst),
        strippedLenHint = Some(slen), withLens = true)
      pairs
        .select(col("nk"), col("a_key"), col("b_key"), col("lev"),
          round(lit(1.0) - col("lev").cast("double") /
            greatest(col("a_len"), col("b_len")), 6).as("ratio"))
        .orderBy(col("nk"), col("a_key"), col("b_key"))
    },
    Some("""SELECT a.c_nationkey AS nk, a.c_custkey AS a_key, b.c_custkey AS b_key,
      levenshtein(a.c_name, b.c_name) AS lev,
      round(1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
            / greatest(length(a.c_name), length(b.c_name)), 6) AS ratio
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
      ORDER BY nk, a_key, b_key"""))

  /** BPE-ish regex tokenization + rolling-hash fingerprint (brief items:
    * "token counting (whitespace + a BPE-ish regex)", "document
    * fingerprinting (rolling hash)"):
    *  - bpe_tokens: GPT-style lexer classes (letter runs | digit runs |
    *    single punctuation) via regexp_extract_all;
    *  - rolling_fp: polynomial rolling hash (base 31 mod 1e9+7) over the
    *    first 64 chars — the incremental form a streaming ingest would
    *    maintain per chunk. Both integer-exact across engines. */
  private val q57 = GraftQuery(
    "q57_bpe_tokens_rolling_fp",
    (s, d) => {
      val bpe = expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
      val chars = split(substring(col("text"), 1, 64), "")
      val rollFp = aggregate(chars, lit(0L),
        (acc, c) => (acc * lit(31L) + ascii(c)) % lit(1000000007L))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(bpe).cast("long").as("bpe_tokens"),
          rollFp.as("rolling_fp"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
      list_reduce(list_prepend(0::BIGINT,
        list_transform(string_split_regex(substr(text, 1, 64), ''), c -> ascii(c)::BIGINT)),
        (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp
      FROM documents ORDER BY doc_id"""))

  /** The MinHash signature via the custom TypedImperativeAggregate
    * (one pass, K-long buffer) — oracle computes the same K values as K
    * independent min() aggregates over the exploded hashes. */
  private val q66 = GraftQuery(
    "q66_minhash_agg_signature",
    (s, d) => {
      import graft.functions.expressions.MinHashSigAgg.minhash_sig
      val K = 4
      val ex = docShingles(s, d)
        .select(col("doc_id"),
          explode(packedHashes(col("sg"))).as("h"))
      ex.groupBy(col("doc_id"))
        .agg(minhash_sig(col("h"), K).as("sig"))
        .select(col("doc_id") +: (0 until K).map(k =>
          element_at(col("sig"), k + 1).as(s"mh$k")): _*)
        .orderBy(col("doc_id"))
    },
    Some {
      val K = 4
      val mins = (0 until K).map(k =>
        s"min(((h >> 32) + $k * (h & 4294967295)) % 4294967296) AS mh$k").mkString(", ")
      s"""WITH $shSqlCte,
      ex AS (SELECT doc_id, unnest(${packedHashesSql("sg")}) AS h FROM sh)
      SELECT doc_id, $mins FROM ex GROUP BY doc_id ORDER BY doc_id"""
    })

  /** Higher-order array function breadth (SURVEY F5 family): transform /
    * filter / exists / sort / slice over the token arrays. */
  private val q68 = GraftQuery(
    "q68_array_hof_functions",
    (s, d) => {
      val toks = tokens(col("text"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          exists(toks, t => t === "spark").as("mentions_spark"),
          size(filter(toks, t => length(t) > 4)).cast("long").as("n_long_tokens"),
          concat_ws("|", slice(sort_array(array_distinct(toks)), 1, 5))
            .as("first5_sorted"),
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      list_contains(string_split(text, ' '), 'spark') AS mentions_spark,
      CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 4)) AS BIGINT) AS n_long_tokens,
      array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], '|') AS first5_sorted,
      list_reduce(list_prepend(0::BIGINT,
        list_transform(string_split(text, ' '), t -> length(t)::BIGINT)),
        (acc, t) -> acc + t) AS total_chars
      FROM documents ORDER BY doc_id"""))

  /** Null-semantics breadth: nullif / coalesce / null-safe equality
    * (SURVEY §1.3 — the engine's explicit NULL treatment vs the
    * reference's absent-key dropping, search.py:62). */
  private val q69 = GraftQuery(
    "q69_null_semantics",
    (s, d) => {
      val nullableLang = nullif(col("lang"), lit("zh")) // manufacture nulls
      t(s, d, "documents")
        .select(col("doc_id"),
          coalesce(nullableLang, lit("redacted")).as("lang_or_default"),
          nullableLang.isNull.as("was_nulled"),
          (nullableLang <=> lit("en")).as("nullsafe_is_en"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      coalesce(nullif(lang, 'zh'), 'redacted') AS lang_or_default,
      nullif(lang, 'zh') IS NULL AS was_nulled,
      nullif(lang, 'zh') IS NOT DISTINCT FROM 'en' AS nullsafe_is_en
      FROM documents ORDER BY doc_id"""))

  /** Point lookup + JSON response shaping (SURVEY S3 + F14's to_json —
    * the reference's find_one and jsonify, database.py:70-75,
    * routes.py:23-28). Both engines emit identical compact JSON. */
  private val q71 = GraftQuery(
    "q71_point_lookup_json",
    (s, d) => {
      t(s, d, "documents")
        .filter(col("doc_id") === 42)
        .limit(1)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("source"))).as("js"))
    },
    Some("""SELECT doc_id,
      to_json({'doc_id': doc_id, 'lang': lang, 'source': source})::VARCHAR AS js
      FROM documents WHERE doc_id = 42 LIMIT 1"""))

  /** The reference's /api/analyze-subtopics endpoint (SURVEY A2/3.2,
    * backend/routes.py:99-143): explode tags → group → keep groups of
    * >= 2 → confidence = |group| / |corpus| → top maxGroups,
    * deterministic tiebreak. Tokens play the genres role on the harness
    * corpus. */
  private val q72 = GraftQuery(
    "q72_subtopic_groups",
    (s, d) => {
      val docs = t(s, d, "documents")
      val totalDf = docs.agg(count(lit(1)).as("total"))
      docs
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tag"))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .crossJoin(broadcast(totalDf))
        .withColumn("confidence", round(col("cnt").cast("double") / col("total"), 6))
        .select(col("tag"), col("cnt"), col("confidence"))
        .orderBy(col("cnt").desc, col("tag"))
        .limit(3)
    },
    Some("""WITH tags AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tag
             FROM documents),
      total AS (SELECT count(*) AS total FROM documents)
      SELECT tag, count(*) AS cnt,
        round(CAST(count(*) AS DOUBLE) / (SELECT total FROM total), 6) AS confidence
      FROM tags GROUP BY tag HAVING count(*) >= 2
      ORDER BY cnt DESC, tag LIMIT 3"""))

  /** Generator with ordinality — posexplode over the leading tokens
    * (SURVEY F2's UDTF-shaped surface: one row in, positioned rows out). */
  private val q75 = GraftQuery(
    "q75_posexplode_ordinality",
    (s, d) => {
      t(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(slice(tokens(col("text")), 1, 5)).as(Seq("pos", "tok")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("ordinality"),
          col("tok"))
        .orderBy(col("doc_id"), col("ordinality"))
    },
    Some("""SELECT doc_id, CAST(ord AS BIGINT) AS ordinality, tok
      FROM (SELECT doc_id, unnest(string_split(text, ' ')[1:5]) AS tok,
              generate_subscripts(string_split(text, ' ')[1:5], 1) AS ord
            FROM documents WHERE doc_id < 50)
      ORDER BY doc_id, ordinality"""))

  /** BM25 top-k text retrieval over the document corpus — the lexical
    * ranking twin of the embedding ladder (q20→q80→q26). One tokenize
    * pass feeds a single (doc_id, tok) count shuffle from which BOTH
    * document length and per-term tf derive; query terms, df, and corpus
    * stats are broadcast (3/3/1 rows), so the only wide exchanges are the
    * token count and the final doc-id join — the shape that holds at
    * 100 TB.
    *
    * Engine portability (the reason this is hash-checked, not rows-only):
    * the BM25 idf is integer-quantized as 1+floor(log2((N+1)/(df+1))) via
    * `length(bin(x))` (libm ln is not bit-portable), the tf-saturation
    * ratio is a fixed IEEE op sequence written with identical
    * parenthesization in both engines (bit-identical doubles), and each
    * per-(doc,term) contribution is rounded to integer micro-units BEFORE
    * the per-doc sum so the aggregate is an order-independent integer sum
    * (float sums are order-dependent; integer sums are not). k1=1.2,
    * b=0.75 (the standard Robertson defaults).
    *
    * `bm25Scored` is the unordered scoring stage, shared with the hybrid
    * fusion rung (q130 in [[RetrievalOps]]). */
  private[operators] def bm25Scored(
      s: SparkSession, d: String, termList: Seq[String]): DataFrame = {
    import s.implicits._
    val tc = t(s, d, "documents")
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val dl = tc.groupBy(col("doc_id")).agg(sum(col("c")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val terms = termList.toDF("tok")
    val tf = tc.join(broadcast(terms), Seq("tok")).withColumnRenamed("c", "tf")
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", length(bin(expr("(n + 1) div (df + 1)"))).cast("long"))
      .withColumn("contrib",
        col("idf") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))))
      .withColumn("contrib_micro", round(col("contrib") * lit(1e6), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_micro")).as("score_micro"))
  }

  private val q90 = GraftQuery(
    "q90_bm25_retrieval",
    (s, d) => bm25Scored(s, d, Seq("dup", "merge", "vector"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM tc GROUP BY doc_id),
      stats AS (SELECT count(*) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      terms(tok) AS (VALUES ('dup'), ('merge'), ('vector')),
      tf AS (SELECT doc_id, tok, c AS tf FROM tc JOIN terms USING (tok)),
      dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      scored AS (
        SELECT doc_id,
          CAST(round((CAST(length(bin((n + 1) // (df + 1))) AS BIGINT) *
            ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))) * 1000000.0)
            AS BIGINT) AS contrib_micro
        FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(contrib_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
      ORDER BY score_micro DESC, doc_id LIMIT 20"""))

  val all: Seq[GraftQuery] = Seq(q30, q31, q32, q33, q34, q35, q36, q37,
    q38, q57, q66, q68, q69, q71, q72, q75, q90, q121, q125)
}
