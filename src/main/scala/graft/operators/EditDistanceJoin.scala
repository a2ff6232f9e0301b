package graft.operators

import graft.{GraftQuery, Tables}
import graft.Tables._
import graft.functions.expressions.LevenshteinK.levenshtein_k
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PassJoin-style edit-distance self-join (Li, Deng, Feng — "PassJoin: a
  * partition-based method for similarity joins", VLDB 2011; public
  * algorithm): to find all pairs with edit distance <= k, partition each
  * string into k+1 segments — by pigeonhole at least one segment is
  * untouched by the <= k edits, so it appears EXACTLY in the other string,
  * shifted by at most the edits before it (first segment shifts only
  * right [0,+k], last only left [-k,0]). Candidates come from an equi-join
  * on (segment_index, segment_text) — O(n·k) keys and a plain
  * hash-partitioned shuffle instead of the O(n²) all-pairs scan — and a
  * thresholded levenshtein verifies survivors.
  *
  * Low-entropy-prefix hardening: corpora with a shared literal prefix
  * (the harness names all start "Customer#...") make prefix segments
  * constant, collapsing candidate generation to near-all-pairs. By the
  * classical prefix lemma ed(Pu, Pv) = ed(u, v), the corpus-wide common
  * prefix (computable from just min(str) and max(str) — lexicographic
  * extremes bound every string's shared prefix) is stripped first, so the
  * segments cover the discriminative suffix. Measured at sf0.1: 117s
  * naive → ~2s stripped.
  */
object EditDistanceJoin {

  /** All pairs (a_key < b_key) with levenshtein <= 1 over an equal-length
    * string column: 2 segments (ceil/floor split, per-row arithmetic).
    *
    * Equal lengths make ed <= 1 substitution-only (an unmatched insert or
    * delete changes the length), so every untouched segment matches at
    * ZERO shift — the probe side IS the index side and the candidate join
    * is a plain self-equi-join on (seg_idx, seg). r5: the earlier ±1
    * probe shifts (correct for the general case) were pure candidate
    * waste here; dropping them halves probe rows.
    *
    * `withLens` (r12, all four rungs): additionally emit the FULL-string
    * lengths a_len/b_len. Consumers that derive length-normalized scores
    * (q38's similarity ratio) otherwise re-attach lengths to the PAIR
    * stream through two output-sized shuffle joins — but the strings are
    * already in hand at verify time, so the lengths ride the existing
    * aggregate as two functionally-dependent min() columns instead
    * (stripped length + the common-prefix length = full length). At the
    * sf100 shape that replaced ~50 GB of join shuffle with ~6 GB of agg
    * width. Off by default: output-bound consumers (q56/q79) should not
    * pay the extra agg columns. */
  def selfJoinK1(df: DataFrame, keyCol: String, strCol: String,
                 blockCols: Seq[String] = Nil,
                 withLens: Boolean = false): DataFrame = {
    // corpus common prefix from the lexicographic extremes (two scalars)
    val mm = df.agg(min(col(strCol)).as("mn"), max(col(strCol)).as("mx")).head()
    val (mn, mx) = (mm.getString(0), mm.getString(1))
    val plen = mn.zip(mx).takeWhile { case (a, b) => a == b }.length
    val sfx = substring(col(strCol), plen + 1, Int.MaxValue)

    val base = df.select(
      (blockCols.map(col) :+ col(keyCol).as("key") :+ col(strCol).as("str") :+
        sfx.as("sfx")): _*)
      // floor division on both engines (plain / + int cast truncates in
      // Spark but rounds in DuckDB)
      .withColumn("s0len", expr("CAST((length(sfx) + 1) div 2 AS INT)"))
    // Segments join as a fused xxhash64(seg_idx, seg) INT key, not the
    // string pair: hash-table probes on a 63M-row candidate stream pay
    // string equality per probe otherwise (r5, measured on q79's shape:
    // 4.7 s -> 4.0 s). A collision only ADDS a candidate; the levenshtein
    // verify drops it — identical output by construction.
    val index = base.select(
      (blockCols.map(col) :+ col("key").as("a_key") :+ col("sfx").as("a_sfx") :+
        explode(array(
          expr("xxhash64(0, substr(sfx, 1, s0len))"),
          expr("xxhash64(1, substr(sfx, s0len + 1))")
        )).as("sig")): _*)
    // probe side: substitution-only (see scaladoc) -> unshifted segments,
    // identical shape to the index side
    val probe = base.select(
      (blockCols.map(col) :+ col("key").as("b_key") :+ col("sfx").as("b_sfx") :+
        explode(array(
          expr("xxhash64(0, substr(sfx, 1, s0len))"),
          expr("xxhash64(1, substr(sfx, s0len + 1))")
        )).as("sig")): _*)
    // verify-then-int-dedup (see selfJoinK2): thresholded levenshtein runs
    // map-side right after the join; the only wide shuffle carries
    // (a_key, b_key, lev) ints, with partial aggregation collapsing
    // duplicate candidates before they move. With blockCols the candidate
    // equi-join ALSO keys on the block — pairs never cross blocks.
    val aggs = min(col("lev")).as("lev") +: (if (!withLens) Nil else Seq(
      min(length(col("a_sfx")) + lit(plen)).as("a_len"),
      min(length(col("b_sfx")) + lit(plen)).as("b_len")))
    index.join(probe, blockCols ++ Seq("sig"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("lev", levenshtein_k(col("a_sfx"), col("b_sfx"), 1).cast("long"))
      .filter(col("lev") >= 0)
      .groupBy((blockCols.map(col) :+ col("a_key") :+ col("b_key")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** PassJoin generalized to ed <= 2 over VARIABLE-LENGTH strings — the
    * real dedup workload's shape (titles differ in length; k=1 equal-length
    * is the special case above). k+1 = 3 segments; the index side cuts each
    * string of length l into its 3 exact segments keyed by (seg_idx, l);
    * the probe side enumerates every candidate target length
    * l ∈ [m-2, m+2] (length filtering: |Δlen| <= k is necessary for
    * ed <= k), computes that l's segment geometry, and emits the probe
    * substrings within PassJoin's MULTI-MATCH-AWARE position windows
    * (the paper's Lemma 3, r5 — replacing the earlier blanket δ ∈ [-k, k]
    * superset): for 0-based segment s, the start shift δ must satisfy
    * BOTH δ ∈ [-s, +s] (an alignment matching segment s with |δ| > s
    * edits before it would also leave an EARLIER segment untouched —
    * probe that one instead) AND δ ∈ [Δ - (k-s), Δ + (k-s)] with
    * Δ = m - l (the suffix after segment s absorbs |Δ - δ| edits, and at
    * most k-s remain). Net: segment 0 probes only δ = 0 (prefix-anchored),
    * segment 2 only δ = Δ (suffix-anchored, its match ENDS exactly at m),
    * and only the middle segment scans δ ∈ [-1, 1] ∩ [Δ-1, Δ+1] — 3-5
    * probe substrings per (row, target length) instead of 11, a ~3×
    * candidate cut with identical output (losslessness property tests +
    * hash-matched oracle unchanged). Candidates come from a plain
    * equi-join on (seg_idx, target_len, segment).
    *
    * Segment geometry (extras go to the LAST segments; must match the SQL
    * twin exactly): len_0 = l div 3, len_1 = l div 3 + [l%3 = 2],
    * len_2 = l div 3 + [l%3 >= 1]; starts are the prefix sums.
    *
    * Like selfJoinK1, the corpus-wide common prefix (from the two
    * lexicographic extremes — a scalar agg) is stripped before segmenting:
    * ed(Pu, Pv) = ed(u, v), and low-entropy shared prefixes (harness names
    * all start "Customer#000...") otherwise make prefix segments constant
    * and collapse candidate generation to near-all-pairs. The returned
    * `lev` is therefore the FULL-string edit distance. With blockCols the
    * candidate equi-join also keys on the block, so pairs never cross
    * blocks (and the block is part of the output).
    *
    * No length precondition (r10): suffixes shorter than 3 chars (which
    * can't form three non-empty segments) are paired through a bounded
    * brute-force side channel — see the shortPairs branch — so the
    * result is value-identical to bruteForceSelfJoin on ANY corpus and
    * selfJoinAuto's crossover can never change results.
    *
    * `exactlyOnce` (r12 — the q79 storage-wall fix): emit each true pair
    * from exactly ONE candidate row instead of deduplicating through the
    * distinct-pair groupBy. A pair can match at several (seg_idx, shift)
    * windows; the canonical witness is the FIRST valid string-matching
    * window in the fixed order (0,0) < (1,-1) < (1,0) < (1,1) < (2,Δ),
    * and each candidate row keeps itself iff its own window string-matches
    * (collision-proof: hash matches that aren't string matches drop) and
    * no earlier valid window does — at most 4 extra short-substring
    * compares per candidate, evaluated map-side. The leftmost true match
    * always exists as a candidate row (a string match implies its hash
    * match), so exactly one row per pair survives and the output needs NO
    * aggregate: the r11 sf100 q79 kernel cell died materializing the
    * ~5.5B-pair groupBy state (108 GB of spill); exactly-once emission
    * deletes that operator entirely. Values are identical by construction
    * (same pair set, same full-string lev on the surviving row) — pinned
    * by the multiplicity + agreement property tests. The short-suffix
    * channel is then restricted to pairs touching a sub-3-char suffix
    * (its only non-overlap with segPairs), keeping the union disjoint. */
  def selfJoinK2(df: DataFrame, keyCol: String, strCol: String,
                 blockCols: Seq[String] = Nil,
                 withLens: Boolean = false,
                 exactlyOnce: Boolean = false): DataFrame = {
    def lenE(i: Int, l: String) = i match {
      case 0 => s"($l div 3)"
      case 1 => s"(($l div 3) + (CASE WHEN $l % 3 = 2 THEN 1 ELSE 0 END))"
      case _ => s"(($l div 3) + (CASE WHEN $l % 3 >= 1 THEN 1 ELSE 0 END))"
    }
    def startE(i: Int, l: String) = i match {
      case 0 => "1"
      case 1 => s"(1 + ($l div 3))"
      case _ => s"(1 + 2 * ($l div 3) + (CASE WHEN $l % 3 = 2 THEN 1 ELSE 0 END))"
    }
    // corpus common prefix from the lexicographic extremes (two scalars)
    val mm = df.agg(min(col(strCol)).as("mn"), max(col(strCol)).as("mx")).head()
    val plen =
      if (mm.isNullAt(0)) 0
      else mm.getString(0).zip(mm.getString(1)).takeWhile { case (a, b) => a == b }.length
    val bc = blockCols.map(col)
    val baseAll = df.select(
      (bc :+ col(keyCol).as("key") :+
        substring(col(strCol), plen + 1, Int.MaxValue).as("str")): _*)
    val base = baseAll.filter(length(col("str")) >= 3)
    def withBc(cols: String*): Seq[String] = blockCols ++ cols
    // Both sides key on the fused xxhash64(seg_idx, tlen, seg) INT — see
    // selfJoinK1's rationale (measured 4.7 s -> 4.0 s here at sf0.1; a
    // collision only adds a candidate the verify drops).
    val idxSigs = (0 until 3).map(i =>
      s"xxhash64($i, tlen, substr(a_str, ${startE(i, "tlen")}, ${lenE(i, "tlen")}))")
    val idx0 = base
      .selectExpr(withBc("key AS a_key", "str AS a_str", "length(str) AS tlen"): _*)
    val idx =
      if (!exactlyOnce) idx0.selectExpr(withBc("a_key", "a_str",
        "explode(array(" + idxSigs.mkString(", ") + ")) AS sig"): _*)
      // exactlyOnce keeps the emitting segment's index so the join can
      // re-check the identity the fused hash encodes (see probeCarry)
      else idx0.selectExpr(withBc("a_key", "a_str",
        "inline(array(" + idxSigs.zipWithIndex.map { case (h, i) =>
          s"struct($i AS i_idx, $h AS sig)" }.mkString(", ") + "))"): _*)
    // Multi-match-aware probe windows (see scaladoc): each struct carries
    // its shift δ (dl) so the Δ-window filter below can apply the second
    // bound uniformly as |δ - Δ| <= k - seg_idx. The δ ∈ [-s, +s] bound is
    // structural (segment 0 emits only δ=0; segment 2 only δ=Δ, i.e. its
    // match ends exactly at m).
    val probeStructs =
      Seq(s"struct(0 AS seg_idx, 1 AS st, ${lenE(0, "tlen")} AS sl, 0 AS dl)") ++
      (-1 to 1).map(dl => s"struct(1 AS seg_idx, (${startE(1, "tlen")} + $dl) AS st, ${lenE(1, "tlen")} AS sl, $dl AS dl)") ++
      Seq(s"struct(2 AS seg_idx, (m - ${lenE(2, "tlen")} + 1) AS st, ${lenE(2, "tlen")} AS sl, (m - tlen) AS dl)")
    // exactlyOnce carries the row's own window identity (seg_idx, dl) —
    // plus tlen, pinned to length(a_str) below: under groupBy-dedup a
    // fused-hash collision only ADDS a candidate the verify drops, but
    // under exactly-once emission a cross-tlen collision on the same
    // (pair, window) would emit a DUPLICATE row, so the identity the
    // hash fuses is re-checked exactly.
    val probeCarry = if (exactlyOnce) Seq("seg_idx", "dl", "tlen") else Nil
    val probe = base
      .selectExpr(withBc("key AS b_key", "str AS b_str", "length(str) AS m"): _*)
      .selectExpr(withBc("b_key", "b_str", "m",
        "explode(sequence(m - 2, m + 2)) AS tlen"): _*)
      .filter(col("tlen") >= 3)
      .selectExpr(withBc("b_key", "b_str", "m", "tlen",
        "inline(array(" + probeStructs.mkString(", ") + "))"): _*)
      .filter(col("st") >= 1 && col("st") + col("sl") - 1 <= col("m") &&
        abs(col("dl") - (col("m") - col("tlen"))) <= lit(2) - col("seg_idx"))
      .selectExpr(withBc(Seq("b_key", "b_str",
        "xxhash64(seg_idx, tlen, substr(b_str, st, sl)) AS sig") ++
        probeCarry: _*): _*)
    // Verify IMMEDIATELY with the thresholded (banded, early-abandon)
    // levenshtein, then dedup duplicate candidates on INTEGER keys only —
    // the partial aggregate collapses dups map-side, so the only wide
    // shuffle carries (a_key, b_key, lev) ints, never candidate strings.
    val lensOf: (String, String) => Seq[Column] = (a, b) =>
      if (!withLens) Nil
      else Seq((length(col(a)) + lit(plen)).as("a_len"),
        (length(col(b)) + lit(plen)).as("b_len"))
    // Leftmost-witness keep-filter (exactlyOnce): window (i, d)
    // string-matches iff segment i of a_str equals the b_str substring at
    // its start shifted by d, and is VALID iff the probe would have
    // emitted it (the Δ-window + bounds the probe filter applies). The row
    // keeps itself iff its own window matches and no earlier valid window
    // does. Fused into ONE codegen kernel (r13): the r12 SQL CASE form —
    // ~20 substr()s — landed in the candidate hash join's RESIDUAL
    // condition, where predicates get no subexpression elimination and
    // every substr allocates (judge-measured 89.7 s vs 2.5 s for q79 at
    // sf0.1); the kernel is one allocation-free in-place pass, same family
    // as levenshtein_k. The identity equalities stay as separate cheap
    // conjuncts — Catalyst lifts them into the join KEYS, shrinking the
    // candidate stream before either kernel runs.
    import graft.functions.expressions.PassJoinWitness.pass_join_witness
    val joined0 = idx.join(probe, blockCols ++ Seq("sig"))
      .filter(col("a_key") < col("b_key"))
    val joined =
      if (exactlyOnce)
        joined0.filter(col("tlen") === length(col("a_str")) &&
            col("i_idx") === col("seg_idx"))
          .filter(pass_join_witness(col("a_str"), col("b_str"),
            col("seg_idx"), col("dl")))
      else joined0
    val segPairs = joined
      .withColumn("lev", levenshtein_k(col("a_str"), col("b_str"), 2).cast("long"))
      .filter(col("lev") >= 0)
      .select((bc ++ Seq(col("a_key"), col("b_key"), col("lev")) ++
        lensOf("a_str", "b_str")): _*)
    // Rows whose stripped suffix is shorter than 3 chars can't be
    // segmented into three non-empty segments. Pre-r10 they were
    // silently DROPPED (the documented precondition) — so crossing
    // selfJoinAuto's size crossover could change results on corpora
    // with degenerate suffixes (ADVICE r9). Pair them through the
    // symmetric-delete rung instead: ed <= 2 with len(a) < 3 forces
    // len(b) < 5, so EVERY pair touching a short suffix lives inside the
    // len < 5 sub-corpus, and selfJoinSymDeleteK2 over that subset is a
    // hash-partitioned signature equi-join — no driver broadcast, no
    // nested loop, so a corpus DOMINATED by short suffixes (the r10
    // broadcast cross-join's degenerate case, ADVICE r10) degrades to the
    // algorithm DESIGNED for short strings rather than to a quadratic
    // blowup. Deletion signatures on n < 5 cost <= C(4,<=2) = 11 sigs per
    // row, and the subset is empty on well-shaped corpora. Pairs with
    // both sides in [3, 5) are also found by segPairs — same (keys, lev)
    // row, collapsed by the shared min-groupBy below. The channel is fed
    // the ORIGINAL strings filtered on stripped length (r12): symdelete
    // re-strips the sub-corpus's own common prefix (a superset of this
    // one — lev is prefix-invariant either way), and feeding it originals
    // keeps its withLens output full-string lengths.
    val shortAll = selfJoinSymDelete(
      df.filter(length(substring(col(strCol), plen + 1, Int.MaxValue)) < 5),
      keyCol, strCol, 2, blockCols, withLens = withLens || exactlyOnce)
    if (!exactlyOnce) {
      val aggs = min(col("lev")).as("lev") +: (if (!withLens) Nil else
        Seq(min(col("a_len")).as("a_len"), min(col("b_len")).as("b_len")))
      segPairs.union(shortAll)
        .groupBy((bc :+ col("a_key") :+ col("b_key")): _*)
        .agg(aggs.head, aggs.tail: _*)
    } else {
      // Disjoint channels, no aggregate: segPairs holds exactly the pairs
      // with BOTH stripped sides >= 3 (base filters the corpus), so the
      // short channel keeps only pairs touching a sub-3-char suffix
      // (stripped length = full length - plen; symdelete's output is
      // already one row per pair via its own groupBy).
      val outCols = bc ++ Seq(col("a_key"), col("b_key"), col("lev")) ++
        (if (withLens) Seq(col("a_len"), col("b_len")) else Nil)
      val shortOnly = shortAll
        .filter(least(col("a_len"), col("b_len")) - lit(plen) < 3)
        .select(outCols: _*)
      segPairs.union(shortOnly)
    }
  }

  /** Symmetric-delete (SymSpell-style) ed <= k self-join for SHORT strings
    * (public algorithm: Garbe's SymSpell / the k-deletion-neighborhood
    * lemma — if ed(u,v) <= k, deleting <= k chars from each side reaches a
    * common string; take the alignment's matched positions). Every string
    * emits its <= k-deletion neighborhood as xxhash64 signatures —
    * n+1 sigs at k=1, (n+1)(n+2)/2 ≈ 28 sigs for n = 6 at k=2 — and
    * candidates come from a plain equi-join on (blockCols, sig). Hash
    * collisions only ADD candidates (the thresholded levenshtein verify
    * drops them), never lose pairs.
    *
    * Complements PassJoin by data shape: segment candidate generation
    * needs segment entropy (distinctive substrings), which low-alphabet
    * fixed-width keys (digit IDs, zero-padded names) don't have — there
    * PassJoin degrades to near-all-pairs while deletion signatures stay
    * discriminative. Conversely the O(n^k) signature count rules this
    * out for long strings: use it for n up to ~12 (after common-prefix
    * strip), PassJoin beyond — selfJoinAuto encodes exactly that rule as
    * chooseCandidateScheme over the stripped-length stat (r12: the sf100
    * run's one candidate-bound kill was q38's 800k-row nation blocks of
    * sequential digit names collapsing PassJoin segment entropy into
    * ~240B candidates; deletion signatures over the same blocks stay
    * discriminative). No minimum length — works down to n = 0.
    *
    * Same contracts as selfJoinK2: corpus common prefix stripped first
    * (ed(Pu, Pv) = ed(u, v)), `lev` is the full-string distance, the only
    * wide shuffle after the signature join carries (a_key, b_key, lev)
    * ints with map-side partial aggregation. */
  def selfJoinSymDelete(df: DataFrame, keyCol: String, strCol: String,
                        k: Int, blockCols: Seq[String] = Nil,
                        withLens: Boolean = false): DataFrame = {
    require(k == 1 || k == 2, s"symmetric-delete rung supports k in {1,2}, got $k")
    val mm = df.agg(min(col(strCol)).as("mn"), max(col(strCol)).as("mx")).head()
    val plen =
      if (mm.isNullAt(0)) 0
      else mm.getString(0).zip(mm.getString(1)).takeWhile { case (a, b) => a == b }.length
    val bc = blockCols.map(col)
    def withBc(cols: String*): Seq[String] = blockCols ++ cols
    val base = df.select(
      (bc :+ col(keyCol).as("key") :+
        substring(col(strCol), plen + 1, Int.MaxValue).as("str")): _*)
    // Deletion positions i <= j in {0..n} (0 = no deletion), higher
    // position applied first so the lower index is unshifted. The
    // neighborhood is built as ONE array expression per row and
    // array_distinct'ed BEFORE the explode (r12): the i = j > 0 and
    // j = n edge cases emit redundant duplicate signatures — (n+1)(n+2)/2
    // emitted vs 1 + n + C(n,2) distinct, ~18% — and while the verify
    // groupBy collapses the duplicate PAIRS, the duplicate sig rows
    // inflate the candidate shuffle linearly and the candidate stream
    // super-linearly (each bucket's pair count is a product of per-row
    // multiplicities). Map-side distinct costs a ~45-long array per row;
    // at the sf100 shape (15M rows x 45 sigs x 2 sides) it cuts tens of
    // GB of shuffle. k = 1 stops at depth one: an ed<=1 pair reaches a
    // common string after at most one deletion per side (substitution:
    // delete the differing position from both; insert/delete: delete the
    // extra char from the longer side).
    def sigs(keyAs: String, strAs: String) = {
      def d(s: String) =
        s"CASE WHEN j = 0 THEN $s ELSE concat(substr($s, 1, j - 1), substr($s, j + 1)) END"
      val arr =
        if (k == 1)
          s"transform(sequence(0, length(str)), j -> xxhash64(${d("str")}))"
        else
          s"""flatten(transform(sequence(0, length(str)), j ->
             transform(sequence(0, j), i ->
               xxhash64(CASE WHEN i = 0 THEN ${d("str")}
                 ELSE concat(substr(${d("str")}, 1, i - 1),
                             substr(${d("str")}, i + 1)) END))))"""
      base.selectExpr(withBc(s"key AS $keyAs", s"str AS $strAs",
        s"explode(array_distinct($arr)) AS sig"): _*)
    }
    // The candidate join is hinted shuffled-hash (r12): both sides are
    // same-sized exploded signature streams, so sort-merge pays two
    // external sorts of the fattest intermediate in the whole plan (the
    // sf100 run's disk killer — the sorts spilled past the box's free
    // disk) for no benefit; a per-partition hash build is bounded by
    // rows/width and scales with the shuffle-partition count.
    val aggs = min(col("lev")).as("lev") +: (if (!withLens) Nil else Seq(
      min(length(col("a_str")) + lit(plen)).as("a_len"),
      min(length(col("b_str")) + lit(plen)).as("b_len")))
    sigs("a_key", "a_str").hint("shuffle_hash")
      .join(sigs("b_key", "b_str"), blockCols :+ "sig")
      .filter(col("a_key") < col("b_key"))
      .withColumn("lev", levenshtein_k(col("a_str"), col("b_str"), k).cast("long"))
      .filter(col("lev") >= 0)
      .groupBy((bc :+ col("a_key") :+ col("b_key")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The k = 2 form under its original name (q83, selfJoinK2's
    * short-suffix channel, the r11 specs). */
  def selfJoinSymDeleteK2(df: DataFrame, keyCol: String, strCol: String,
                          blockCols: Seq[String] = Nil): DataFrame =
    selfJoinSymDelete(df, keyCol, strCol, 2, blockCols)

  /** Brute-force ed <= k self-join within blocks — the right plan when
    * blocks are SMALL: candidate generation (segment/signature explodes,
    * multi-way shuffles, scalar pre-agg jobs) is pure overhead when
    * n_block² thresholded-levenshtein probes are cheaper than building the
    * index. With blockCols this is a plain equi-join on the block (pairs
    * never cross blocks); with none it is a broadcast nested-loop join —
    * only valid under the auto-selector's row-count ceiling. The banded
    * levenshtein(a, b, k) early-abandons at |Δlen| > k internally; the
    * explicit length pre-filter in the join condition drops those pairs
    * before the string compare. Output schema/values match selfJoinK1/K2
    * exactly (full-string distance, one row per pair). */
  def bruteForceSelfJoin(df: DataFrame, keyCol: String, strCol: String,
                         k: Int, blockCols: Seq[String] = Nil,
                         withLens: Boolean = false): DataFrame = {
    // distinct column names per side: self-join attribute resolution on two
    // frames derived from the same parent is ambiguous otherwise
    val a = df.select((blockCols.map(c => col(c).as(s"__a_$c")) :+
      col(keyCol).as("a_key") :+ col(strCol).as("a_str")): _*)
    val b = df.select((blockCols.map(c => col(c).as(s"__b_$c")) :+
      col(keyCol).as("b_key") :+ col(strCol).as("b_str")): _*)
    val blockPred = blockCols.map(c => col(s"__a_$c") === col(s"__b_$c"))
      .foldLeft(lit(true))(_ && _)
    // The thresholded levenshtein goes in the JOIN CONDITION, authored
    // LAST in the conjunct chain: a post-join .filter gets pushed into
    // the condition anyway, but Catalyst PREPENDS it, putting the
    // expensive predicate ahead of the cheap key/length short-circuits
    // on the n² pair stream. Survivors re-evaluate lev once in the
    // projection (output-sized, negligible).
    val lv = levenshtein_k(col("a_str"), col("b_str"), k)
    a.join(b, blockPred && col("a_key") < col("b_key") &&
        abs(length(col("a_str")) - length(col("b_str"))) <= k && lv >= 0)
      .select((blockCols.map(c => col(s"__a_$c").as(c)) :+
        col("a_key") :+ col("b_key") :+ lv.cast("long").as("lev")) ++
        (if (!withLens) Nil else Seq(length(col("a_str")).as("a_len"),
          length(col("b_str")).as("b_len"))): _*)
  }

  /** Data-shape strategy selection (pure function, unit-tested): brute
    * force wins only while a block's n²/2 banded levenshtein probes cost
    * less than PassJoin's fixed pipeline (scalar prefix-agg job, explode
    * factor, two shuffles). The ceiling is MEASURED, not estimated:
    * at sf0.1 (15k equal-length names, local[32]) brute force runs
    * 9–13 s against PassJoin's 0.2 s warm / 2 s cold — nested-loop pair
    * probing in the JVM costs ~25–50 ns/pair, so the crossover sits
    * near 3k rows (≈4.5M probes ≈ one stage's latency), far lower than
    * probe-cost intuition suggests. Above it, PassJoin's O(n·k) keys
    * win and keep winning forever. */
  val BruteForceMaxBlock = 3000L
  def chooseStrategy(maxBlockRows: Long,
                     threshold: Long = BruteForceMaxBlock): String =
    if (maxBlockRows <= threshold) "brute" else "passjoin"

  /** Candidate-scheme selection past the brute crossover (pure function,
    * unit-tested) — the r12 answer to the sf100 run's one candidate-bound
    * kill (q38): PassJoin's segment equi-join needs SEGMENT ENTROPY, and a
    * short low-alphabet stripped suffix (sequential zero-padded digit IDs)
    * doesn't have it — 800k-row nation blocks of 7-digit suffixes collapse
    * into 2-3-digit segments shared by ~thousands of rows (~240B
    * candidates at sf100, killed at the 100-minute wall in r11). Deletion
    * signatures stay discriminative on exactly that shape, and their
    * O(n^k)-per-row signature cost is bounded precisely because the
    * suffix is short: at the n = 12 ceiling, k=2 emits 91 sigs/row (k=1:
    * 13), and past it PassJoin's fixed 3-9 probes win and keep winning.
    * The driving stat is the MAX stripped-suffix length — a corpus-level
    * scalar (max(length) minus the common-prefix length the join strips
    * anyway), memoizable like every other catalog stat
    * (Tables.cachedStrippedLen). Both schemes are exact (lossless
    * candidate generation + the same thresholded verify), so the
    * crossover only moves time, never values — pinned by the
    * forced-scheme agreement tests. */
  val SymDeleteMaxStrippedLen = 12L
  def chooseCandidateScheme(strippedMaxLen: Long, k: Int,
                            maxLen: Long = SymDeleteMaxStrippedLen): String =
    if (k <= 2 && strippedMaxLen <= maxLen) "symdelete" else "passjoin"

  /** Auto-selecting ed <= k self-join: sizes the largest block and picks
    * brute-force-within-block vs PassJoin per chooseStrategy. Global
    * (no blocks): the row count comes from CATALYST PLAN STATISTICS
    * (rowCount when available, else sizeInBytes over an estimated row
    * width) — no extra job, and exactly how a warehouse engine makes
    * this call; an order-of-magnitude estimate is enough because both
    * paths are correct and the crossover is soft. Blocked: per-block
    * sizes aren't in stats, so one cheap count aggregate — or the caller
    * passes `maxBlockRowsHint` (e.g. table count / block-key cardinality
    * for a uniformly-assigned key, from the cached catalog stat) and no
    * job runs at plan time at all. Past the brute crossover a SECOND
    * stat picks the candidate scheme (chooseCandidateScheme): short
    * stripped suffixes route to deletion signatures, long ones to
    * PassJoin segments — `strippedLenHint` (Tables.cachedStrippedLen)
    * skips the one scalar agg that stat otherwise costs. k = 1 assumes
    * equal-length strings on the PassJoin path (selfJoinK1's contract;
    * the symdelete and brute paths have no such precondition). */
  def selfJoinAuto(df: DataFrame, keyCol: String, strCol: String, k: Int,
                   blockCols: Seq[String] = Nil,
                   threshold: Long = BruteForceMaxBlock,
                   maxBlockRowsHint: Option[Long] = None,
                   strippedLenHint: Option[Long] = None,
                   withLens: Boolean = false): DataFrame = {
    val maxBlock = maxBlockRowsHint.getOrElse {
      if (blockCols.isEmpty) {
        val stats = df.queryExecution.optimizedPlan.stats
        stats.rowCount.map(_.toLong)
          .getOrElse((stats.sizeInBytes / 40).toLong)
      } else df.groupBy(blockCols.map(col): _*).count()
        .agg(max(col("count"))).head().getLong(0)
    }
    chooseStrategy(maxBlock, threshold) match {
      case "brute" =>
        bruteForceSelfJoin(df, keyCol, strCol, k, blockCols, withLens)
      case _ =>
        val strippedLen = strippedLenHint.getOrElse {
          val r = df.agg(min(col(strCol)).as("mn"), max(col(strCol)).as("mx"),
            max(length(col(strCol))).as("ml")).head()
          if (r.isNullAt(0)) 0L
          else {
            val plen = r.getString(0).zip(r.getString(1))
              .takeWhile { case (a, b) => a == b }.length
            r.getInt(2).toLong - plen
          }
        }
        chooseCandidateScheme(strippedLen, k) match {
          case "symdelete" =>
            selfJoinSymDelete(df, keyCol, strCol, k, blockCols, withLens)
          case _ if k <= 1 =>
            selfJoinK1(df, keyCol, strCol, blockCols, withLens)
          case _ => selfJoinK2(df, keyCol, strCol, blockCols, withLens)
        }
    }
  }

  /** Edit-distance self-join over customer names, global — no metadata
    * blocking key (compare q38, which blocks on nation to tame O(n²)).
    * Routed through the auto-selector: at sf0.01 and below (≤1.5k names)
    * it picks the single-stage brute join; at sf0.1's 15k rows the
    * measured crossover (see BruteForceMaxBlock) favors candidate
    * generation — and the candidate scheme is itself stat-selected: the
    * stripped suffix here is a short dense digit string (5 chars at
    * sf0.1, 8 at sf100), so chooseCandidateScheme routes to deletion
    * signatures (r12) — PassJoin's 4-digit half-segments at sf100 take
    * only ~1.5k distinct values over 15M rows (sequential keys put the
    * FIRST half in [0000, 1500]), ~10k-row buckets, ~150B candidates;
    * depth-1 deletion signatures on the same corpus bucket at ~tens. */
  private val q56 = GraftQuery(
    "q56_passjoin_edit_pairs",
    (s, d) => {
      val c = t(s, d, "customer")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("c_custkey"), col("c_name"))
      selfJoinAuto(c, "c_custkey", "c_name", k = 1,
        strippedLenHint = Some(Tables.cachedStrippedLen(s, d, "customer", "c_name")))
        .select(col("a_key"), col("b_key"), col("lev"))
        .orderBy(col("a_key"), col("b_key"))
    },
    Some("""WITH mm AS (SELECT min(c_name) AS mn, max(c_name) AS mx FROM customer),
      pl AS (SELECT coalesce(max(i), 0) AS plen
             FROM mm, range(1, 101) t(i)
             WHERE i <= length(mn)
               AND substr(mn, 1, CAST(i AS INT)) = substr(mx, 1, CAST(i AS INT))),
      base AS (SELECT c_custkey AS key,
                 substr(c_name, (SELECT plen FROM pl) + 1) AS sfx,
                 CAST((length(substr(c_name, (SELECT plen FROM pl) + 1)) + 1) // 2 AS INT) AS s0len
               FROM customer),
      idx AS (SELECT key AS a_key, sfx AS a_sfx, 0 AS seg_idx, substr(sfx, 1, s0len) AS seg FROM base
              UNION ALL
              SELECT key, sfx, 1, substr(sfx, s0len + 1) FROM base),
      probe AS (SELECT DISTINCT * FROM (
              SELECT key AS b_key, sfx AS b_sfx, 0 AS seg_idx, substr(sfx, 1, s0len) AS seg FROM base
              UNION ALL SELECT key, sfx, 0, substr(sfx, 2, s0len) FROM base
              UNION ALL SELECT key, sfx, 1, substr(sfx, s0len + 1) FROM base
              UNION ALL SELECT key, sfx, 1, substr(sfx, s0len) FROM base)),
      cand AS (SELECT DISTINCT a_key, a_sfx, b_key, b_sfx
               FROM idx JOIN probe USING (seg_idx, seg)
               WHERE a_key < b_key)
      SELECT a_key, b_key, CAST(levenshtein(a_sfx, b_sfx) AS BIGINT) AS lev
      FROM cand WHERE levenshtein(a_sfx, b_sfx) <= 1
      ORDER BY a_key, b_key"""))

  /** q56b — the k=2 variable-length PassJoin over part names (multi-word,
    * varied lengths — the title-dedup shape). OUTPUT-BOUND by design: TPC-H
    * part names are drawn from a ~92-word vocabulary, so at sf0.1 ~2.75%
    * of ALL pairs are true ed<=2 matches (5.5M result rows from 20k
    * strings); verification cost tracks the true result size, which no
    * candidate scheme can beat. The plan is scale-clean: segment
    * equi-join, banded thresholded levenshtein map-side, and — r12 —
    * EXACTLY-ONCE emission via the leftmost-witness filter, so the pair
    * stream carries no aggregate at all: the r11-era distinct-pair
    * groupBy materialized ~5.5B pairs of hash state at sf100 and died at
    * the box's 108 GB spill wall; with exactly-once the kernel's only
    * wide shuffles are the signature streams, and an order-insensitive
    * consumer (the order-insensitive sum cell of SUITE_sf100.json)
    * aggregates the pair stream fully map-side. */
  private val q79 = GraftQuery(
    "q79_passjoin_k2_varlen",
    (s, d) => {
      val p = t(s, d, "part")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("p_partkey"), col("p_name"))
      selfJoinK2(p, "p_partkey", "p_name", exactlyOnce = true)
        .select(col("a_key"), col("b_key"), col("lev"))
        .orderBy(col("a_key"), col("b_key"))
    },
    Some("""WITH mm AS (SELECT min(p_name) AS mn, max(p_name) AS mx FROM part),
      pl AS (SELECT coalesce(max(i), 0) AS plen
             FROM mm, range(1, 101) t(i)
             WHERE i <= length(mn)
               AND substr(mn, 1, CAST(i AS INT)) = substr(mx, 1, CAST(i AS INT))),
      base AS (SELECT p_partkey AS key,
                 substr(p_name, (SELECT plen FROM pl) + 1) AS str,
                 length(substr(p_name, (SELECT plen FROM pl) + 1)) AS l
               FROM part
               WHERE length(substr(p_name, (SELECT plen FROM pl) + 1)) >= 3),
      segs AS (SELECT unnest([0, 1, 2]) AS seg_idx),
      idx AS (
        SELECT key AS a_key, str AS a_str, l AS tlen, seg_idx,
          substr(str,
            CASE seg_idx WHEN 0 THEN 1 WHEN 1 THEN 1 + l // 3
                 ELSE 1 + 2 * (l // 3) + CASE WHEN l % 3 = 2 THEN 1 ELSE 0 END END,
            CASE seg_idx WHEN 0 THEN l // 3
                 WHEN 1 THEN l // 3 + CASE WHEN l % 3 = 2 THEN 1 ELSE 0 END
                 ELSE l // 3 + CASE WHEN l % 3 >= 1 THEN 1 ELSE 0 END END) AS seg
        FROM base, segs),
      probe AS (
        SELECT DISTINCT b_key, b_str, tlen, seg_idx, substr(b_str, st, sl) AS seg
        FROM (
          SELECT key AS b_key, str AS b_str, l AS m, l + off AS tlen, seg_idx, delta,
            CASE seg_idx WHEN 0 THEN 1 WHEN 1 THEN 1 + (l + off) // 3
                 ELSE 1 + 2 * ((l + off) // 3)
                      + CASE WHEN (l + off) % 3 = 2 THEN 1 ELSE 0 END END + delta AS st,
            CASE seg_idx WHEN 0 THEN (l + off) // 3
                 WHEN 1 THEN (l + off) // 3 + CASE WHEN (l + off) % 3 = 2 THEN 1 ELSE 0 END
                 ELSE (l + off) // 3 + CASE WHEN (l + off) % 3 >= 1 THEN 1 ELSE 0 END END AS sl
          FROM base,
               (SELECT unnest([-2, -1, 0, 1, 2]) AS off) tl,
               segs,
               (SELECT unnest([-2, -1, 0, 1, 2]) AS delta) dl)
        WHERE tlen >= 3 AND st >= 1 AND st + sl - 1 <= m),
      cand AS (SELECT DISTINCT a_key, a_str, b_key, b_str
               FROM idx JOIN probe USING (seg_idx, tlen, seg)
               WHERE a_key < b_key)
      SELECT a_key, b_key, CAST(levenshtein(a_str, b_str) AS BIGINT) AS lev
      FROM cand WHERE levenshtein(a_str, b_str) <= 2
      ORDER BY a_key, b_key"""))

  /** Symmetric-delete ed<=2 self-join over document "titles" (two leading
    * tokens — the q78 title shape): the sparse-match short-string corpus
    * where deletion-signature candidate generation wins (contrast q38's
    * scaladoc: dense digit IDs defeat it; here candidates track true
    * matches). Oracle is the brute-force O(n²) form — an independent
    * equation feasible only at oracle scale. */
  private val q83 = GraftQuery(
    "q83_symdelete_title_pairs",
    (s, d) => {
      val toks = split(col("text"), " ")
      val titles = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          concat_ws(" ", element_at(toks, 1), element_at(toks, 2)).as("title"))
      selfJoinSymDeleteK2(titles, "doc_id", "title")
        .select(col("a_key"), col("b_key"), col("lev"))
        .orderBy(col("a_key"), col("b_key"))
    },
    Some("""WITH s AS (SELECT doc_id,
        string_split(text, ' ')[1] || ' ' || string_split(text, ' ')[2] AS t
        FROM documents)
      SELECT a.doc_id AS a_key, b.doc_id AS b_key,
        CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE levenshtein(a.t, b.t) <= 2
      ORDER BY a_key, b_key"""))

  val all: Seq[GraftQuery] = Seq(q56, q79, q83)
}
