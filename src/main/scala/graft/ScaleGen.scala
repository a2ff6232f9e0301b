package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Derive a larger scale factor from an existing harness directory by
  * unioning R key-shifted replicas — the scaling-evidence generator for
  * BASELINE.md (sf0.1 × 10 ≈ sf1). The construction is deliberately NOT
  * verbatim duplication: verbatim copies make every content-keyed
  * operator (MinHash bands, ed-join segments, embedding cosine) go
  * quadratic in the replica count by DATA construction, which would
  * measure the generator, not the plan. Instead each replica is an
  * independent "shard" with the same internal statistics:
  *
  *  - every key column shifts by replica × (max_key + 1), consistently
  *    across fact/dim references (a replica joins within itself);
  *  - TPC-H-derived names regenerate from the shifted key
  *    (Customer#%09d / Supplier#%09d), so string-similarity structure
  *    matches a genuinely bigger table;
  *  - free text (documents.text, p_name) goes through a PER-REPLICA
  *    ALPHABET ROTATION (a Caesar substitution on [a-z], shift =
  *    replica index): edit distance is invariant under any character
  *    bijection applied to both strings, so within-replica
  *    edit/shingle/token structure — lengths, word frequencies, the
  *    whole Zipf profile — is preserved EXACTLY, while cross-replica
  *    strings share no characters, hence no n-gram shingles, no
  *    PassJoin segments, no vocabulary. (A first attempt used
  *    per-word digit prefixes; with 2-word part names that left
  *    mid-word segments identical across replicas and candidate
  *    generation went quasi-quadratic — measured q79 ratio 17× at
  *    10× data, vs ~linear after the substitution. The cipher is the
  *    construction that actually models "ten independent shards".)
  *  - embeddings rotate cyclically by the replica index (norms and
  *    within-replica geometry preserved; cross-replica cosines
  *    decorrelate) and labels shift — more IVF cells, constant cell
  *    size, the way a bigger corpus actually grows;
  *  - region/nation stay fixed: dimensions don't scale with the fact
  *    tables, which is what makes broadcast plans the right answer.
  *
  * Replica 0 is byte-identical to the source, so sf-ratio runs compare
  * a superset, not different data. */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val flags = args.drop(3).toSet
    val unknown = flags -- Set("skew", "affine", "perm")
    // reject typos loudly: a misspelled "affine"/"perm" would silently
    // build a rotation-composed decade — the duplicate-text corpus those
    // modes exist to prevent
    require(unknown.isEmpty, s"unknown ScaleGen flags: $unknown")
    val skew = flags.contains("skew")
    val affine = flags.contains("affine")
    val perm = flags.contains("perm")
    require(!(affine && perm), "affine and perm are exclusive alphabet modes")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = Session.local(cpus, cpus, "graft-gen")
    generate(spark, src, out, reps, skew, affine, perm)
    spark.stop()
  }

  /** With `skew = true`, Zipf-boost ONE key per fact surface on top of the
    * replica construction (VERDICT r6 "Next round" #5 — the uniform
    * replicas are statistics-preserving by design, so no artifact showed a
    * hot key surviving the heavy joins/windows):
    *  - ~5% of ALL orders redirect to one hot customer (o_custkey) — the
    *    q03/q18 join's shuffle key;
    *  - ~5% of ALL lineitems redirect to one hot supplier (l_suppkey) —
    *    q88's star-join shuffle key;
    *  - ~5% of ALL events redirect to one hot user (user_id) — the
    *    q08/q42 window partition key;
    *  - ~1% of documents share ONE hot text per replica (substituted
    *    BEFORE the alphabet rotation, so the hot set is replica-local) —
    *    q34's hottest band cell carries ~50x the typical bucket.
    * Selection is hash-of-own-key deterministic (reproducible, no rand()).
    * Hot targets are the MIN existing key of each dim/domain, so every
    * redirected foreign key still joins. Timing-evidence data only: the
    * redirects change query RESULTS vs the uniform build by construction,
    * so the skew dir never feeds the correctness gate. */
  /** `affine = true` (VERDICT r8 #2 — the second measured decade): swap
    * the Caesar rotation for a per-replica AFFINE substitution
    * c → a·c + b (mod 26), a coprime to 26, (a,b) = (1,0) for replica 0.
    * Needed to COMPOSE scale-ups (sf0.1 →10× sf1 →10× sf10): composing
    * two rotations is a rotation, and with 100 total replicas over only
    * 26 rotation classes the pigeonhole would hand ~4 replicas per
    * class IDENTICAL text multisets — every content-keyed operator then
    * measures the generator's duplicates, not the plan. An affine map
    * composed with a rotation is affine with the SAME a, so giving each
    * second-decade replica a DISTINCT a makes all 100 composed maps
    * pairwise distinct, agreeing on ≤ 2 of 26 characters (two affine
    * maps with different a collide on at most gcd-many points) — no
    * shared shingles, edit structure still preserved exactly (any
    * character bijection is edit-distance-invariant). Embeddings
    * additionally get a per-(replica, dim) SIGN FLIP (a diagonal ±1
    * orthogonal transform: within-replica cosines exact, cross-replica
    * decorrelated even when composed rotation offsets coincide). */
  /** `perm = true` (the THIRD measured decade, sf10 → sf100): swap the
    * structured substitutions for a per-replica SEEDED RANDOM PERMUTATION
    * of [a-z] (rep 0 = identity). Affine maps cannot compose a third
    * decade: the group of affine maps mod 26 has only 12·26 = 312
    * elements, so 1000 composed maps pigeonhole ~4 replicas onto
    * IDENTICAL text multisets. General permutations live in S26 (26! ≈
    * 4·10^26): perm_k ∘ (the 100 pairwise-distinct second-decade maps)
    * stays pairwise distinct for distinct perm_k, and a cross-decade
    * collision requires perm_k' = perm_k ∘ f ∘ g⁻¹ for two specific
    * composed maps f, g — vanishing over a seeded-random draw, and the
    * post-generation distinct-text check (distinct texts == reps ×
    * source's) would catch it. Still a character bijection, so edit
    * structure is exact. Embeddings get the same rotate-by-rep plus a
    * sign flip salted DIFFERENTLY from the affine decade's
    * (hash(rep, pos, 3)): the affine decade's unsalted pattern would make
    * paths (j,k) and (k,j) cancel (s_j ⊕ s_k symmetric) and produce
    * byte-identical vectors whenever rotation sums coincide. */
  def generate(spark: SparkSession, src: String, out: String, reps: Int,
               skew: Boolean = false, affine: Boolean = false,
               perm: Boolean = false): Unit = {
    def rd(name: String): DataFrame = Tables.t(spark, src, name)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    val custS = stride(rd("customer"), "c_custkey")
    val suppS = stride(rd("supplier"), "s_suppkey")
    val partS = stride(rd("part"), "p_partkey")
    val ordS = stride(rd("orders"), "o_orderkey")
    val docS = stride(rd("documents"), "doc_id")
    val vecS = stride(rd("embeddings"), "vec_id")
    val evS = stride(rd("events"), "event_id")
    val userS = rd("events").agg(max(col("user_id"))).head().getLong(0) + 1
    val labelS = rd("embeddings").agg(max(col("label"))).head().getInt(0) + 1

    // replicate: cross with the replica index, apply per-table transforms,
    // conform back to the source schema's exact types
    def replicate(name: String)(tx: DataFrame => DataFrame): Unit = {
      val base = rd(name)
      val schema: StructType = base.schema
      val rep = base.crossJoin(
        spark.range(0, reps).select(col("id").cast("int").as("rep")))
      val built = tx(rep)
      val conformed = built.select(
        schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      conformed.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    def shifted(key: String, s: Long) = col(key) + col("rep") * s
    // skew plumbing: deterministic ~(1/mod) selection by hash of the row's
    // OWN key, redirecting the shifted foreign key to the min existing key
    def minKey(name: String, key: String): Long =
      rd(name).agg(min(col(key)).cast("long")).head().getLong(0)
    def hotOr(on: Boolean, selKey: Column, mod: Int, hot: Long, base: Column) =
      if (!on) base
      else when(pmod(hash(selKey), lit(mod)) === 0, lit(hot)).otherwise(base)
    lazy val hotCust = minKey("customer", "c_custkey")
    lazy val hotSupp = minKey("supplier", "s_suppkey")
    lazy val hotUser = rd("events").agg(min(col("user_id"))).head().getLong(0)
    lazy val hotText = rd("documents").orderBy(col("doc_id")).select(col("text"))
      .head().getString(0)
    // per-replica alphabet substitution on [a-z] (rep 0 = identity, so
    // replica 0 stays byte-identical): rotation for a first-decade
    // build, affine (distinct multiplier per replica) when composing a
    // second decade — see the generate() scaladoc
    require(perm || (if (affine) reps <= 12 else reps <= 26),
      "alphabet substitution supports <= 26 rotation / <= 12 affine replicas")
    val az = "abcdefghijklmnopqrstuvwxyz"
    // multipliers coprime to 26 (13 excluded), identity first
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def subst(i: Int): String =
      if (perm) {
        if (i == 0) az
        // fixed seed per replica: deterministic across runs, and the
        // distinctness require below rejects the (vanishing) draw where
        // two replicas shuffle identically
        else new scala.util.Random(0x5CA1E000L + i)
          .shuffle(az.toSeq).mkString
      } else if (!affine) az.drop(i % 26) + az.take(i % 26)
      else {
        val (a, b) = (coprimes(i), (7 * i) % 26)
        az.map(c => ((a * (c - 'a') + b) % 26 + 'a').toChar).mkString
      }
    require((0 until reps).map(subst).distinct.size == reps,
      "alphabet substitutions must be pairwise distinct")
    def cipher(c: String): org.apache.spark.sql.Column =
      (1 until reps).foldLeft(when(col("rep") === 0, col(c))) { (acc, i) =>
        acc.when(col("rep") === i, translate(col(c), az, subst(i)))
      }.otherwise(col(c))

    // fixed dims: straight copy
    Seq("region", "nation").foreach { n =>
      rd(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    replicate("customer")(df => df
      .withColumn("c_custkey", shifted("c_custkey", custS))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))))
    replicate("supplier")(df => df
      .withColumn("s_suppkey", shifted("s_suppkey", suppS))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))))
    replicate("part")(df => df
      .withColumn("p_partkey", shifted("p_partkey", partS))
      .withColumn("p_name", cipher("p_name")))
    replicate("orders")(df => df
      .withColumn("o_orderkey", shifted("o_orderkey", ordS))
      .withColumn("o_custkey",
        hotOr(skew, col("o_orderkey"), 20, hotCust, shifted("o_custkey", custS))))
    replicate("lineitem")(df => df
      .withColumn("l_orderkey", shifted("l_orderkey", ordS))
      .withColumn("l_partkey", shifted("l_partkey", partS))
      .withColumn("l_suppkey",
        hotOr(skew, col("l_orderkey") * 8 + col("l_linenumber"), 20, hotSupp,
          shifted("l_suppkey", suppS))))
    replicate("events")(df => df
      .withColumn("event_id", shifted("event_id", evS))
      .withColumn("user_id",
        hotOr(skew, col("event_id"), 20, hotUser, shifted("user_id", userS))))
    // cipher preserves lengths, so n_chars carries over unchanged; the hot
    // text substitutes BEFORE the cipher so each replica's hot set shares
    // one (rotated) text — the hottest band cell grows ~50x, cross-replica
    // stays decorrelated
    replicate("documents")(df => df
      .withColumn("doc_id", shifted("doc_id", docS))
      .withColumn("text",
        if (!skew) cipher("text")
        else when(pmod(hash(col("doc_id")), lit(100)) === 0, lit(hotText))
          .otherwise(col("text")))
      .withColumn("text", if (skew) cipher("text") else col("text")))
    replicate("embeddings")(df => df
      .withColumn("vec_id", shifted("vec_id", vecS))
      .withColumn("label", col("label") + col("rep") * labelS)
      .withColumn("embedding", expr(
        """concat(slice(embedding, rep + 1, size(embedding) - rep),
                  slice(embedding, 1, rep))"""))
      .withColumn("embedding",
        if (!affine && !perm) col("embedding")
        // per-(replica, dim) sign flip — orthogonal, so within-replica
        // geometry is EXACT; decorrelates replicas whose composed
        // rotation offsets coincide (rep 0 stays byte-identical). The
        // perm decade salts the hash differently (see scaladoc): reusing
        // the affine decade's pattern would cancel on symmetric paths.
        else when(col("rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, pos) =>
            when(pmod(
              if (perm) hash(col("rep"), pos, lit(3))
              else hash(col("rep"), pos), lit(2)) === 0, x)
              .otherwise(-x)))))
    // perm rides in the provenance line too (ADVICE r9: without it a
    // perm-decade artifact was indistinguishable from a plain rotation)
    println(s"""{"scalegen":"done","src":"$src","out":"$out","reps":$reps,"skew":$skew,"affine":$affine,"perm":$perm}""")
  }
}
