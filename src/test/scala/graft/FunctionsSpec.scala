package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.functions.expressions.CosineSimilarity.cosine_native
import graft.functions.expressions.RatcliffObershelp
import graft.functions.expressions.StringRatio.string_ratio
import org.apache.spark.sql.functions._

/** Unit tests for the scalar-function library (SURVEY.md §5 item 2):
  * golden cases for cleaning/parsing/keying (F1-F12) and vector math
  * (F13), including the reference-derived fixtures from FIXTURES.md §2. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: cos(v,v)=1, orthogonal=0, opposite=-1 (FIXTURES §2.3)") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(-1f, -2f))
    ).toDF("a", "b").withColumn("c", cosine(col("a"), col("b")))
    val got = df.select("c").as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
  }

  test("native CosineSimilarity expression is bit-equal to the HOF form") {
    val emb = Tables.t(spark, sf, "embeddings").limit(50)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        cosineHof(col("embedding"), col("qv")).as("hof"),
        cosine_native(col("embedding"), col("qv")).as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"hof=${r.getDouble(0)} native=${r.getDouble(1)}"))
  }

  test("cleanText strips markdown, collapses whitespace, drops list prefix (F1)") {
    val df = Seq(
      "**The  Bicycle   Thief**",
      "1. Drama",
      "  'quoted'  _val_  "
    ).toDF("s").select(cleanText(col("s")).as("c"))
    assert(df.as[String].collect().toSeq ==
      Seq("The Bicycle Thief", "Drama", "quoted val"))
  }

  test("extractYear: extract, clamp to [1900,2030], fallback 2000 (F3/F4)") {
    val df = Seq("c. 1948", "in 2031 somewhere", "1850 old", "none", "1999")
      .toDF("s").select(extractYear(col("s")).as("y"))
    // '2031' fails the (19|20)\d{2}+range gate → 2000; '1850' no match → 2000
    assert(df.as[Int].collect().toSeq == Seq(1948, 2000, 2000, 2000, 1999))
  }

  test("slug matches reference rule (movie_generator.py:384)") {
    val df = Seq("The Bicycle Thief").toDF("t")
      .select(concat_ws("_", slug(col("t")), lit(1948)).as("id"))
    assert(df.as[String].head() == "the_bicycle_thief_1948")
  }

  test("RatcliffObershelp.ratio matches Python difflib exactly") {
    val cases = Seq(
      ("the bicycle thief", "the bicycle thieves", 0.8888888888888888),
      ("the bicycle thief", "the bicycle thief", 1.0),
      ("stalker", "the bicycle thief", 0.25),
      ("abcd", "", 0.0),
      ("", "", 1.0),
      ("kitten", "sitting", 0.6153846153846154),
      ("the godfather", "the godfather part ii", 0.7647058823529411),
      ("heat", "hate", 0.75),
      ("abab", "bababa", 0.8))
    cases.foreach { case (a, b, want) =>
      assert(math.abs(RatcliffObershelp.ratio(a, b) - want) < 1e-12,
        s"ratio($a, $b)")
    }
  }

  test("ratio goldens straddle the 0.7 near-miss debug threshold (q77 band)") {
    // difflib SequenceMatcher(None, a, b, autojunk=False).ratio() values —
    // cases bracketing the reference's relaxed debug threshold
    // (movie_generator.py:644-646: report at > 0.7, dedup at >= 0.85)
    val cases = Seq(
      ("the matrix", "the matrix reloaded", 0.6896551724137931), // below band
      ("stalker", "stoker", 0.7692307692307693),                 // in band
      ("seven", "se7en", 0.8),                                   // in band
      ("amelie", "amelia", 0.8333333333333334),                  // in band
      ("blade runner", "blade runner 2049", 0.8275862068965517), // in band
      ("heat", "heart", 0.8888888888888888),                     // above 0.85
      ("alien", "aliens", 0.9090909090909091),
      ("chinatown", "chinatowns", 0.9473684210526315),
      ("the godfather part ii", "the godfather part iii", 0.9767441860465116))
    cases.foreach { case (a, b, want) =>
      assert(math.abs(RatcliffObershelp.ratio(a, b) - want) < 1e-12,
        s"ratio($a, $b)")
    }
    // band membership as q77/q46 would classify them
    val band = cases.filter { case (_, _, r) => r > 0.7 && r < 0.85 }.map(_._1)
    assert(band == Seq("stalker", "seven", "amelie", "blade runner"))
  }

  test("StringRatio expression evaluates in a plan (codegen path)") {
    val df = Seq(("the bicycle thief", "the bicycle thieves"))
      .toDF("a", "b").select(string_ratio(col("a"), col("b")).as("r"))
    assert(math.abs(df.as[Double].head() - 0.8888888888888888) < 1e-12)
  }

  test("extractYear boundaries are inclusive: 1900 and 2030 pass the gate") {
    val df = Seq("in 1900", "by 2030", "year 1899", "even 2031")
      .toDF("s").select(extractYear(col("s")).as("y"))
    // "1899" never matches (19|20)\d{2} → fallback 2000;
    // "2031" matches the regex but fails the [1900,2030] gate → 2000
    assert(df.as[Int].collect().toSeq == Seq(1900, 2030, 2000, 2000))
  }

  test("cosine of a zero vector is NaN (documented edge, not a crash)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val z = ArrayData.toArrayData(Array(0f, 0f))
    val v = ArrayData.toArrayData(Array(1f, 2f))
    val c = graft.functions.expressions.VectorKernels.cosineF(z, v)
    assert(c.isNaN) // 0-norm → 0/0; callers guard with P6 presence checks
  }

  test("ratio kernel handles unicode and long strings without error") {
    val long = "x" * 500
    assert(RatcliffObershelp.ratio(long, long) == 1.0)
    assert(RatcliffObershelp.ratio("héllo wörld", "héllo wörld") == 1.0)
    val r = RatcliffObershelp.ratio(long, long.dropRight(1) + "y")
    assert(r > 0.99 && r < 1.0)
  }

  test("an exact key has ratio 1.0 and passes 0.85 on every evaluation path") {
    // fuzzy dedup subsumes exact dedup only if identical keys always match
    val keys = Seq("", "the bicycle thief", "héllo wörld — ça va", "東京物語",
      "\uD83C\uDFAC film \uD83D\uDE00", "a" * 300)
    keys.foreach { k =>
      assert(RatcliffObershelp.ratio(k, k) == 1.0, k)
      assert(graft.plans.StringRatioKernels.ratioGte(k, k, 0.85), k)
    }
    // an RDD source keeps the optimizer from evaluating the rows on the driver
    val df = spark.sparkContext.parallelize(keys.map(k => (k, k)), 2).toDF("a", "b")
    for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val ratios = df.select(string_ratio(col("a"), col("b"))).as[Double].collect()
        assert(ratios.toSeq == Seq.fill(keys.size)(1.0), factory)
        val kept = df.filter(string_ratio(col("a"), col("b")) >= 0.85)
        assert(kept.queryExecution.optimizedPlan.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[graft.plans.StringRatioGte]))), "not rewritten")
        assert(kept.count() == keys.size, factory)
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("levRatio normalized similarity (F8 oracle twin)") {
    val df = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(levRatio(col("a"), col("b")).as("r"))
    assert(math.abs(df.as[Double].head() - (1.0 - 3.0 / 7)) < 1e-12)
  }

  test("TokenMetrics kernel matches a naive reference on random token arrays") {
    import graft.functions.expressions.TokenMetrics.token_metrics
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "", "dd", "a") // incl. empty + dup
    val cases = (0 until 200).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.size)))
    } :+ Seq.empty[String] :+ Seq("solo") :+ Seq("x", "x")
    val rows = cases.toDF("tk").select(token_metrics(col("tk")).as("m"))
      .select("m.*").collect()
    cases.zip(rows).foreach { case (tk, r) =>
      val bi = tk.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val tri = tk.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      assert(r.getInt(0) == tk.size, s"n_tokens $tk")
      assert(r.getInt(1) == tk.distinct.size, s"uniq_tokens $tk")
      assert(r.getInt(2) ==
        (if (tk.isEmpty) 0 else tk.groupBy(identity).values.map(_.size).max),
        s"top_token_count $tk")
      assert(r.getInt(3) == tri.distinct.size, s"uniq_trigrams $tk")
      assert(r.getInt(4) ==
        (if (bi.isEmpty) 0 else bi.groupBy(identity).values.map(_.size).max),
        s"top_bigram_count $tk")
    }
  }

  test("LevenshteinBand kernel: exhaustive small-alphabet agreement with full DP") {
    import graft.functions.expressions.LevenshteinBand
    // naive full-matrix DP, thresholded contract: dist if <= k else -1
    def naive(a: String, b: String, k: Int): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      if (d(a.length)(b.length) <= k) d(a.length)(b.length) else -1
    }
    // every pair of strings over {a,b} with length <= 5 (1365^2 ordered
    // pairs incl. empty), at every k the join family uses
    val strs = (0 to 5).flatMap(n =>
      (0 until (1 << n)).map(m =>
        (0 until n).map(i => if ((m >> i & 1) == 1) 'b' else 'a').mkString))
    for (k <- 1 to 3; a <- strs; b <- strs) {
      val got = LevenshteinBand.asciiDist(a.getBytes, b.getBytes, k)
      assert(got == naive(a, b, k), s"asciiDist($a, $b, $k)")
    }
  }

  test("LevenshteinBand kernel: random long strings vs full DP, k=2") {
    import graft.functions.expressions.LevenshteinBand
    def naive(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(79)
    val vocab = "abcdefgh"
    def rs(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString
    (0 until 500).foreach { _ =>
      val a = rs(5 + rnd.nextInt(40))
      // half the cases: b is a small perturbation of a (near the threshold)
      val b =
        if (rnd.nextBoolean()) rs(5 + rnd.nextInt(40))
        else (0 until rnd.nextInt(4)).foldLeft(a) { (s, _) =>
          val p = rnd.nextInt(s.length + 1)
          rnd.nextInt(3) match {
            case 0 => s.patch(p, rs(1), 0)                       // insert
            case 1 if s.nonEmpty => s.patch(p min (s.length - 1), "", 1) // delete
            case _ if s.nonEmpty => s.patch(p min (s.length - 1), rs(1), 1) // subst
            case _ => s
          }
        }
      val want = { val d = naive(a, b); if (d <= 2) d else -1 }
      assert(LevenshteinBand.asciiDist(a.getBytes, b.getBytes, 2) == want,
        s"asciiDist($a, $b, 2)")
    }
  }

  test("levenshtein_k matches the built-in thresholded levenshtein in a plan") {
    import graft.functions.expressions.LevenshteinK.levenshtein_k
    val rnd = new scala.util.Random(56)
    val vocab = "abcde"
    def rs(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString
    val pairs = (0 until 300).map { _ =>
      (rs(rnd.nextInt(15)), rs(rnd.nextInt(15)))
    } ++ Seq( // non-ASCII exercises the fallback path; empty the edges
      ("héllo", "hello"), ("wörld", "world"), ("日本語", "日本誤"),
      ("", ""), ("", "ab"), ("ab", ""), ("héllo", "héllo"))
    for (k <- 1 to 2) {
      val rows = pairs.toDF("a", "b")
        .select(levenshtein(col("a"), col("b"), k).as("builtin"),
          levenshtein_k(col("a"), col("b"), k).as("banded"))
        .collect()
      pairs.zip(rows).foreach { case ((a, b), r) =>
        assert(r.getInt(0) == r.getInt(1), s"k=$k ($a, $b)")
      }
    }
  }

  test("maxElemCount (sorted-run HOF) agrees with TokenMetrics top_token_count") {
    import graft.functions.TextFunctions.maxElemCount
    import graft.functions.expressions.TokenMetrics.token_metrics
    val rnd = new scala.util.Random(7)
    val cases = (0 until 50).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(5).toString)
    }
    val rows = cases.toDF("tk")
      .select(maxElemCount(col("tk")).as("a"),
        token_metrics(col("tk")).getField("top_token_count").as("b"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }
}
