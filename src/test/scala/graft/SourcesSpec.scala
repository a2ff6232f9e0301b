package graft

import org.apache.spark.sql.functions._

/** Source-format coverage beyond the harness parquet (SURVEY S6: the
  * reference reads its user profile from a local JSON file,
  * /root/reference/backend/search.py:64-74; fixture per FIXTURES.md §2.5).
  * Writes temp files — never touches /root/testdata. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("multiLine JSON profile source (S6) with nested arrays") {
    withTempDir("graft_json") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val f = dir.resolve("sample_profile.json")
      java.nio.file.Files.writeString(f,
        """{"reviews": [{"movieTitle": "Stalker", "rating": 5, "text": "..."}],
           |"watched_movies": ["Stalker", "The Bicycle Thief"],
           |"liked_movies": ["Stalker"],
           |"favorite_genres": ["Drama", "Sci-Fi"]}""".stripMargin)
      val profile = spark.read.option("multiLine", true).json(f.toString)
      assert(profile.count() == 1)
      val row = profile.head()
      assert(row.getAs[scala.collection.Seq[String]]("watched_movies").length == 2)
      // the exclusion pattern (movie_generator.py:201-204): watched movies
      // broadcast-anti-joined against a candidate list
      val watched = profile.select(explode(col("watched_movies")).as("title"))
      val candidates = Seq("Stalker", "Heat", "The Bicycle Thief", "Alien")
        .toDF("title")
      val fresh = candidates.join(broadcast(watched), Seq("title"), "left_anti")
      assert(fresh.as[String].collect().toSet == Set("Heat", "Alien"))
    }
  }

  test("CSV source round-trip with schema") {
    withTempDir("graft_csv") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val f = dir.resolve("movies.csv")
      java.nio.file.Files.writeString(f,
        "title,year\nThe Bicycle Thief,1948\nStalker,1979\n")
      val df = spark.read.option("header", true)
        .schema("title STRING, year INT").csv(f.toString)
      assert(df.count() == 2)
      assert(df.filter(col("year") === 1948).head().getAs[String]("title") ==
        "The Bicycle Thief")
    }
  }

  test("schema assertions on the vector tables (S8 analog: the reference's index probe)") {
    // the reference probes its vector index before serving
    // (backend/database.py:28-47); with no external index the engine's
    // equivalent is asserting the embedding table's shape at startup
    import org.apache.spark.sql.types._
    val emb = Tables.t(spark, sf, "embeddings").schema
    assert(emb("vec_id").dataType == LongType)
    assert(emb("embedding").dataType == ArrayType(FloatType))
    assert(emb("label").dataType == IntegerType)
    val ev = Tables.t(spark, sf, "events").schema
    assert(ev("ts").dataType == TimestampType) // nanos loader normalized
    // fixed dimensionality across the table (config.py:15,20 analog)
    val dims = Tables.t(spark, sf, "embeddings")
      .select(size(col("embedding"))).distinct().collect()
    assert(dims.length == 1)
  }

  test("deterministic seeded choice (G2: the reference's random.choice hints)") {
    // seeded/deterministic replacement for random.choice over a literal
    // category list (movie_generator.py:256-268): stable across runs
    val cats = array(Seq("classic", "modern", "indie", "foreign").map(lit): _*)
    val pick = element_at(cats,
      (pmod(hash(col("doc_id")), size(cats)) + 1).cast("int"))
    val a = Tables.t(spark, sf, "documents").select(col("doc_id"), pick.as("hint"))
      .orderBy("doc_id").collect()
    val b = Tables.t(spark, sf, "documents").select(col("doc_id"), pick.as("hint"))
      .orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq) // same plan, same result — no RNG state
    assert(a.map(_.getString(1)).toSet.size > 1) // spreads over categories
  }

  test("partitioned parquet write + partition-pruned read") {
    withTempDir("graft_part") { dir =>
      Tables.t(spark, sf, "documents")
        .write.partitionBy("lang").mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir).filter(col("lang") === "en")
      // partition pruning: only the lang=en directory is scanned
      val scan = back.queryExecution.executedPlan.toString
      assert(back.count() > 0)
      assert(back.select("doc_id").distinct().count() == back.count())
    }
  }

  test("ORC source round-trip with predicate pushdown (second columnar format)") {
    withTempDir("graft_orc") { dir =>
      val docs = Tables.t(spark, sf, "documents")
      docs.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir).filter(col("doc_id") < 100)
        .select("doc_id", "lang")
      assert(back.count() ==
        docs.filter(col("doc_id") < 100).count())
      // the filter reaches the ORC scan (pushdown parity with parquet)
      val f = back.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(f.contains("PushedFilters") && f.contains("LessThan(doc_id"), f)
    }
  }

  test("malformed JSON records are quarantined, not fatal (PERMISSIVE mode)") {
    // at 100 TB some input WILL be corrupt; the pipeline contract is
    // quarantine-and-continue, never job failure or silent drop
    withTempDir("graft_badjson") { dir =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "in.jsonl"),
        """{"id": 1, "v": "ok"}
          |{"id": 2 "v": "missing comma"}
          |{"id": 3, "v": "ok too"}
          |not json at all
          |""".stripMargin)
      val schema = "id LONG, v STRING, _corrupt_record STRING"
      val df = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir).cache() // corrupt-record column requires a materialized scan
      try {
        val good = df.filter(col("_corrupt_record").isNull)
        val bad = df.filter(col("_corrupt_record").isNotNull)
        assert(good.count() == 2 && bad.count() == 2)
        assert(good.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
        // the quarantined rows carry the raw text for replay/debugging
        assert(bad.select("_corrupt_record").collect()
          .forall(r => r.getString(0).nonEmpty))
      } finally df.unpersist()
    }
  }
}
