package graft

import graft.pipeline.MoviePipeline
import org.apache.spark.sql.functions._

/** End-to-end tests of the curation pipeline (SURVEY.md §3.3) against the
  * reference-derived golden fixtures in FIXTURES.md §2.1/§2.2 — including
  * the reference's own example record (movie_generator.py:294-300). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val bicycleThief =
    """TITLE: The Bicycle Thief
      |YEAR: 1948
      |DIRECTOR: Vittorio De Sica
      |CAST: Lamberto Maggiorani, Enzo Staiola, Lianella Carell, Gino Saltamerenda
      |GENRES: Drama, Neorealism, Italian Cinema
      |PLOT: A poor man searches Rome for his stolen bicycle without which he will lose his job.""".stripMargin

  test("parse the reference's example record (FIXTURES §2.1)") {
    val row = MoviePipeline.enrich(MoviePipeline.validate(
      MoviePipeline.parseRaw(Seq(bicycleThief).toDF("raw")))).head()
    assert(row.getAs[String]("title") == "The Bicycle Thief")
    assert(row.getAs[Int]("year") == 1948)
    assert(row.getAs[String]("director") == "Vittorio De Sica")
    assert(row.getAs[scala.collection.Seq[String]]("cast").length == 4)
    assert(row.getAs[scala.collection.Seq[String]]("genres") ==
      scala.collection.Seq("Drama", "Neorealism", "Italian Cinema"))
    assert(row.getAs[String]("id") == "the_bicycle_thief_1948")
    val se = row.getAs[org.apache.spark.sql.Row]("structured_enrichment")
    assert(se.getAs[scala.collection.Seq[String]]("themes") ==
      scala.collection.Seq("Drama", "Neorealism", "Italian Cinema")) // genres[:3]
  }

  test("adversarial parse variants: markdown, numbered lists, bad years") {
    val raw = Seq(
      "TITLE: **Wild  Title**\nYEAR: c. 1972\nGENRES: 1. Drama, 2. Comedy\nPLOT: x",
      "TITLE: Future Film\nYEAR: 2031\nPLOT: y",      // out of range → 2000
      "YEAR: 1980\nPLOT: no title line"                // rejected
    ).toDF("raw")
    val parsed = MoviePipeline.validate(MoviePipeline.parseRaw(raw))
      .orderBy("title")
    val rows = parsed.collect()
    assert(rows.length == 2) // titleless row dropped
    val future = rows(0)
    assert(future.getAs[String]("title") == "Future Film")
    assert(future.getAs[Int]("year") == 2000)
    val wild = rows(1)
    assert(wild.getAs[String]("title") == "Wild Title")
    assert(wild.getAs[Int]("year") == 1972)
    assert(wild.getAs[scala.collection.Seq[String]]("genres") == scala.collection.Seq("Drama", "Comedy"))
  }

  test("a blank field never takes the next line as its value") {
    val raw = Seq(
      "TITLE:\nYEAR: 2001\nPLOT: blank title",                      // rejected
      "TITLE: Cast Away\nYEAR: 2000\nCAST: \t\nGENRES: Drama, Adventure\nPLOT: x"
    ).toDF("raw")
    val rows = MoviePipeline.validate(MoviePipeline.parseRaw(raw)).collect()
    assert(rows.map(_.getAs[String]("title")).toSeq == Seq("Cast Away"))
    assert(rows(0).getAs[scala.collection.Seq[String]]("cast").isEmpty)
    assert(rows(0).getAs[scala.collection.Seq[String]]("genres") ==
      scala.collection.Seq("Drama", "Adventure"))
  }

  private val seen = Seq(("the bicycle thief", 1948)).toDF("title", "year")

  test("dedup fixtures from FIXTURES.md §2.2") {
    val candidates = Seq(
      ("the bicycle thief", 1948),   // exact dup
      ("The Bicycle Thieves", 1948), // fuzzy dup (ratio .889, Δ0)
      ("The Bicycle Thief", 1949),   // fuzzy dup (±1 band)
      ("The Bicycle Thief", 1950),   // NOT dup (outside band)
      ("Stalker", 1979)              // NOT dup (low ratio)
    ).toDF("title", "year")
    val afterExact = MoviePipeline.dedupExact(candidates, seen)
    assert(afterExact.count() == 4) // exact dup dropped
    val afterFuzzy = MoviePipeline.dedupFuzzy(afterExact, seen)
    val kept = afterFuzzy.select("title", "year").as[(String, Int)]
      .collect().toSet
    assert(kept == Set(("The Bicycle Thief", 1950), ("Stalker", 1979)))
    // an exact duplicate is also a fuzzy one: the fuzzy pass alone agrees
    assert(MoviePipeline.dedupFuzzy(candidates, seen).select("title", "year")
      .as[(String, Int)].collect().toSet == kept)
  }

  test("typed Dataset[Movie] round-trip preserves parsed fields") {
    val parsed = MoviePipeline.enrich(MoviePipeline.validate(
      MoviePipeline.parseRaw(Seq(bicycleThief).toDF("raw"))))
    val movies = graft.pipeline.Movie.typed(parsed).collect()
    assert(movies.length == 1)
    val m = movies.head
    assert(m.title == "The Bicycle Thief" && m.year == 1948)
    assert(m.id == "the_bicycle_thief_1948")
    assert(m.structured_enrichment.get.themes ==
      Seq("Drama", "Neorealism", "Italian Cinema"))
  }

  test("typed TotalCost aggregator equals the column-arithmetic cost (A7/F11)") {
    import graft.pipeline.CostModel
    val docs = Tables.t(spark, sf, "documents")
    val viaAggregator = docs.select(col("n_chars").as[Long])
      .select(CostModel.TotalCost.toColumn).head()
    val viaColumns = docs
      .agg((sum(CostModel.costNanos(col("n_chars"))) / lit(1e9)).as("c"))
      .head().getDouble(0)
    assert(viaAggregator == viaColumns)
    assert(viaAggregator > 0.0)
  }

  test("mergeUpsert keeps the newest row per (title_norm, year) (S5/W2)") {
    val old = Seq(("The Bicycle Thief", 1948, "old", "2020-01-01 00:00:00"))
      .toDF("title", "year", "version", "created_at")
      .withColumn("created_at", col("created_at").cast("timestamp"))
    val incoming = Seq(
      ("the bicycle thief", 1948, "new", "2021-01-01 00:00:00"),
      ("Stalker", 1979, "new", "2021-01-01 00:00:00"))
      .toDF("title", "year", "version", "created_at")
      .withColumn("created_at", col("created_at").cast("timestamp"))
    val merged = MoviePipeline.mergeUpsert(old.unionByName(incoming))
    assert(merged.count() == 2)
    val versions = merged.select("version").as[String].collect().toSeq
    assert(versions.forall(_ == "new")) // last writer won on the dup key
  }
}
