package graft.pipeline

import graft.functions.TextFunctions._
import graft.functions.expressions.StringRatio.string_ratio
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's offline curation pipeline re-expressed as Spark batch
  * dataflow (SURVEY.md §3.3): raw LLM text → parse (F2) → clean (F1) →
  * validate (F3/F4) → exact dedup (U1 anti-join) → fuzzy dedup (J2 band
  * join, Ratcliff/Obershelp ≥ 0.85 within ±1 year) → enrichment shaping →
  * slug/metadata stamp → last-writer-wins merge (S5/W2).
  *
  * Citations into /root/reference/movie_generator.py: parse :340-386,
  * clean :329-338, year validate :353-356,375-377, exact dedup :201-204,
  * fuzzy dedup :83-94 (threshold 0.85 at :83, ±1-year band at :88),
  * enrichment struct :218-221, slug :384, upsert :452-467.
  *
  * Scale design: the exact-dup check is a hash-partitioned left-anti join;
  * the fuzzy check expands each seen year to {y-1, y, y+1} so the ±1-year
  * band becomes an equi-join on the candidate's year and the expensive
  * string ratio only runs within it — never O(n²) across the corpus
  * (SURVEY O7). Exact duplicates are a subset of fuzzy ones (ratio 1.0),
  * so a caller that runs the fuzzy check needs no exact pass before it.
  */
object MoviePipeline {

  /** F2 — parse one raw LLM record blob (TITLE:/YEAR:/DIRECTOR:/CAST:/
    * GENRES:/PLOT: lines) into typed columns. Multiline anchored
    * regexp_extract per field, each value cleaned (F1). */
  def parseRaw(raw: DataFrame, rawCol: String = "raw"): DataFrame = {
    // [ \t]*, not \s*: \s also matches the line break, so a blank field
    // would take the next line ("YEAR: 2001") as its value
    def rawField(name: String) =
      regexp_extract(col(rawCol), s"(?m)^$name:[ \\t]*(.*)$$", 1)
    def field(name: String) = cleanText(rawField(name))
    // per-item clean AFTER the split — the reference cleans each CSV item
    // (movie_generator.py:360-365), so "1. Drama, 2. Comedy" loses both
    // numbered-list prefixes, not just the leading one
    val csvList = (c: Column) =>
      filter(transform(split(c, ","), x => cleanText(x)), x => x =!= "")
    raw
      .withColumn("title", field("TITLE"))
      .withColumn("year", extractYear(rawField("YEAR")))
      .withColumn("director", field("DIRECTOR"))
      .withColumn("cast", csvList(rawField("CAST")))
      .withColumn("genres", csvList(rawField("GENRES")))
      .withColumn("plot", field("PLOT"))
  }

  /** Validation guards (movie_generator.py:370-377): reject rows without a
    * usable title; year already clamped by extractYear. */
  def validate(parsed: DataFrame): DataFrame =
    parsed.filter(col("title").isNotNull && col("title") =!= "")

  /** Enrichment shaping + metadata stamp (movie_generator.py:215-221,
    * 379-384): description = plot, structured_enrichment.themes =
    * genres[:3], slug id, processing_status, created_at. */
  def enrich(validated: DataFrame): DataFrame =
    validated
      .withColumn("description", col("plot"))
      .withColumn("structured_enrichment", struct(
        slice(col("genres"), 1, 3).as("themes"),
        concat_ws(" ", lit("themes:"), concat_ws(", ", slice(col("genres"), 1, 3)))
          .as("significance")))
      .withColumn("id", concat_ws("_", slug(col("title")), col("year")))
      .withColumn("processing_status", lit("llm_generated"))
      .withColumn("created_at", current_timestamp())

  /** U1 — exact-key dedup: drop candidates whose (lower(trim(title)), year)
    * already exists in `seen` (movie_generator.py:201-204). Left-anti
    * hash join; `seen` is typically small enough to broadcast (O6). */
  def dedupExact(candidates: DataFrame, seen: DataFrame): DataFrame = {
    val seenKeys = broadcast(
      seen.select(normKey(col("title")).as("k"), col("year")).distinct())
    candidates
      .withColumn("k", normKey(col("title")))
      .join(seenKeys, Seq("k", "year"), "left_anti")
      .drop("k")
  }

  /** J2 — fuzzy band-join dedup: candidate is a dup iff some seen movie has
    * |Δyear| <= 1 AND ratio(titles) >= 0.85 (movie_generator.py:83-94).
    * The ±1 band becomes an equi-join: each seen year is expanded to
    * {y-1, y, y+1} and joined on the candidate's year, so the string ratio
    * only runs within a year's band, and one left-anti join drops the dups
    * (GraftExtensions rewrites the ratio condition to its bounded form).
    * Every exact (normKey, year) duplicate is also a fuzzy one: identical
    * keys have ratio 1.0, so this alone subsumes [[dedupExact]]. */
  def dedupFuzzy(candidates: DataFrame, seen: DataFrame,
                 threshold: Double = 0.85): DataFrame = {
    val band = seen.select(normKey(col("title")).as("sk"),
      explode(array(col("year") - 1, col("year"), col("year") + 1)).as("s_year"))
    candidates.join(band,
      col("year") === col("s_year") &&
        string_ratio(normKey(col("title")), col("sk")) >= threshold,
      "left_anti")
  }

  /** S5/W2 — last-writer-wins on the business key (title_norm, year)
    * (movie_generator.py:452-467): keep the newest row per key by
    * created_at. Batch analog of MERGE; at scale this is one
    * hash-partitioned window over the key. `within` adds window keys that
    * are functions of the business key, so they change no result; rows
    * already hash-partitioned by them need no exchange for the window. */
  def mergeUpsert(rows: DataFrame, within: Column*): DataFrame = {
    val w = Window.partitionBy(within ++ Seq(normKey(col("title")), col("year")): _*)
      .orderBy(col("created_at").desc)
    rows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
