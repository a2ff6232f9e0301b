package e2ebench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.functions.expressions.RatcliffObershelp

/** One `search` request: the reference's `POST /api/search` body, with a
  * corpus vector standing in for the embedded query text. `k` is the
  * requested limit before the service clamps it to [1, 100]. */
final case class SearchRequest(id: Int, vecId: Long, k: Int, langs: Seq[String]) {
  def clampedK: Int = math.max(1, math.min(k, 100))
  def render: String = s"$id\t$vecId\t$k\t${langs.mkString(",")}"
}

/** One raw `TITLE:/YEAR:/...` record of an `ingest` batch. `kind` says
  * what the curation pipeline must do with it: keep it (`new`), or drop it
  * as an `exact` or `fuzzy` duplicate of an earlier batch, as `invalid`, or
  * as a `repeat` of a new record in its own batch. `key` is the record's
  * dedup key (lower-cased clean title, year); invalid records have none. */
final case class RawRecord(kind: String, key: Option[(String, Int)], text: String)

/** One `ingest` micro-batch. */
final case class IngestBatch(id: Int, records: Seq[RawRecord]) {
  def newKeys: Seq[(String, Int)] = records.filter(_.kind == "new").flatMap(_.key)
  def rawBytes: Long = records.map(_.text.getBytes("UTF-8").length.toLong).sum
  def render: String = records.map(r => s"$id\t${r.kind}\t${r.text.replace("\n", "|")}").mkString("\n")
}

/** Every item list the benchmark times, derived from the `--seed` argument
  * alone. Each list comes from its own generator (seed mixed with a
  * per-list salt), so changing the length of one list leaves the others
  * byte-identical. */
object Inputs {
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")
  val Limits: Seq[Int] = Seq(5, 10, 20, 50, 100, 500)

  /** The nine registry queries of the `analyze` cycle with their
    * execution-conf tier in `graft.QueryRegistry`. */
  val AnalyzeQueries: Seq[(String, String)] = Seq(
    "q09_ratio_to_total" -> "bounded",
    "q10_minmax_range" -> "bounded",
    "q13_top3_event_types" -> "bounded",
    "q48_group_collect_sorted" -> "fixed",
    "q72_subtopic_groups" -> "fixed",
    "q76_profile_personalized" -> "fixed",
    "q128_kmeans_lloyd_assign" -> "fixed",
    "q106_curation_pipeline_e2e" -> "aqe",
    "q154_pagerank_customer" -> "dynamic")

  /** The tier of an analyze query; None for any other item label. */
  def tierOf(label: String): Option[String] = AnalyzeQueries.toMap.get(label)

  /** Records of each kind in every `ingest` batch. */
  val IngestMix: Seq[(String, Int)] =
    Seq("new" -> 20, "exact" -> 8, "fuzzy" -> 8, "invalid" -> 6, "repeat" -> 6)
  /** Release years of planted titles: seven 10-year corpus buckets. */
  val Years: Range = 1960 to 2029
  /** New titles within a year of each other stay below this
    * Ratcliff/Obershelp ratio, so fuzzy dedup (threshold 0.85) keeps all. */
  val NewTitleMaxRatio = 0.8
  /** Fuzzy duplicates reach at least this ratio against their original. */
  val FuzzyMinRatio = 0.9

  private val Onsets = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "z", "br", "dr", "gr", "kr", "st", "tr", "sh", "th")
  private val Vowels = Seq("a", "e", "i", "o", "u", "ai", "ou", "ea")
  private val Genres = Seq("Drama", "Comedy", "Thriller", "Romance", "Horror",
    "Western", "Animation", "Documentary", "Musical", "Mystery")

  private def rng(seed: Long, salt: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + salt)

  /** `n` requests over vectors `0 until numVectors`; `salt` separates the
    * warm-up list from the timed list. The limits come in seeded
    * permutations of [[Limits]], so every run times the same mix of k. */
  def searchRequests(seed: Long, salt: Long, n: Int, numVectors: Int): Seq[SearchRequest] = {
    val r = rng(seed, salt)
    val ks = Iterator.continually(r.shuffle(Limits)).flatten
    (0 until n).map { i =>
      val vec = r.nextInt(numVectors).toLong
      val k = ks.next()
      // a non-empty language subset, drawn as a 5-bit mask
      val mask = 1 + r.nextInt((1 << Langs.size) - 1)
      val langs = Langs.indices.filter(b => (mask & (1 << b)) != 0).map(Langs)
      SearchRequest(i, vec, k, langs)
    }
  }

  /** `cycles` passes over the queries, each pass in its own seeded
    * order, so no query always runs right after the same neighbour. */
  def analyzeCycle(seed: Long, salt: Long, cycles: Int): Seq[String] = {
    val r = rng(seed, salt)
    (0 until cycles).flatMap(_ => r.shuffle(AnalyzeQueries.map(_._1)))
  }

  /** The kind of an item by its label: `query`, `batch` or `search`. */
  def itemKind(label: String): String =
    if (tierOf(label).isDefined) "query" else if (label.startsWith("batch")) "batch" else "search"

  /** The timed order of a mixed workload: `items` of its base workload and
    * `batches` ingest items, interleaved in seeded order. Each entry is
    * (is a batch, index in its own list). */
  def mixedOrder(seed: Long, items: Int, batches: Int): Seq[(Boolean, Int)] =
    rng(seed, 4).shuffle(Seq.fill(items)(false) ++ Seq.fill(batches)(true))
      .foldLeft((Vector.empty[(Boolean, Int)], 0, 0)) { case ((acc, n, b), isBatch) =>
        if (isBatch) (acc :+ (true -> b), n, b + 1) else (acc :+ (false -> n), n + 1, b)
      }._1

  private def word(r: Random): String =
    (0 until 2 + r.nextInt(2)).map(_ => Onsets(r.nextInt(Onsets.size)) + Vowels(r.nextInt(Vowels.size)))
      .mkString.capitalize

  private def record(title: String, year: Int, r: Random): String =
    s"TITLE: $title\nYEAR: $year\nDIRECTOR: ${word(r)} ${word(r)}\n" +
      s"CAST: ${word(r)} ${word(r)}, ${word(r)} ${word(r)}\n" +
      s"GENRES: ${r.shuffle(Genres).take(1 + r.nextInt(3)).mkString(", ")}\n" +
      s"PLOT: ${(0 until 8).map(_ => word(r).toLowerCase).mkString(" ")}."

  /** The same title as the curation pipeline's cleaning and key
    * normalisation see it: case, padding, inner runs of spaces, markdown
    * emphasis and a list-number prefix all vanish. */
  private def exactVariant(title: String, r: Random): String = r.nextInt(5) match {
    case 0 => title.toUpperCase
    case 1 => title.toLowerCase
    case 2 => "  " + title.replace(" ", "   ") + " "
    case 3 => s"**$title**"
    case _ => s"1. $title"
  }

  /** One letter of `title` replaced by another, away from its ends. */
  private def fuzzyVariant(title: String, r: Random): String = {
    val at = Iterator.continually(2 + r.nextInt(title.length - 4)).find(i => title(i).isLetter).get
    val c = Iterator.continually(('a' + r.nextInt(26)).toChar).find(_ != title(at).toLower).get
    title.updated(at, c)
  }

  /** An invalid record: its title is missing or cleans to nothing. */
  private def invalid(year: Int, r: Random): String = {
    val body = record("x", year, r).linesIterator.drop(1).mkString("\n")
    r.nextInt(3) match {
      case 0 => body
      case 1 => "TITLE: ***\n" + body
      case _ => "TITLE: \"#_#\"\n" + body
    }
  }

  /** `n` micro-batches of raw records for one corpus that starts empty;
    * `salt` separates the lists of different corpora.
    * Each batch holds [[IngestMix]]: new titles, exact and fuzzy
    * duplicates of titles planted by earlier batches, invalid records and
    * repeats of its own new records, in seeded order. The first batch has
    * no history, so its duplicate slots hold new titles instead. A new
    * title is redrawn while it comes within [[NewTitleMaxRatio]] of any
    * earlier new title a year or less apart. */
  def ingestBatches(seed: Long, salt: Long, n: Int): Seq[IngestBatch] = {
    val r = rng(seed, salt)
    val planted = ArrayBuffer.empty[(String, Int)] // (title, year) of every new record so far
    val byYear = scala.collection.mutable.Map.empty[Int, ArrayBuffer[String]]
    def tooClose(key: String, year: Int) =
      (year - 1 to year + 1).exists(y => byYear.getOrElse(y, Nil).exists(t =>
        RatcliffObershelp.ratio(key, t) >= NewTitleMaxRatio))
    def newTitle(): (String, Int) = Iterator.continually {
      (Seq.fill(3)(word(r)).mkString(" "), Years(r.nextInt(Years.size)))
    }.find { case (t, y) => !tooClose(t.toLowerCase, y) }.get

    (0 until n).map { b =>
      val history = planted.toVector
      val mix = IngestMix.toMap
      val dupSlots = if (history.isEmpty) 0 else mix("exact") + mix("fuzzy")
      val fresh = (0 until mix("new") + mix("exact") + mix("fuzzy") - dupSlots).map { _ =>
        val (t, y) = newTitle()
        byYear.getOrElseUpdate(y, ArrayBuffer.empty) += t.toLowerCase
        planted += t -> y
        RawRecord("new", Some(t.toLowerCase -> y), record(t, y, r))
      }
      val dups = if (history.isEmpty) Nil else
        (0 until mix("exact")).map { _ =>
          val (t, y) = history(r.nextInt(history.size))
          RawRecord("exact", Some(t.toLowerCase -> y), record(exactVariant(t, r), y, r))
        } ++ (0 until mix("fuzzy")).map { _ =>
          val (t, y) = history(r.nextInt(history.size))
          val v = fuzzyVariant(t, r)
          val vy = y - 1 + r.nextInt(3)
          RawRecord("fuzzy", Some(v.toLowerCase -> vy), record(v, vy, r))
        }
      val invalids = (0 until mix("invalid")).map(_ =>
        RawRecord("invalid", None, invalid(Years(r.nextInt(Years.size)), r)))
      val freshTitles = planted.takeRight(fresh.size)
      val repeats = (0 until mix("repeat")).map { _ =>
        val (t, y) = freshTitles(r.nextInt(freshTitles.size))
        RawRecord("repeat", Some(t.toLowerCase -> y),
          record(if (r.nextBoolean()) t else exactVariant(t, r), y, r))
      }
      IngestBatch(b, r.shuffle(fresh ++ dups ++ invalids ++ repeats))
    }
  }
}
