package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing and sketch primitives for the
  * large-scale dedup operators (MinHash/LSH, SimHash, fingerprinting).
  *
  * Portability trick: md5 is the one hash both Spark and DuckDB compute
  * identically (Spark's builtin `hash()` is Murmur3 with no DuckDB twin).
  * md5 is also the expensive part, so the K independent MinHash functions
  * come from ONE md5 per shingle via the Carter-Wegman construction
  * h_k(x) = (a + k·b) mod 2^32, where a/b are the two 32-bit halves of
  * md5(x) — the standard multi-hash trick in MinHash implementations.
  * Spark `conv(substr(md5(s),p,8),16,10)` ≡ DuckDB
  * `('0x'||substr(md5(s),p,8))::BIGINT` (verified bit-exact).
  *
  * Both the Spark Column trees and the DuckDB SQL strings are generated
  * from the same constants to prevent drift.
  */
object HashFunctions {

  /** Number of MinHash signatures and LSH banding shape (bands × rows). */
  val NumHashes = 12
  val BandRows = 3
  val NumBands: Int = NumHashes / BandRows // 4
  /** Word-shingle width for MinHash/SimHash (3-word shingles — the harness
    * documents draw from a tiny vocabulary, so 1-grams would collide). */
  val ShingleN = 3
  private val Mod32 = 4294967296L // 2^32

  /** 32-bit unsigned value from 8 hex chars of an md5 string column
    * (1-based pos: 1 = high half, 9 = low half). */
  def hexLong(h: Column, pos: Int): Column =
    conv(substring(h, pos, 8), 16, 10).cast("long")

  def hexLongSql(e: String, pos: Int): String =
    s"('0x' || substr($e, $pos, 8))::BIGINT"

  /** 32-bit unsigned md5-derived hash of a string column (seeded variant,
    * kept for fingerprint-style uses). */
  def md5Int(c: Column, seed: Int): Column =
    hexLong(md5(concat(c, lit("#" + seed))), 1)

  /** Unseeded variant (content fingerprint). */
  def md5Int(c: Column): Column = hexLong(md5(c), 1)

  /** Distinct 3-word shingles of a single-space-tokenized text.
    *
    * Built as zip_with over three aligned slices, NOT as
    * `transform(sequence(...), i => element_at(toks, i)...)`: a non-lambda
    * subexpression captured inside a higher-order-function lambda is
    * re-evaluated on EVERY element, so when `toks` is a computed tree
    * (`split(lower(text))` at most call sites) the element_at form costs
    * O(len) splits per shingle — O(len²) per document, measured 45× on
    * q136's bigram twin before the round-7 fix. Slices evaluate `toks` a
    * constant 3× per row; zip_with then iterates materialized arrays.
    * Output (order included) is identical to the element_at form. */
  def shingles(toks: Column): Column = {
    def sl(start: Int): Column =
      slice(toks, lit(start), size(toks) - (ShingleN - 1))
    when(size(toks) >= ShingleN,
      array_distinct(
        zip_with(
          zip_with(sl(1), sl(2), (a, b) => concat(a, lit(" "), b)),
          sl(3),
          (ab, c) => concat(ab, lit(" "), c))))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB twin: range(1, n) is end-exclusive → 1..n-1. */
  def shinglesSql(toksExpr: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($toksExpr) - ${ShingleN - 1}, 0) + 1), i -> $toksExpr[i] || ' ' || $toksExpr[i+1] || ' ' || $toksExpr[i+2]))"

  /** One md5 per shingle, materialized once; every derived hash below
    * parses halves of these strings instead of re-hashing. */
  def md5List(sh: Column): Column = transform(sh, s => md5(s))

  def md5ListSql(shExpr: String): String =
    s"list_transform($shExpr, s -> md5(s))"

  /** Packed 62-bit shingle hashes: (a mod 2^30)·2^32 + b, where a/b are
    * the md5 halves. One long per shingle — the form worth materializing
    * in a staged sketch pipeline (8 bytes vs a ~30-char shingle string),
    * carrying both the set-identity (jaccard over longs) and the
    * Carter-Wegman inputs (a' = h >> 32, b = h & 0xffffffff). */
  def packedHashes(sh: Column): Column =
    transform(md5List(sh), h =>
      (hexLong(h, 1) % lit(1073741824L)) * lit(Mod32) + hexLong(h, 9))

  def packedHashesSql(shExpr: String): String =
    s"list_transform(${md5ListSql(shExpr)}, h -> ((${hexLongSql("h", 1)} % 1073741824) * $Mod32 + ${hexLongSql("h", 9)}))"

  /** MinHash signature k over packed hashes: min of (a' + k·b) mod 2^32. */
  def minHashPacked(hs: Column, k: Int): Column =
    array_min(transform(hs, x =>
      (shiftrightunsigned(x, 32) + lit(k.toLong) * x.bitwiseAND(lit(4294967295L))) % lit(Mod32)))

  def minHashPackedSql(hsExpr: String, k: Int): String =
    s"list_min(list_transform($hsExpr, x -> (((x >> 32) + $k * (x & 4294967295)) % $Mod32)))"

  /** LSH band key b (0-based): md5 of the band's concatenated signature. */
  def bandKey(mh: Seq[Column], b: Int): Column =
    md5(concat_ws(",", mh.slice(b * BandRows, (b + 1) * BandRows): _*))

  def bandKeySql(mhExprs: Seq[String], b: Int): String = {
    val parts = mhExprs.slice(b * BandRows, (b + 1) * BandRows)
      .map(e => s"CAST($e AS VARCHAR)").mkString(" || ',' || ")
    s"md5($parts)"
  }
}
