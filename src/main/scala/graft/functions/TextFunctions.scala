package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization / tokenization primitives, reproducing the reference's
  * word semantics exactly (reference `mapreduce/mapreduce.go:33-36`):
  * whitespace-split → lowercase → trim leading/trailing chars from the set
  * `. , ! ? : ; " '` → drop empties.
  *
  * Everything here is built from `org.apache.spark.sql.functions` — no UDFs —
  * so the whole pipeline stays inside whole-stage codegen.
  */
object TextFunctions {

  /** Exact char set the reference trims (`strings.Trim(word, ".,!?:;\"'")`,
    * reference `mapreduce/mapreduce.go:35`). Interior punctuation is kept.
    */
  val PunctTrimPattern = "^[.,!?:;\"']+|[.,!?:;\"']+$"

  /** Canonical Unicode composition (NFC) — the codegen'd
    * [[UnicodeNormalize]] expression, identity (one allocation-free byte
    * scan) on pure-ASCII text. Applied before every identity-bearing
    * tokenize/shingle below so "café" in NFC and NFD is ONE word and ONE
    * shingle set — without it, mixed-normalization crawl data silently
    * deflates dedup recall and inflates vocabulary counts. The DuckDB
    * oracle mirrors it with its built-in `nfc_normalize`.
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      UnicodeNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** NFKC variant (also folds width/ligature compatibility forms) — for
    * callers wanting the aggressive fold; not on the oracle-checked path
    * (DuckDB has no NFKC builtin to replay).
    */
  def nfkc(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      UnicodeNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(text),
        compatibility = true))

  /** Whitespace tokenization, after [[nfc]] composition. `split` (unlike
    * Go's `strings.Fields`, reference `mapreduce/mapreduce.go:33`) can
    * emit empty tokens on leading/trailing whitespace — the empty filter
    * downstream absorbs the difference (SURVEY §7.3).
    */
  def tokens(text: Column): Column = split(nfc(text), "\\s+")

  /** lowercase then trim-punct, in the reference's order. */
  def normalizeWord(word: Column): Column =
    regexp_replace(lower(word), PunctTrimPattern, "")

  /** Upper bound on tokens a single document contributes to shingling.
    * Without it, shingle row size is linear in document length — one
    * pathological 100 MB document materializes a ~GB-scale array row and
    * OOMs its task. The first 10k tokens are statistically ample identity
    * signal for MinHash/Jaccard dedup (similarity over a 10k-token prefix
    * and over the full text agree on near-duplicate verdicts — near-dups
    * share prefixes too); truncation only widens the (already heuristic)
    * candidate net for megadocs. Mirrored verbatim into the DuckDB oracle
    * shingle CTEs, so changing it here cannot silently desync the two
    * engines.
    */
  val MaxShingleTokens = 10000

  /** Distinct word n-gram "shingles" of a document, for MinHash / Jaccard
    * dedup, over the first [[MaxShingleTokens]] tokens (bounded row size —
    * see there). Empty array when the document has fewer than `n` tokens
    * (guarded: Spark's `sequence(0, negative)` would count *down*).
    *
    * The token array is bound ONCE per row through an outer lambda
    * variable. Referencing the split expression directly inside the inner
    * lambda would re-evaluate it per sequence element — higher-order
    * functions are interpreted, so no common-subexpression elimination
    * applies across the lambda boundary, and a long document would pay
    * tokens × shingles work (measured: a 600k-token document turned into
    * CPU-minutes; with the binding it is milliseconds).
    */
  def shingles(text: Column, n: Int): Column =
    flatten(transform(
      array(slice(split(trim(nfc(text)), "\\s+"), 1, MaxShingleTokens)),
      toks =>
        when(
          size(toks) >= n,
          array_distinct(
            transform(
              sequence(lit(0), size(toks) - n),
              i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
          .otherwise(array().cast("array<string>"))))

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))
}
