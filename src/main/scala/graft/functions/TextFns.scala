package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (SURVEY.md §2 B9). Everything here is builtin Catalyst expressions —
  * higher-order array functions, no UDFs — so the whole pipeline stays
  * inside whole-stage codegen and survives predicate pushdown.
  */
object TextFns {

  /** Whitespace tokenizer; leading/trailing space safe. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Canonical normalization for exact dedup: collapse runs of whitespace,
    * trim, lowercase. (DuckDB mirror: lower(trim(regexp_replace(x, '\s+',
    * ' ', 'g'))).) */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Distinct word 3-gram shingles of a text column — the unit of the
    * near-dup Jaccard (SURVEY.md §2 B9). Docs with < 3 tokens get an empty
    * set. Since r6 this is a native codegen'd kernel
    * (org.apache.spark.sql.graft.Shingles3): the HOF formulation, though
    * already the fast HOF shape, still ran its lambdas interpreted —
    * ~0.5 ms/doc, the dominant cost of every near-dup query. It is kept in
    * the tests (InterpretedTwins) as LlmPackSpec's parity pin. */
  def shingles3(text: Column): Column =
    org.apache.spark.sql.graft.TextExprs.shingles3(text)

  /** Distinct word n-gram shingles — the generalized sibling of
    * [[shingles3]] (native ShinglesN kernel; q_span_dedup uses n=5). */
  def shinglesN(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextExprs.shinglesN(text, n)

  /** Exact Jaccard similarity of two set-valued (distinct-element) array
    * columns, as double. int/int sizes → one IEEE division, deterministic
    * cross-engine. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Sum of element lengths of a string-array column (total token chars). */
  def totalLen(arr: Column): Column =
    aggregate(arr, lit(0), (acc, x) => acc + length(x))

  /** GPT-2-style pre-tokenization: letter runs, digit runs, or single
    * non-alnum marks — the unit a BPE tokenizer would merge from. Same
    * regex runs on the DuckDB side (`regexp_extract_all`). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

}
