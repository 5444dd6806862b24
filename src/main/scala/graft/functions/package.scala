package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge

/** Column-level API for the graft function surface.
  *
  * `import graft.functions._` and use like any `org.apache.spark.sql.functions`
  * member: `df.filter(wratio($"a", $"b") >= 85)`.
  */
package object functions {

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private[graft] def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** rapidfuzz `fuzz.ratio` (normalized Indel similarity × 100). */
  def fuzz_ratio(a: Column, b: Column): Column = col(FuzzRatio(expr(a), expr(b)))

  /** rapidfuzz `fuzz.partial_ratio`. */
  def partial_ratio(a: Column, b: Column): Column = col(PartialRatio(expr(a), expr(b)))

  /** rapidfuzz `fuzz.token_sort_ratio`. */
  def token_sort_ratio(a: Column, b: Column): Column = col(TokenSortRatio(expr(a), expr(b)))

  /** rapidfuzz `fuzz.token_set_ratio` — the reference's blocking scorer. */
  def token_set_ratio(a: Column, b: Column): Column = col(TokenSetRatio(expr(a), expr(b)))

  /** rapidfuzz `fuzz.WRatio` — the reference's exact scorer. */
  def wratio(a: Column, b: Column): Column = col(WRatio(expr(a), expr(b)))

  /** Reference `normalize_title` as a native expression. */
  def normalize_title(c: Column): Column = col(NormalizeTitle(expr(c)))

  /** Hashed-bag linear classifier score, integer-quantized weights
    * (fastText shape; see [[TextKernel.linearTextScore]]). */
  def linear_text_score(text: Column, weights: Array[Int]): Column =
    col(LinearTextScore(expr(text), weights))

  /** Deterministic BPE token count under the fixed public merge table
    * (see [[BpeKernel.tokenCount]]) — the model-tokenizer-shaped
    * denominator for packing / budget sampling / data cards. */
  def bpe_token_count(text: Column): Column = col(BpeTokenCount(expr(text)))

  /** Distinct n-grams of the BPE TOKEN sequence (windows cross word
    * boundaries — see [[BpeKernel.shingles]]): the tokenizer-denominated
    * gram column for decontamination / overlap operators. */
  def bpe_shingles(text: Column, n: Int): Column =
    col(BpeShingles(expr(text), n))

  /** Distinct word n-gram shingles, single compiled pass (see [[TextKernel]]). */
  def word_shingles(text: Column, n: Int): Column = col(WordShingles(expr(text), n))

  /** ALL word n-gram occurrences in position order (see
    * [[TextKernel.wordShinglesAll]]). */
  def word_shingles_all(text: Column, n: Int): Column =
    col(WordShinglesAll(expr(text), n))

  /** Distinct character q-grams, single compiled pass. */
  def char_ngrams(text: Column, q: Int): Column = col(CharNgrams(expr(text), q))

  /** k-slot MinHash signature of a shingle array, single pass. */
  def minhash_sig(sh: Column, k: Int): Column = col(MinHashSig(expr(sh), k))

  /** 64-bit SimHash of a shingle array, single pass. */
  def simhash64(sh: Column): Column = col(SimHash64(expr(sh)))
}
