package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}

/** Declarative reference formulations of the fused text expressions. The
  * specs compare the native forms against these, value for value. */
object DeclarativeTwins {

  /** The declarative form of `TextAnalysis.wordNgrams`. A sub-n document
    * yields the empty set — without the guard, sequence(1, size-(n-1))
    * DESCENDS through 0 and element_at(toks, 0) throws
    * INVALID_INDEX_OF_ZERO, killing the whole query on one short document
    * (the DuckDB twins' `len(toks) >= n` guards produce the same empty
    * set). */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(off => element_at(toks, i + off)): _*))))
      .otherwise(typedLit(Seq.empty[String]))

  /** The declarative form of `TextAnalysis.fingerprints`; the DuckDB
    * oracle twins mirror THIS form. */
  def fingerprints(text: Column, k: Int = 8, modP: Int = 16): Column =
    array_distinct(filter(
      transform(sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
        i => Hashing.h60(text.substr(i, lit(k)))),
      h => pmod(h, lit(modP)) === 0))

  /** The declarative form of `Dedup.simhash` (explode shingle×bit,
    * re-aggregate): the oracle-shaped formulation; 60× row blowup + two
    * shuffles. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, ngram: Int = 2): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val grams = docs
      .filter(size(toks) >= ngram)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.wordNgrams(toks, ngram)).as("g"))
      .withColumn("h", Hashing.h60(col("g")))
    grams
      .withColumn("j", explode(sequence(lit(0), lit(59))))
      .withColumn("w", when(expr("shiftright(h, j) & 1") === 1, 1L).otherwise(-1L))
      .groupBy("id", "j").agg(sum("w").as("sw"))
      .groupBy("id")
      .agg(sum(when(col("sw") >= 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
        .otherwise(0L)).as("simhash"))
  }
}
