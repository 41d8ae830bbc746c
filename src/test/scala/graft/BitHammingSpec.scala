package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The multi-index Hamming join's completeness and its two cost paths,
  * against an all-pairs scan that counts differing characters of the
  * bit-string simhashes with builtin expressions only. */
class BitHammingSpec extends SparkSpec {

  /** Pairs (doc_a < doc_b) within distance 2 by brute force. */
  private def brutePairs(sim: DataFrame): Set[(Long, Long)] =
    sim.as("a").crossJoin(sim.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("h", expr("size(filter(sequence(1, length(a.simhash)), " +
        "i -> substr(a.simhash, i, 1) != substr(b.simhash, i, 1)))"))
      .filter(col("h") <= 2)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-index Hamming join finds every pair the brute force finds") {
    // pigeonhole completeness: chunked candidates must cover all pairs with
    // distance <= 2 found by an all-pairs scan over the same simhashes
    val near = extensions.Text.dedupSimhashNear(ctx)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = brutePairs(extensions.Text.dedupSimhash(ctx).select("doc_id", "simhash"))
    assert(near == brute, s"multi-index missed ${(brute -- near).size} pairs")
  }

  test("cost-based path choice: flip path and chunk path agree exactly") {
    // dedupSimhashNear picks chunk-join vs meet-in-the-middle from the
    // measured candidate mass; both must be EXACT, so forcing each via the
    // threshold conf must yield the same (doc_a, doc_b, hamming) set
    def pairs() = extensions.Text.dedupSimhashNear(ctx)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val key = "spark.graft.simhash.maxChunkPairs"
    spark.conf.set(key, Long.MaxValue.toString) // mass never exceeds: chunk join
    val chunk = pairs()
    spark.conf.set(key, "0")                    // mass always exceeds: flip path
    val flip =
      try pairs()
      finally spark.conf.unset(key)
    assert(flip == chunk,
      s"path disagreement: flip-only ${(flip -- chunk).size}, chunk-only ${(chunk -- flip).size}")
  }
}
