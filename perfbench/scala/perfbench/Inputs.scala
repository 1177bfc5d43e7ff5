package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every table is written under the run's own
  * work directory.
  *
  * The token corpora follow graft's token model: a `documents` table of
  * `(doc_id, n_chars, source)` rows from which `graft_gen_tokens` derives
  * each document's tokens. `n_chars` cycles through the lengths of the
  * sf0.1 documents in `perfbench/data` and depends only on the row index,
  * so every seed yields the same token count (the same work); the seed
  * moves the doc ids, which changes every document's token content. */
object Inputs {

  /** SplitMix64 finaliser: a fixed, platform-independent integer hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Non-negative hash of `(a, b)` below `m`. */
  private def pick(a: Long, b: Long, m: Long): Long =
    java.lang.Math.floorMod(mix(mix(a) ^ b), m)

  /** `n_chars` of the sf0.1 documents in `dir`, in doc-id order. */
  def lengths(spark: SparkSession, dir: String): IndexedSeq[Long] =
    spark.read.parquet(s"$dir/documents.parquet").orderBy("doc_id")
      .select("n_chars").collect().map(_.getLong(0)).toIndexedSeq

  /** First doc id for `seed`. Ids stay below 10^6: graft formats them
    * with six digits. `room` ids above the offset stay free for new docs. */
  private def docIdOffset(seed: Long, room: Int): Long =
    pick(seed, 0x5eedL, 1000000L - room)

  final case class Doc(docId: Long, nChars: Long, source: String)

  def tokenDocs(seed: Long, n: Int, lengths: IndexedSeq[Long]): IndexedSeq[Doc] = {
    val off = docIdOffset(seed, 4 * n)
    (0 until n).map(i => Doc(off + i, lengths(i % lengths.size), s"src${i % 20}"))
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Write `docs` as `dir/documents.parquet` (one file, like the reference
    * tables). */
  def writeTokenDocs(spark: SparkSession, dir: String, docs: Seq[Doc]): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          docs.map(d => Row(d.docId, d.nChars, d.source)), 1),
        docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
}
