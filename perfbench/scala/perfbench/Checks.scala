package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Output checks. Each returns `None` when the output is right and
  * `Some(reason)` when it is not; the self-test feeds each one a
  * deliberately wrong output to show that it rejects it. */
object Checks {

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.sorted.map(col): _*)

  /** Order-independent checksum `rows:sum`: the row count and the sum of
    * per-row `xxhash64` over the columns in name order. */
  def checksum(df: DataFrame): String = {
    val r = df.select(rowHash(df).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** Write `df` through `noop` and return its [[checksum]], observed on the
    * same job (the output is computed once). */
  def noopChecksum(df: DataFrame): String = {
    val obs = Observation(s"checksum-${System.nanoTime()}")
    df.observe(obs, count(lit(1)).as("n"),
        sum(rowHash(df).cast("decimal(38,0)")).as("h"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    s"${m("n")}:${Option(m("h")).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** The table after one refresh round: `expected` rows with unique keys,
    * and every changed doc (`changed`: doc_id → n_tok) present at its new
    * version and equal, by row hash over all columns, to `direct`: the same
    * docs run through the pipeline directly. Only the key column of the
    * whole table is read; the changed rows are hashed on their own. */
  def refreshed(table: DataFrame, expected: Long, changed: Map[String, Int],
                direct: DataFrame): Option[String] = {
    if (!(table.columns.sorted sameElements direct.columns.sorted))
      return Some("table and direct pipeline columns differ")
    def hashes(df: DataFrame) =
      df.select(col("doc_id"), col("n_tok"), rowHash(df).as("h")).collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    // three independent jobs, submitted side by side
    val ids = changed.keys.toSeq
    val keysF = Future(keysUnique(table, "doc_id", expected))
    val gotF = Future(hashes(table.filter(col("doc_id").isin(ids: _*))))
    val want = hashes(direct)
    val got = Await.result(gotF, Duration.Inf)
    val keys = Await.result(keysF, Duration.Inf)
    val bad = changed.count { case (id, tok) =>
      !got.get(id).exists(g => g._1 == tok && want.get(id).contains(g))
    }
    keys.orElse(
      if (bad == 0) None
      else Some(s"${changed.size} changed docs: ${got.size} present, $bad not " +
        "at the new version or not equal to the direct pipeline"))
  }

  /** `table` holds exactly `expected` rows, one per key. */
  def keysUnique(table: DataFrame, key: String, expected: Long): Option[String] = {
    val r = table.agg(count(lit(1)), countDistinct(col(key))).head()
    val (n, d) = (r.getLong(0), r.getLong(1))
    if (n != expected || d != n)
      Some(s"expected $expected rows with unique $key, got $n rows, $d keys")
    else None
  }

  /** `tokens` of `table` equal the corpus tokens on every row, and both hold
    * the same keys. */
  def tokensEqual(table: DataFrame, corpus: DataFrame): Option[String] = {
    val bad = table.select(col("doc_id"), col("tokens").as("t_sink"))
      .join(corpus.select(col("doc_id"), col("tokens").as("t_src")),
        Seq("doc_id"), "full_outer")
      .filter(!(col("t_sink") <=> col("t_src")))
      .count()
    if (bad != 0) Some(s"$bad rows differ from the corpus tokens") else None
  }

  /** Same rows, column for column (multiset equality, both directions). */
  def sameRows(what: String, a: DataFrame, b: DataFrame): Option[String] = {
    val cols = a.columns.sorted
    if (!(cols sameElements b.columns.sorted))
      return Some(s"$what: columns differ")
    // each side is evaluated once
    val x = a.select(cols.map(col): _*).localCheckpoint()
    val y = b.select(cols.map(col): _*).localCheckpoint()
    val n1 = x.exceptAll(y).count()
    val n2 = y.exceptAll(x).count()
    if (n1 + n2 != 0) Some(s"$what: $n1 rows only left, $n2 rows only right")
    else None
  }

  def checksumMatches(what: String, got: String, want: Option[String]): Option[String] =
    want match {
      case None => Some(s"$what: no expected checksum recorded")
      case Some(w) if w != got => Some(s"$what: checksum $got, expected $w")
      case _ => None
    }
}
