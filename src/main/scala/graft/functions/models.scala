package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution

/** The driver-side model path shared by the operators that count a
  * model-sized aggregate, close it on the driver and score the corpus with
  * it in one native kernel: the bigram LM ([[graft.ops.LanguageModel]]),
  * Naive Bayes ([[graft.ops.NaiveBayes]]), PQ / IVF assignment
  * ([[graft.ops.Similarity]]) and the unigram segmenter
  * ([[graft.ops.Tokenizer]]).
  *
  *  - [[microNat]] is Spark's `round(x)` on a double, exactly, without a
  *    `BigDecimal` per value.
  *  - [[foldRows]] runs the aggregate once and hands its rows to a fold
  *    that writes primitive arrays: no external `Row` and no boxed value
  *    per model entry.
  *  - [[kernel]] hands the model to the kernel by reference: the
  *    expression holds a `Broadcast` field, so the model is neither a plan
  *    literal (printed into every plan description and shipped with every
  *    task) nor looked up in a registry that a new analysis of the plan
  *    could outlive.
  */
object models {

  private val TwoTo52 = 4503599627370496.0

  /** Spark's `round(x)` for a double, as a BIGINT: `BigDecimal.valueOf(x)`
    * (the shortest decimal string of `x`) rounded HALF_UP — the oracle-
    * pinned micro-nat quantization, `CAST(round(v) AS BIGINT)`.
    *
    * Below 2^52 the fractional part `|x| − floor(|x|)` is exact, and the
    * decimal string lies within half an ulp of `x`, so away from a .5 tie
    * both round to the same integer; values within a few ulps of a tie,
    * larger magnitudes and non-finite values take the `BigDecimal` path.
    * Bitwise equal to the `BigDecimal` form on every input (PropertySpec). */
  def microNat(x: Double): Long = {
    val a = math.abs(x)
    if (a < TwoTo52) {
      val n = math.floor(a)
      val frac = a - n
      if (math.abs(frac - 0.5) > 4 * math.ulp(a)) {
        val r = (if (frac > 0.5) n + 1 else n).toLong
        return if (x < 0) -r else r
      }
    }
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
  }

  /** Run the model-sized aggregate `df` once — one SQL execution named
    * `collect`, the plan and stages `df.collect()` runs — and fold its
    * result rows, in order, into `f`. The rows are Spark's internal
    * (unsafe) rows, dropped after the fold; `f` reads them with the typed
    * getters (`getLong`, `getUTF8String`, `getArray`, …). */
  def foldRows(df: DataFrame)(f: InternalRow => Unit): Unit = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.executeCollect()
    }
    var i = 0
    while (i < rows.length) { f(rows(i)); rows(i) = null; i += 1 }
  }

  /** A native kernel over `input`, built by `make` from the input's
    * (unresolved) expression; the kernel takes its model as a field. */
  def kernel(input: Column)(make: Expression => Expression): Column =
    GraftColumns.column(make(GraftColumns.expression(input)))
}
