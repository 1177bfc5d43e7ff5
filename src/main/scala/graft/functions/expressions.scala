package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-token hot loops.
  *
  * == Why not higher-order functions ==
  * Spark's `transform`/`aggregate` HOFs are `CodegenFallback` expressions
  * that dispatch a lambda through `NamedLambdaVariable` per element — ~µs
  * per step. The framing fold touches every token (10^12 × 8k at target
  * scale); measured locally the HOF version spent 75 s on 500 docs. These
  * expressions replace the inner loops with primitive-array passes over
  * `ArrayData` (no boxing, no lambda dispatch) — same semantics, ~1000×
  * less per-element overhead. They are still `CodegenFallback` at the
  * *expression* level (one virtual call per row, amortized over the whole
  * per-entity array), which keeps the surrounding projection simple while
  * the inner loop stays tight JIT-compiled Scala.
  *
  * Determinism: every loop is an ascending sequential pass, matching the
  * DuckDB oracle mirrors in [[Stats]]/[[graft.core.Framing]] bitwise.
  */
object expressions {

  /** Register all graft SQL functions on a session (idempotent).
    *
    * Also excludes `InferFiltersFromGenerate`: that rule synthesizes
    * `size(xs) > 0 AND isnotnull(xs)` above every generator, and predicate
    * pushdown then inlines the *producing expression* of `xs` into a Filter
    * below the balance exchange — re-evaluating the expensive per-token
    * kernels (frame features, token gen) once per inferred predicate, in
    * the single-split scan stage. Our generators explode arrays that are
    * provably non-empty for non-null input (framesExpr emits ≥1 frame —
    * the short-frame contract), so the inferred guard is always redundant
    * here and the rule is pure cost. */
  def register(spark: SparkSession): Unit = {
    // true idempotence: skip (and silence the registry's replace-WARN spam)
    // when this session is already set up
    if (spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_rhythm_metrics")))
      return
    val rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val cur = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .filter(_.nonEmpty)
    if (!cur.exists(_.contains(rule)))
      spark.conf.set("spark.sql.optimizer.excludedRules",
        (cur.toSeq :+ rule).mkString(","))
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_gen_tokens",
      es => if (es.length > 2) TokenGen(es(0), es(1), es(2))
            else TokenGen(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_frame_features",
      es => FrameFeatures(es(0), es(1), es(2), es(3)), "built-in")
    reg.createOrReplaceTempFunction("graft_stats_block",
      es => StatsBlock(es(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_envelope_scan",
      es => EnvelopeScan(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_effective_bounds",
      es => EffectiveBounds(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash",
      es => MinHash(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_cosine",
      es => CosineSim(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_dot",
      es => DotProd(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_l2",
      es => L2Sq(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_sign_bands",
      es => SignBands(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_tree_walk",
      es => TreeWalk(es(0), es(1), es(2), es(3), es(4)), "built-in")
    reg.createOrReplaceTempFunction("graft_cubic_resample",
      es => CubicResample(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_correlation",
      es => PearsonCorr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_features_ll",
      es => FeaturesLlKernel(es(0), es(1), es(2), es(3), es(4), es(5)), "built-in")
    reg.createOrReplaceTempFunction("graft_pad_frames",
      es => PadFrames(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_pack_ngrams",
      es => PackNgrams(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_kmin",
      es => KMinAgg(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_kmin_d",
      es => KMinAgg(es(0), es(1), dedup = true), "built-in")
    reg.createOrReplaceTempFunction("graft_kmv_tokens",
      es => KmvTokensAgg(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_token_feats",
      es => TokenFeats(es(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_hll_tokens",
      es => HllTokensAgg(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_gram_counts",
      es => GramCounts(es(0), es(1),
        if (es.length > 2) es(2) else Literal(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_ngram_hashes",
      es => NgramHashes(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_remap_tokens",
      es => RemapTokens(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_bpe_apply",
      es => BpeApplyMerges(es(0), es(1), es(2), es(3)), "built-in")
    reg.createOrReplaceTempFunction("graft_span_hashes",
      es => SpanHashes(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_winnow",
      es => WinnowKeys(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_span_excise",
      es => SpanExcise(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_edit_distance",
      es => TokenEditDistance(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_common_prefix",
      es => CommonPrefixLen(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_cusum",
      es => CusumStats(es(0), es(1), es(2), es(3)), "built-in")
    reg.createOrReplaceTempFunction("graft_mlm_mask",
      es => MlmMask(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_mlm_stats",
      es => MlmStats(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_t5_input",
      es => T5Input(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_t5_target",
      es => T5Target(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_t5_stats",
      es => T5Stats(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_linear_score",
      es => LinearScoreKernel(es(0), es(1)), "built-in")
    spectral.register(spark)
    rhythm.register(spark)
    reg.createOrReplaceTempFunction("graft_coreset_cell",
      es => CoresetGreedyCell(es(0), es(1)), "built-in")
    fvkernel.register(spark)
  }

  private[functions] def litIntPub(e: Expression): Int = litInt(e)

  private def litInt(e: Expression): Int =
    if (!e.foldable) throw new IllegalArgumentException(s"expected int literal, got $e")
    else e.eval(null) match {
      case v: Int  => v
      case v: Long => v.toInt
      case v => throw new IllegalArgumentException(s"expected int literal, got $v")
    }
  private def litDouble(e: Expression): Double =
    if (!e.foldable) throw new IllegalArgumentException(s"expected double literal, got $e")
    else e.eval(null) match {
      case v: Double  => v
      case v: Decimal => v.toDouble
      case v: Int     => v.toDouble
      case v: Long    => v.toDouble
      case v => throw new IllegalArgumentException(s"expected double literal, got $v")
    }

  /** An `ARRAY<FLOAT|DOUBLE>` value (`dt` its array type) as doubles;
    * floats widen exactly. Any other element type raises an error naming
    * the calling function `fn`. */
  private[graft] def doubles(any: Any, dt: DataType, fn: String): Array[Double] = {
    val ad = any.asInstanceOf[ArrayData]
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType  => ad.toFloatArray().map(_.toDouble)
      case DoubleType => ad.toDoubleArray()
      case other => throw new IllegalArgumentException(s"$fn over $other")
    }
  }

  // ------------------------------------------------------------------

  /** graft_gen_tokens(doc_id BIGINT, n_tok INT[, cap INT]) → ARRAY<INT>
    * Sandbox-only deterministic token synthesis (formula documented in
    * [[graft.sources.Seqs]]; mirrored in `Seqs.duckSql`). The optional
    * `cap` emits only the first `min(n_tok, cap)` positions — VALUES
    * IDENTICAL to the uncapped array's prefix (the trail-silence
    * condition still reads the full `n_tok`), so window-capped consumers
    * (`slice(tokens, 1, w)`) skip generating the analysis-cap tail. */
  case class TokenGen(docId: Expression, nTok: Expression,
      capE: Expression = Literal(Int.MaxValue))
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(docId, nTok, capE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = docId.nullable || nTok.nullable
    private lazy val cap = litInt(capE)
    override def eval(input: InternalRow): Any = {
      val dAny = docId.eval(input); val nAny = nTok.eval(input)
      if (dAny == null || nAny == null) return null
      val d = dAny.asInstanceOf[Long]
      val n = nAny.asInstanceOf[Int]
      val lead = (d % 97).toInt
      val trail = ((d * 7) % 61).toInt
      val seed = if (d % 50 == 49) d - 1 else d // planted near-dup pairs
      val out = new Array[Int](math.min(n, cap))
      var i = 0
      while (i < out.length) {
        out(i) =
          if (i < lead || i >= n - trail) 0
          else {
            val base = ((seed * 1103515245L + i.toLong * i * 747796405L +
              i.toLong * 12345L + 12345L) % 2048L - 1024L).toInt
            val burst = if (((i / 128) % 8) == 0) 2 else 1
            base * burst
          }
        i += 1
      }
      // fromPrimitiveArray: GenericArrayData(Array[Int]) boxes every
      // element — 8k boxes/doc collapsed 32-core throughput via GC
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(docId = c(0), nTok = c(1), capE = c(2))
  }

  // ------------------------------------------------------------------

  /** graft_pack_ngrams(tokens ARRAY<INT>, k INT) → ARRAY<BIGINT>
    *
    * Exact k-gram identity packing: gram i ↦ Σ_j (tok(i+j) + 2048) ·
    * 4096^(k−1−j). For |token| ≤ 2048 and k ≤ 4 the packed value is a
    * COLLISION-FREE 48-bit identity — corpus-dup detection and n-gram LM
    * counting compare exact grams, no hash-collision noise, and the DuckDB
    * mirror is pure vectorized arithmetic over zipped slices (a lambda
    * that builds gram STRINGS is ~1000× slower there — measured 580 s vs
    * 0.6 s on the gate corpus). Larger alphabets or longer grams overflow
    * the injective range: switch to `xxhash64` banding there (the
    * [[graft.ops.Dedup]] MinHash path) and accept collision-rate ε. A
    * token outside [-2048, 2047] raises `token out of 12-bit domain`
    * (the [[GramCounts]] error): packed, it would alias another gram.
    * One tight pass per row, primitive array out — no boxing. */
  case class PackNgrams(tokens: Expression, kE: Expression)
      extends Expression with CodegenFallback {
    // lazy: auto-alias generation copies expression trees with
    // non-foldable PrettyAttribute children — an eager litInt in the
    // constructor would throw on that never-evaluated copy
    private lazy val k = {
      val v = litInt(kE)
      require(v >= 1 && v <= 4, s"packed n-gram width must be 1..4, got $v")
      v
    }
    override def children: Seq[Expression] = Seq(tokens, kE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      var t = 0
      while (t < arr.length) {
        require(arr(t) >= -2048 && arr(t) < 2048,
          s"token out of 12-bit domain [-2048, 2047]: ${arr(t)}")
        t += 1
      }
      val n = arr.length - k + 1
      if (n <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        var v = 0L
        var j = 0
        while (j < k) { v = v * 4096L + (arr(i + j) + 2048L); j += 1 }
        out(i) = v
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), kE = c(1))
  }

  /** Bounded k-min buffer: a max-heap of the `k` smallest values seen.
    * Insert is O(log k); state is exactly k longs — the property that
    * makes [[KMinAgg]] a constant-state mergeable aggregate.
    *
    * `dedup = true` keeps the k smallest DISTINCT values: a candidate that
    * already sits in the heap is skipped (O(k) membership scan, paid only
    * when the value would actually be kept — at most O(k log n) accepted
    * inserts over n inputs, so the scan never touches the per-row hot
    * path). An evicted value can never re-enter (eviction only removes the
    * current max in favor of something smaller, so a re-arrival of an
    * evicted value fails the `v < heap(0)` gate), which makes the dedup
    * exact over the whole stream, not just the kept window. */
  final class KMinBuffer(val k: Int, val dedup: Boolean = false) {
    val heap = new Array[Long](k) // max-heap over the kept minima
    var size = 0
    private def contains(v: Long): Boolean = {
      var i = 0
      while (i < size) { if (heap(i) == v) return true; i += 1 }
      false
    }
    def insert(v: Long): Unit = {
      if (dedup && (size < k || (k > 0 && v < heap(0))) && contains(v)) return
      if (size < k) {
        var i = size; heap(i) = v; size += 1
        while (i > 0 && heap((i - 1) / 2) < heap(i)) {
          val p = (i - 1) / 2
          val t = heap(p); heap(p) = heap(i); heap(i) = t; i = p
        }
      } else if (k > 0 && v < heap(0)) {
        heap(0) = v
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = 2 * i + 2
          var m = i
          if (l < size && heap(l) > heap(m)) m = l
          if (r < size && heap(r) > heap(m)) m = r
          if (m == i) done = true
          else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
        }
      }
    }
    def sortedAsc: Array[Long] = {
      val out = java.util.Arrays.copyOf(heap, size)
      java.util.Arrays.sort(out)
      out
    }
  }

  /** graft_kmin(v BIGINT, k INT) → ARRAY<BIGINT>
    *
    * Bounded k-minimum aggregate: the `k` smallest input values in
    * ascending order — the building block of the KMV distinct-count
    * sketch ([[graft.ops.Sketches.kmvReport]]). Unlike
    * `slice(array_sort(collect_list(v)), 1, k)` (which materializes and
    * shuffles EVERY value before truncating), the aggregation state is a
    * k-slot max-heap at every stage: map-side partials carry ≤ k longs per
    * group, merge is heap-into-heap, so the exchange traffic is
    * O(k × partitions) regardless of input size — the shape that lets a
    * 10^12-row distinct sketch run in one pass. With `dedup = false`
    * duplicate inputs are kept (callers feed pre-distinct hashes); with
    * `dedup = true` (`graft_kmin_d`) the buffer keeps the k smallest
    * DISTINCT values, which removes the need for any corpus-wide
    * `.distinct()` upstream — the k-min of a multiset's distinct values is
    * computed directly from the raw duplicated stream. */
  case class KMinAgg(child: Expression, kE: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0,
      dedup: Boolean = false)
      extends org.apache.spark.sql.catalyst.expressions.aggregate
        .TypedImperativeAggregate[KMinBuffer] {
    private lazy val k = {
      val v = litInt(kE)
      require(v >= 1 && v <= (1 << 20), s"kmin k must be 1..2^20, got $v")
      v
    }
    override def children: Seq[Expression] = Seq(child, kE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): KMinBuffer =
      new KMinBuffer(k, dedup)
    override def update(b: KMinBuffer, row: InternalRow): KMinBuffer = {
      val v = child.eval(row)
      if (v != null) b.insert(v.asInstanceOf[Long])
      b
    }
    override def merge(b: KMinBuffer, o: KMinBuffer): KMinBuffer = {
      var i = 0
      while (i < o.size) { b.insert(o.heap(i)); i += 1 }
      b
    }
    override def eval(b: KMinBuffer): Any =
      UnsafeArrayData.fromPrimitiveArray(b.sortedAsc)
    override def serialize(b: KMinBuffer): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.size)
      bb.putInt(b.size)
      var i = 0
      while (i < b.size) { bb.putLong(b.heap(i)); i += 1 }
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): KMinBuffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt()
      val b = new KMinBuffer(k, dedup)
      // heap-array order round-trips the heap property directly
      var i = 0
      while (i < n) { b.heap(i) = bb.getLong(); i += 1 }
      b.size = n
      b
    }
    override def withNewMutableAggBufferOffset(o: Int): KMinAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KMinAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(child = c(0), kE = c(1))
  }

  /** graft_token_feats(tokens ARRAY<INT>) → ARRAY<BIGINT> [Σ|t|, max t, #zeros]
    *
    * One-pass integer token summary feeding [[graft.ops.GbdtTrain]]'s
    * quantized features — replaces three interpreted HOF lambdas
    * (`aggregate`/`array_max`/`filter`) with a single primitive sweep
    * (the HOF trio re-walked every token array three times in
    * interpreted dispatch; measured ~2× the whole fit's dump cost). */
  case class TokenFeats(tokens: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      var sumAbs = 0L
      var mx = Int.MinValue
      var zeros = 0L
      var i = 0
      while (i < arr.length) {
        val v = arr(i)
        sumAbs += math.abs(v.toLong)
        if (v > mx) mx = v
        if (v == 0) zeros += 1
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        Array(sumAbs, if (arr.isEmpty) 0L else mx.toLong, zeros))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0))
  }

  /** Murmur3 64-bit finalizer constants + the golden-ratio gram multiplier
    * used by [[KmvTokensAgg]]. Shared with the DuckDB mirror generator
    * ([[graft.ops.Sketches.duckKmvTokensSql]]) so both engines mix the
    * same u64 lattice. */
  object KmvMix {
    val C1: Long = 0xff51afd7ed558ccdL
    val C2: Long = 0xc4ceb9fe1a85ec53L
    val K3: Long = 0x9e3779b97f4a7c15L
    val Mask60: Long = (1L << 60) - 1
    /** Murmur3 fmix64 of `salt + gram·K3` masked to 60 bits. Java Long
      * arithmetic IS mod-2^64 u64 arithmetic (wrap on multiply/add, `>>>`
      * = unsigned shift, `^` bitwise), so the DuckDB hugeint rendering of
      * the same steps is bitwise-identical. */
    def hash(salt: Long, gram: Long): Long = {
      var x = salt + gram * K3
      x ^= (x >>> 33); x *= C1
      x ^= (x >>> 33); x *= C2
      x ^= (x >>> 33)
      x & Mask60
    }
  }

  /** graft_hll_tokens(tokens ARRAY<INT>, p INT) → ARRAY<INT> (2^p registers)
    *
    * Fused HyperLogLog register build over per-row token bigrams: each
    * adjacent pair packs to its exact 24-bit gram identity, mixes through
    * the UNSALTED Murmur3 finalizer ([[KmvMix]] with the fixed
    * [[HllTokensAgg.HllSalt]] — unsalted across groups so register tables
    * from different sources max-merge into true union cardinality), masks
    * to 60 bits, and updates `reg[h mod 2^p] = max(reg, rho)` in place.
    * Aggregation state is the 2^p-byte register table at every stage —
    * the canonical mergeable-HLL shape (max is idempotent AND
    * duplicate-insensitive, so the raw duplicated gram stream needs no
    * distinct). Production counterpart of [[graft.ops.Sketches]]'
    * `hllReport` error-report form, exactly as [[KmvTokensAgg]] is of
    * `kmvReport`. */
  case class HllTokensAgg(tokens: Expression, pE: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate
        .TypedImperativeAggregate[Array[Byte]] {
    private lazy val p = {
      val v = litInt(pE)
      require(v >= 4 && v <= 14, s"hll p must be 4..14, got $v")
      v
    }
    private def m = 1 << p
    override def children: Seq[Expression] = Seq(tokens, pE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)
    override def update(b: Array[Byte], row: InternalRow): Array[Byte] = {
      val tAny = tokens.eval(row)
      if (tAny == null) return b
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val maxRho = 61 - p
      var i = 0
      while (i < arr.length - 1) {
        val gram = (arr(i) + 2048L) * 4096L + (arr(i + 1) + 2048L)
        val h = KmvMix.hash(HllTokensAgg.HllSalt, gram)
        val bucket = (h % m).toInt
        val w = h / m
        val rho =
          if (w == 0) maxRho
          else java.lang.Long.numberOfTrailingZeros(w) + 1
        if (rho > b(bucket)) b(bucket) = rho.toByte
        i += 1
      }
      b
    }
    override def merge(b: Array[Byte], o: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < b.length) { if (o(i) > b(i)) b(i) = o(i); i += 1 }
      b
    }
    override def eval(b: Array[Byte]): Any =
      UnsafeArrayData.fromPrimitiveArray(b.map(_.toInt))
    override def serialize(b: Array[Byte]): Array[Byte] = b
    override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
    override def withNewMutableAggBufferOffset(o: Int): HllTokensAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): HllTokensAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), pE = c(1))
  }

  object HllTokensAgg {
    /** Fixed unsalted-mixer seed — any constant works as long as both
      * engines share it; this one spells "hll" in the low bytes. */
    val HllSalt: Long = 0x686c6c5f73656564L & ((1L << 60) - 1)
  }

  /** graft_kmv_tokens(tokens ARRAY<INT>, salt BIGINT, k INT) → ARRAY<BIGINT>
    *
    * Fused KMV sketch over per-row token bigrams: for every adjacent pair
    * the kernel packs the exact 24-bit gram identity ([[PackNgrams]]
    * layout), mixes it with the group's salt through the Murmur3 64-bit
    * finalizer ([[KmvMix]] — ~8 integer ops, no string render, no md5),
    * masks to 60 bits, and feeds a dedup [[KMinBuffer]]. Aggregation state
    * is a k-slot heap of distinct minima at every stage, so a corpus-scale
    * distinct-count sketch runs as ONE narrow pass over the token arrays:
    * no explode row materialization, no per-occurrence hash-string
    * allocation, no corpus-wide `.distinct()` — the exchange carries ≤ k
    * longs per (group, partition). This is the production form of the KMV
    * family; [[KMinAgg]]`(dedup)` remains the generic any-column path. */
  case class KmvTokensAgg(tokens: Expression, saltE: Expression,
      kE: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate
        .TypedImperativeAggregate[KMinBuffer] {
    private lazy val k = {
      val v = litInt(kE)
      require(v >= 1 && v <= (1 << 20), s"kmv k must be 1..2^20, got $v")
      v
    }
    override def children: Seq[Expression] = Seq(tokens, saltE, kE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): KMinBuffer =
      new KMinBuffer(k, dedup = true)
    override def update(b: KMinBuffer, row: InternalRow): KMinBuffer = {
      val tAny = tokens.eval(row)
      val sAny = saltE.eval(row)
      if (tAny == null || sAny == null) return b
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val salt = sAny.asInstanceOf[Long]
      var i = 0
      while (i < arr.length - 1) {
        val gram = (arr(i) + 2048L) * 4096L + (arr(i + 1) + 2048L)
        b.insert(KmvMix.hash(salt, gram))
        i += 1
      }
      b
    }
    override def merge(b: KMinBuffer, o: KMinBuffer): KMinBuffer = {
      var i = 0
      while (i < o.size) { b.insert(o.heap(i)); i += 1 }
      b
    }
    override def eval(b: KMinBuffer): Any =
      UnsafeArrayData.fromPrimitiveArray(b.sortedAsc)
    override def serialize(b: KMinBuffer): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.size)
      bb.putInt(b.size)
      var i = 0
      while (i < b.size) { bb.putLong(b.heap(i)); i += 1 }
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): KMinBuffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt()
      val b = new KMinBuffer(k, dedup = true)
      var i = 0
      while (i < n) { b.heap(i) = bb.getLong(); i += 1 }
      b.size = n
      b
    }
    override def withNewMutableAggBufferOffset(o: Int): KmvTokensAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvTokensAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), saltE = c(1), kE = c(2))
  }

  // ------------------------------------------------------------------

  /** graft_gram_counts(tokens ARRAY<INT>, width INT[, window INT])
    * → ARRAY<BIGINT>
    *
    * Per-row counted grams: every distinct gram of the row once, packed
    * `(code << 32) | n` ([[pack]]) in ascending code order. Over
    * `g = token + 2048` the codes are
    *  - width 1: `g` (the [[PackNgrams]] k=1 identity);
    *  - width 2: `g(i)·4096 + g(i+1)` (the k=2 identity);
    *  - width 2, window w ∈ 1..3: `(g(i)·4096 + g(i+d))·4 + d` for every
    *    distance `d ≤ w` (skip-grams, the distance in the low 2 bits).
    * Unigrams count in one 4096-slot histogram pass; the wider shapes sort
    * the row's codes and run-length them. Every shape rejects a token
    * outside the 12-bit domain, where two grams would share a code.
    * Downstream explodes ([[explodeGramCounts]]) see each row's distinct
    * grams already counted, so no corpus-sized `(row, gram)` aggregation
    * runs. code < 2^26 and n ≤ the row length < 2^31: the packing is
    * lossless and never sets the sign bit. */
  case class GramCounts(tokens: Expression, widthE: Expression,
      windowE: Expression = Literal(0))
      extends Expression with CodegenFallback {
    // lazy, like PackNgrams above: auto-alias copies must not evaluate
    private lazy val shape = GramShape(litInt(widthE), litInt(windowE))
    override def children: Seq[Expression] = Seq(tokens, widthE, windowE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      // toIntArray copies, so the domain shift can happen in place
      val gs = tAny.asInstanceOf[ArrayData].toIntArray()
      var i = 0
      while (i < gs.length) {
        val g = gs(i) + 2048
        require(g >= 0 && g < 4096,
          s"token out of 12-bit domain [-2048, 2047]: ${gs(i)}")
        gs(i) = g
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        if (shape.width == 1) histogram(gs) else runLength(pairCodes(gs)))
    }
    private def histogram(gs: Array[Int]): Array[Long] = {
      val hist = new Array[Int](4096)
      var distinct = 0
      var i = 0
      while (i < gs.length) {
        if (hist(gs(i)) == 0) distinct += 1
        hist(gs(i)) += 1
        i += 1
      }
      val out = new Array[Long](distinct)
      var g = 0
      var j = 0
      while (g < 4096) {
        if (hist(g) > 0) { out(j) = pack(g, hist(g)); j += 1 }
        g += 1
      }
      out
    }
    private def pairCodes(gs: Array[Int]): Array[Long] = {
      val n = gs.length
      val w = shape.window
      if (w == 0) {
        val codes = new Array[Long](math.max(n - 1, 0))
        var i = 0
        while (i < codes.length) { codes(i) = gs(i) * 4096L + gs(i + 1); i += 1 }
        codes
      } else {
        var total = 0
        var d = 1
        while (d <= w) { total += math.max(n - d, 0); d += 1 }
        val codes = new Array[Long](total)
        var o = 0
        d = 1
        while (d <= w) {
          var i = 0
          while (i < n - d) {
            codes(o) = (gs(i) * 4096L + gs(i + d)) * 4L + d
            i += 1; o += 1
          }
          d += 1
        }
        codes
      }
    }
    private def runLength(codes: Array[Long]): Array[Long] = {
      val n = codes.length
      if (n == 0) return codes
      java.util.Arrays.sort(codes)
      var distinct = 1
      var i = 1
      while (i < n) { if (codes(i) != codes(i - 1)) distinct += 1; i += 1 }
      val out = new Array[Long](distinct)
      var j = 0
      var runStart = 0
      i = 1
      while (i <= n) {
        if (i == n || codes(i) != codes(runStart)) {
          out(j) = pack(codes(runStart), i - runStart)
          j += 1
          runStart = i
        }
        i += 1
      }
      out
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), widthE = c(1), windowE = c(2))
  }

  /** The shape [[GramCounts]] counts: width 1 (unigrams), width 2
    * (adjacent bigrams), or width 2 with a skip `window` of 1..3. */
  final case class GramShape(width: Int, window: Int = 0) {
    require(width == 1 && window == 0 ||
      width == 2 && window >= 0 && window <= 3,
      s"gram shape must be width 1, width 2 or width 2 with a skip " +
        s"window of 1..3, got width $width window $window")
  }
  object GramShape {
    val Unigram: GramShape = GramShape(1)
    val Bigram: GramShape = GramShape(2)
    def skip(window: Int): GramShape = {
      require(window >= 1, s"skip-gram window must be 1..3, got $window")
      GramShape(2, window)
    }
  }

  // The counted-gram layout `(code << 32) | n`: [[pack]] builds it, and
  // [[gramOf]] / [[cntOf]] (and [[NbScoreKernel]]) are its only decoders.
  private final val CountBits = 32
  private final val CountMask = (1L << CountBits) - 1

  def pack(gram: Long, n: Long): Long = (gram << CountBits) | n

  private def gramOf(gc: Column): Column = F.shiftright(gc, CountBits)
  private def cntOf(gc: Column): Column = gc.bitwiseAND(F.lit(CountMask))

  /** The counted grams of `tokens` under `shape`, packed: a
    * `graft_gram_counts` call. */
  def gramCounts(tokens: Column, shape: GramShape): Column =
    F.call_function("graft_gram_counts", tokens, F.lit(shape.width),
      F.lit(shape.window))

  /** One row per counted gram of the packed column `counted`:
    * `(keep…, gram, n)`. A null or empty array gives no row. */
  def explodeGramCounts(df: DataFrame, counted: Column,
                        keep: Column*): DataFrame = {
    val ex = df.select(keep :+ F.explode(counted).as("__gc"): _*)
    ex.select(ex.columns.init.toSeq.map(ex.col) ++
      Seq(gramOf(ex.col("__gc")).as("gram"), cntOf(ex.col("__gc")).as("n")): _*)
  }

  /** [[explodeGramCounts]] over the `tokens` column of `seqs`. */
  def countedGrams(seqs: DataFrame, shape: GramShape,
                   keep: Column*): DataFrame =
    explodeGramCounts(seqs, gramCounts(F.col("tokens"), shape), keep: _*)

  /** The corpus unigram histogram `(gram, c)`, gram = token + 2048. */
  def corpusUnigrams(seqs: DataFrame): DataFrame =
    countedGrams(seqs, GramShape.Unigram)
      .groupBy(F.col("gram")).agg(F.sum(F.col("n")).as("c"))

  // ------------------------------------------------------------------

  /** BigramNllScore(tokens ARRAY<INT>) → ARRAY<BIGINT>
    * `[n_bigrams, sum_micro]`, model by reference
    *
    * Fused self-scored bigram-LM document scoring: one pass over the
    * token array accumulating `Σ nll_micro[gram]` over every bigram
    * occurrence — exactly the Σ n_occ·nll_micro integer fold of the
    * relational per-doc-counts ⋈ broadcast-model form it replaces
    * ([[graft.ops.LanguageModel.scoreBigramKn]] / `scoreBigramNll`),
    * with zero explode, zero join and zero aggregation exchange. The
    * model is the DENSE alphabet-bounded table `nll[gram]` over the
    * 16.7M-slot 24-bit gram domain (67 MB of ints — bounded by the token
    * alphabet at ANY corpus size), held as a Spark broadcast field and
    * built through [[models.kernel]]. PRECONDITION (self-scoring contract): every
    * scored bigram must exist in the model — absent slots hold
    * Int.MinValue and trip the require below. Returns null for rows with
    * fewer than 2 tokens (no bigrams — such docs are absent from the
    * relational form's output too). */
  case class BigramNllScore(tokens: Expression, bc: Broadcast[Array[Int]])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    @transient private lazy val nll: Array[Int] = bc.value
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val n = arr.length - 1
      if (n <= 0) return null
      val tbl = nll
      var sum = 0L
      var prev = arr(0) + 2048
      var i = 1
      while (i <= n) {
        val cur = arr(i) + 2048
        require(prev >= 0 && prev < 4096 && cur >= 0 && cur < 4096,
          s"token out of 12-bit domain [-2048, 2047] at ${i - 1}")
        val v = tbl(prev * 4096 + cur)
        require(v != Int.MinValue,
          s"bigram (${arr(i - 1)}, ${arr(i)}) absent from the self-scored model")
        sum += v
        prev = cur
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(Array(n.toLong, sum))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0))
  }

  // ------------------------------------------------------------------

  /** A trained PQ codebook for [[PqAssignKernel]]: `m` subspaces of
    * `dsub` dims, `ksub` codewords each, flattened as
    * `cb[(s·ksub + c)·dsub + p]`. */
  final case class PqModel(cb: Array[Double], m: Int, dsub: Int, ksub: Int) {
    require(cb.length == m * ksub * dsub,
      s"codebook length ${cb.length} != m*ksub*dsub = ${m * ksub * dsub}")
  }

  /** PqAssignKernel(embedding ARRAY<FLOAT|DOUBLE>) → ARRAY<INT>, the
    * [[PqModel]] by reference (a broadcast field, built through
    * [[models.kernel]])
    *
    * Fused PQ nearest-codeword assignment: for every subspace
    * `s ∈ [0, m)` return the code of the min-L2 codeword (ties → lowest
    * code — codes are scanned ascending with a strict `<`). The L2 fold
    * replicates [[L2Sq]] exactly (per-element float→double cast,
    * sequential `s += d·d` over `min(dsub, len − s·dsub)` positions), so
    * the codes are bitwise identical to the relational explode →
    * broadcast-join → window-argmin form this kernel replaces
    * ([[graft.ops.Similarity]] PQ family) — while running as ONE narrow
    * projection of the corpus scan: no subvector explode, no join, no
    * per-(vec, sub) window sort. */
  case class PqAssignKernel(emb: Expression, model: Broadcast[PqModel])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(emb)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = emb.nullable
    @transient private lazy val pq = model.value
    override def eval(input: InternalRow): Any = {
      val eAny = emb.eval(input)
      if (eAny == null) return null
      val xs = doubles(eAny, emb.dataType, "PqAssignKernel")
      val cb = pq.cb; val m = pq.m; val dsub = pq.dsub; val ksub = pq.ksub
      val out = new Array[Int](m)
      var s = 0
      while (s < m) {
        val base = s * dsub
        val n = math.min(dsub, math.max(0, xs.length - base))
        var best = 0
        var bestL2 = Double.MaxValue
        var c = 0
        while (c < ksub) {
          val cbase = (s * ksub + c) * dsub
          var l2 = 0.0
          var p = 0
          while (p < n) {
            val d = xs(base + p) - cb(cbase + p)
            l2 += d * d
            p += 1
          }
          if (l2 < bestL2) { bestL2 = l2; best = c }
          c += 1
        }
        out(s) = best
        s += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(emb = c(0))
  }

  // ------------------------------------------------------------------

  /** IVF centroids for [[IvfAssignKernel]]: `cells` ascending cell ids
    * and `cv` their `dim`-component centroids, flattened. */
  final case class IvfModel(cells: Array[Long], cv: Array[Double], dim: Int) {
    require((1 until cells.length).forall(i => cells(i - 1) < cells(i)),
      "cell ids must be ascending (the tie → lowest-cell contract)")
    require(cv.length == cells.length * dim,
      s"centroid array length ${cv.length} != nCells*dim = ${cells.length * dim}")
  }

  /** IvfAssignKernel(embedding ARRAY<FLOAT|DOUBLE>) → BIGINT, the
    * [[IvfModel]] by reference (a broadcast field, built through
    * [[models.kernel]])
    *
    * Fused IVF coarse-quantizer assignment: return the cell id of the
    * max-cosine centroid (ties → lowest cell id — the cells are scanned
    * ascending with a strict `>`). The cosine fold replicates
    * [[CosineSim]] exactly (per-element float→double cast, sequential
    * dot/na/nb accumulation over `min(len, dim)`, zero-norm → 0.0), so
    * assignments are bitwise identical to the relational crossJoin →
    * window-argmax form this replaces ([[graft.ops.Similarity.ivfAssign]])
    * — while running as ONE narrow projection: no centroid join, no
    * per-vec window sort. */
  case class IvfAssignKernel(emb: Expression, model: Broadcast[IvfModel])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(emb)
    override def dataType: DataType = LongType
    override def nullable: Boolean = emb.nullable
    @transient private lazy val ivf = model.value
    override def eval(input: InternalRow): Any = {
      val eAny = emb.eval(input)
      if (eAny == null) return null
      val ys = doubles(eAny, emb.dataType, "IvfAssignKernel")
      val cells = ivf.cells; val cv = ivf.cv; val dim = ivf.dim
      var best = 0
      var bestCos = Double.NegativeInfinity
      var c = 0
      while (c < cells.length) {
        val base = c * dim
        val n = math.min(dim, ys.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          dot += cv(base + i) * ys(i)
          na += cv(base + i) * cv(base + i)
          nb += ys(i) * ys(i)
          i += 1
        }
        val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
        if (cos > bestCos) { bestCos = cos; best = c }
        c += 1
      }
      cells(best)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(emb = c(0))
  }

  // ------------------------------------------------------------------

  /** graft_ngram_hashes(text STRING, n INT) → ARRAY<BIGINT>
    *
    * Per-document DISTINCT word n-gram hashes — the fused form of the
    * decontamination/source-overlap gram pass
    * ([[graft.ops.Contamination]]): split `text` on single spaces
    * (empty words dropped — `filter(split(text, ' '), w -> w <> '')`
    * semantics), then for every n-gram window hash the space-joined gram
    * to the SAME 60-bit identity as the relational form —
    * `conv(substring(md5(gram), 1, 15), 16, 10)`, i.e. the first 15 hex
    * chars of the md5 as an unsigned integer = (big-endian first 8
    * digest bytes) >>> 4 — and emit each distinct hash once (first-
    * occurrence order, the `array_distinct` contract). One tight pass
    * per row over the raw UTF-8 bytes; replaces an interpreted
    * `transform(sequence(...))` HOF whose per-gram lambda built slice +
    * array_join + hex-string + conv expression trees per element. */
  case class NgramHashes(textE: Expression, nE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(textE, nE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = textE.nullable
    private lazy val n = {
      val v = litInt(nE)
      require(v >= 1, s"n-gram width must be >= 1, got $v")
      v
    }
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    @transient private lazy val digBuf = new Array[Byte](16)
    private val SpaceByte = ' '.toByte
    override def eval(input: InternalRow): Any = {
      val tAny = textE.eval(input)
      if (tAny == null) return null
      val bytes = tAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .getBytes // UTF-8; multi-byte sequences never contain 0x20
      // word boundaries: (start, end) of maximal non-space runs
      val starts = new java.util.ArrayList[Int]()
      val ends = new java.util.ArrayList[Int]()
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) != SpaceByte) {
          val s = i
          while (i < bytes.length && bytes(i) != SpaceByte) i += 1
          starts.add(s); ends.add(i)
        } else i += 1
      }
      val nw = starts.size()
      if (nw < n) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
      val nGrams = nw - n + 1
      val out = new Array[Long](nGrams)
      val seen = new java.util.HashSet[java.lang.Long](nGrams * 2)
      var k = 0
      var g = 0
      while (g < nGrams) {
        md.reset()
        var w = g
        while (w < g + n) {
          if (w > g) md.update(SpaceByte)
          md.update(bytes, starts.get(w), ends.get(w) - starts.get(w))
          w += 1
        }
        md.digest(digBuf, 0, 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (digBuf(b) & 0xffL); b += 1 }
        h = h >>> 4 // first 15 hex chars = top 60 bits of the first 8 bytes
        if (seen.add(h)) { out(k) = h; k += 1 }
        g += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(textE = c(0), nE = c(1))
  }

  // ------------------------------------------------------------------

  /** graft_remap_tokens(tokens ARRAY<INT>, rare ARRAY<INT>, unk INT) →
    * ARRAY<INT>
    *
    * Vocabulary pruning: rewrite every token in the LITERAL `rare` set to
    * the `unk` id, leave the rest untouched. The rare set decodes ONCE per
    * expression instance into a 4096-slot bitmap over the 12-bit token
    * domain (the [[TreeWalk]] literal-model pattern), so the per-token
    * test is one array load — never a per-token set probe or interpreted
    * lambda. */
  case class RemapTokens(tokens: Expression, rareE: Expression,
      unkE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, rareE, unkE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    private lazy val unk = litInt(unkE)
    private lazy val rareBitmap: Array[Boolean] = {
      if (!rareE.foldable)
        throw new IllegalArgumentException(s"expected literal rare set, got $rareE")
      val bm = new Array[Boolean](4096)
      val ids = rareE.eval(null).asInstanceOf[ArrayData].toIntArray()
      var i = 0
      while (i < ids.length) {
        val g = ids(i) + 2048
        require(g >= 0 && g < 4096,
          s"rare token out of 12-bit domain [-2048, 2047]: ${ids(i)}")
        bm(g) = true
        i += 1
      }
      bm
    }
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val out = new Array[Int](arr.length)
      var i = 0
      while (i < arr.length) {
        val g = arr(i) + 2048
        require(g >= 0 && g < 4096,
          s"token out of 12-bit domain [-2048, 2047]: ${arr(i)}")
        out(i) = if (rareBitmap(g)) unk else arr(i)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), rareE = c(1), unkE = c(2))
  }

  // ------------------------------------------------------------------

  /** A trained Naive Bayes model for [[NbScoreKernel]]: `sources` in
    * ascending name order, `llk(gram · S + s)` the micro-nat
    * log-likelihood of gram under source s over the full 4096-slot domain
    * (S = sources.length) and `priors(s)` the micro-nat priors. */
  final case class NbModel(sources: Array[String], llk: Array[Long],
                           priors: Array[Long]) {
    require(priors.length == sources.length &&
      llk.length == 4096 * sources.length, "NB model arrays must align")
  }

  /** NbScoreKernel(gc ARRAY<BIGINT>) → STRUCT<pred STRING,
    * score_micro BIGINT, margin_micro BIGINT>, the [[NbModel]] by
    * reference (a broadcast field, built through [[models.kernel]])
    *
    * Fused Naive Bayes scoring over the [[GramCounts]] unigram per-doc
    * histogram. All int64 (order-free); argmax ties resolve to the
    * smaller index = the lexicographically smaller source, and
    * `margin_micro` is the gap to the runner-up (0 with a single source).
    * Scoring is one in-row multiply-add sweep — no explode, no join, no
    * shuffle. */
  case class NbScoreKernel(gcE: Expression, model: Broadcast[NbModel])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(gcE)
    override def dataType: DataType = StructType(Seq(
      StructField("pred", StringType, nullable = false),
      StructField("score_micro", LongType, nullable = false),
      StructField("margin_micro", LongType, nullable = false)))
    override def nullable: Boolean = gcE.nullable
    @transient private lazy val nb = model.value
    @transient private lazy val names = nb.sources.map(UTF8String.fromString)
    override def eval(input: InternalRow): Any = {
      val any = gcE.eval(input)
      if (any == null) return null
      val gc = any.asInstanceOf[ArrayData].toLongArray()
      val llk = nb.llk
      val nS = nb.priors.length
      val scores = nb.priors.clone()
      var i = 0
      while (i < gc.length) {
        val base = (gc(i) >>> CountBits).toInt * nS
        val c = gc(i) & CountMask
        var s = 0
        while (s < nS) { scores(s) += c * llk(base + s); s += 1 }
        i += 1
      }
      var best = 0
      var s = 1
      while (s < nS) { if (scores(s) > scores(best)) best = s; s += 1 }
      var margin = Long.MaxValue
      s = 0
      while (s < nS) {
        if (s != best && scores(best) - scores(s) < margin)
          margin = scores(best) - scores(s)
        s += 1
      }
      if (nS == 1) margin = 0L
      InternalRow(names(best), scores(best), margin)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(gcE = c(0))
  }

  // ------------------------------------------------------------------

  /** A unigram-LM piece model for [[ViterbiSeg]]: `uniT`/`uniS` the
    * sorted unigram piece codes (`t+2048`) and their micro-nat log
    * probabilities, `biP`/`biS` the sorted candidate bigram codes
    * ([[PackNgrams]] k=2 packing) and scores. */
  final case class SegModel(uniT: Array[Long], uniS: Array[Long],
                            biP: Array[Long], biS: Array[Long]) {
    require(uniT.length == uniS.length && biP.length == biS.length,
      "piece codes and scores must align")
  }

  /** ViterbiSeg(tokens ARRAY<INT>) → ARRAY<BIGINT>
    * `[n_pieces, n_bi, ll_micro, checksum, code_0, …]`, the [[SegModel]]
    * by reference (a broadcast field, built through [[models.kernel]])
    *
    * Viterbi segmentation of a token sequence under a unigram language
    * model over pieces of length 1-2 — the E-step of the SentencePiece-
    * style unigram tokenizer trainer (hard-EM form). All scores are exact
    * BIGINT micro-nats (the [[graft.ops.LanguageModel]] quantization
    * convention), so the DP is pure integer arithmetic — bitwise across
    * engines; ties prefer the bigram (the longer piece, SentencePiece's
    * bias).
    *
    * PRECONDITION (closed vocabulary): every token of the segmented
    * sequence MUST appear in `uniT` — the kernel throws otherwise. This
    * holds by construction for the self-trained wirings (model and
    * corpus share the window); applying a persisted model to FRESH
    * documents requires remapping unseen tokens to a vocab id first
    * (graft_remap_tokens) or extending the model with a floor score
    * (r5 ADVICE note).
    *
    * Output: piece count, bigram-piece count, total path score,
    * position-weighted checksum `Σ (start+1)·code` pinning every piece's
    * identity and place, then the piece codes in start order. */
  case class ViterbiSeg(tokens: Expression, model: Broadcast[SegModel])
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    @transient private lazy val seg = model.value
    private def bsearch(arr: Array[Long], key: Long): Int = {
      var lo = 0; var hi = arr.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < key) lo = mid + 1
        else if (arr(mid) > key) hi = mid - 1
        else return mid
      }
      -1
    }
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val ts = tAny.asInstanceOf[ArrayData].toIntArray()
      val ut = seg.uniT; val us = seg.uniS; val bp = seg.biP; val bs = seg.biS
      val n = ts.length
      if (n == 0)
        return UnsafeArrayData.fromPrimitiveArray(Array(0L, 0L, 0L, 0L))
      // dp over prefix lengths 0..n; su/sb looked up once per position
      val su = new Array[Long](n + 1) // su(i): unigram score of ts(i-1)
      val sb = new Array[Long](n + 1) // sb(i): bigram ending at i, or MinValue
      var i = 1
      while (i <= n) {
        val ui = bsearch(ut, ts(i - 1) + 2048L)
        require(ui >= 0, s"token ${ts(i - 1)} missing from unigram vocab")
        su(i) = us(ui)
        sb(i) = Long.MinValue
        if (i >= 2) {
          val bi = bsearch(bp, (ts(i - 2) + 2048L) * 4096L + (ts(i - 1) + 2048L))
          if (bi >= 0) sb(i) = bs(bi)
        }
        i += 1
      }
      val dp = new Array[Long](n + 1)
      dp(0) = 0L
      i = 1
      while (i <= n) {
        val uOpt = dp(i - 1) + su(i)
        dp(i) =
          if (i >= 2 && sb(i) != Long.MinValue && dp(i - 2) + sb(i) >= uOpt)
            dp(i - 2) + sb(i)
          else uOpt
        i += 1
      }
      // backtrace (bigram on equality — matches the forward tie-break)
      val codesRev = new Array[Long](n)
      val startsRev = new Array[Int](n)
      var m = 0; var nBi = 0L
      i = n
      while (i > 0) {
        if (i >= 2 && sb(i) != Long.MinValue && dp(i) == dp(i - 2) + sb(i)) {
          codesRev(m) = (ts(i - 2) + 2048L) * 4096L + (ts(i - 1) + 2048L)
          startsRev(m) = i - 2
          nBi += 1; m += 1; i -= 2
        } else {
          codesRev(m) = ts(i - 1) + 2048L
          startsRev(m) = i - 1
          m += 1; i -= 1
        }
      }
      var checksum = 0L
      var j = 0
      while (j < m) {
        checksum += (startsRev(j) + 1L) * codesRev(j)
        j += 1
      }
      val out = new Array[Long](4 + m)
      out(0) = m.toLong; out(1) = nBi; out(2) = dp(n); out(3) = checksum
      j = 0
      while (j < m) { out(4 + j) = codesRev(m - 1 - j); j += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0))
  }

  // ------------------------------------------------------------------

  /** graft_bpe_apply(tokens ARRAY<INT>, as ARRAY<INT>, bs ARRAY<INT>,
    * ms ARRAY<INT>) → ARRAY<INT>
    *
    * Applies BPE merge rules in order: rule r rewrites every
    * non-overlapping left-to-right occurrence of the adjacent pair
    * (as(r), bs(r)) to the single token ms(r) in one greedy pass, then the
    * next rule runs over the rewritten stream — the standard byte-pair
    * tokenizer application order. Greedy-left resolves self-overlap the
    * way every BPE implementation does: [a,a,a] with rule (a,a)→m yields
    * [m,a]. Relational mirror (for the DuckDB oracle): candidate
    * positions grouped into consecutive-run islands, keep even offsets —
    * see the CTE chain in [[graft.ops.Tokenizer.duckTrainSql]].
    *
    * The rule arrays are per-row column arguments (typically a broadcast
    * 1-row dimension or a foldable literal), so the kernel composes with
    * data-derived rules without a driver collect in the query plan. */
  case class BpeApplyMerges(tokens: Expression, as: Expression,
      bs: Expression, ms: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, as, bs, ms)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val aArr = as.eval(input).asInstanceOf[ArrayData].toIntArray()
      val bArr = bs.eval(input).asInstanceOf[ArrayData].toIntArray()
      val mArr = ms.eval(input).asInstanceOf[ArrayData].toIntArray()
      require(aArr.length == bArr.length && bArr.length == mArr.length,
        s"merge rule arrays must align: ${aArr.length}/${bArr.length}/${mArr.length}")
      var cur = tAny.asInstanceOf[ArrayData].toIntArray()
      var r = 0
      while (r < aArr.length) {
        cur = mergeOnce(cur, aArr(r), bArr(r), mArr(r))
        r += 1
      }
      UnsafeArrayData.fromPrimitiveArray(cur)
    }
    private def mergeOnce(xs: Array[Int], a: Int, b: Int, m: Int): Array[Int] = {
      val n = xs.length
      val out = new Array[Int](n)
      var i = 0; var o = 0
      while (i < n) {
        if (i + 1 < n && xs(i) == a && xs(i + 1) == b) {
          out(o) = m; i += 2
        } else {
          out(o) = xs(i); i += 1
        }
        o += 1
      }
      if (o == n) out else java.util.Arrays.copyOf(out, o)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), as = c(1), bs = c(2), ms = c(3))
  }

  /** graft_span_hashes(tokens ARRAY<INT>, len INT, stride INT)
    * → ARRAY<BIGINT>
    *
    * 60-bit hash per fixed-length token window at strided start positions
    * 0, stride, 2·stride, … (window j covers [j·stride, j·stride+len)) —
    * the candidate-generation primitive of exact substring-span dedup.
    * Hash = first 15 hex chars of md5 over the space-joined decimal
    * rendering of the window's tokens, the corpus-wide convention shared
    * with [[graft.ops.Contamination]] and mirrored bit-for-bit in DuckDB
    * (`('0x' || substr(md5(array_to_string(tokens[a:b], ' ')), 1, 15))
    * ::BIGINT`). Native kernel so the per-token path never runs an
    * interpreted HOF; the digest instance is reused across rows. */
  case class SpanHashes(tokens: Expression, lenE: Expression,
      strideE: Expression)
      extends Expression with CodegenFallback {
    // lazy, like PackNgrams above: auto-alias generation copies expression
    // trees with non-foldable PrettyAttribute children — an eager litInt
    // in the constructor would throw on that never-evaluated copy
    private lazy val winLen = {
      val v = litInt(lenE)
      require(v >= 1, s"bad span length: $v")
      v
    }
    private lazy val stride = {
      val v = litInt(strideE)
      require(v >= 1, s"bad span stride: $v")
      v
    }
    override def children: Seq[Expression] = Seq(tokens, lenE, strideE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val n = arr.length
      if (n < winLen) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
      val nWin = (n - winLen) / stride + 1
      val out = new Array[Long](nWin)
      val sb = new java.lang.StringBuilder(winLen * 6)
      var j = 0
      while (j < nWin) {
        sb.setLength(0)
        val base = j * stride
        var k = 0
        while (k < winLen) {
          if (k > 0) sb.append(' ')
          sb.append(arr(base + k))
          k += 1
        }
        md.reset()
        val dig = md.digest(sb.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = high 60 bits of the first 8 digest bytes
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
        out(j) = h >>> 4
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), lenE = c(1), strideE = c(2))
  }

  /** graft_span_excise(tokens ARRAY<INT>, starts ARRAY<BIGINT> sorted
    * ascending, len INT) → ARRAY<INT>
    *
    * Token-interval excision: drops every position covered by some
    * `[start, start + len)` window — the rewrite kernel of span-level
    * substring dedup ([[graft.ops.Dedup.spanRemove]]). Two-pointer over
    * the sorted starts, O(n + k) per row, overlap-safe (coverage is the
    * running max of window ends). */
  case class SpanExcise(tokens: Expression, startsE: Expression,
      lenE: Expression)
      extends Expression with CodegenFallback {
    private lazy val winLen = {
      val v = litInt(lenE)
      require(v >= 1, s"bad excise length: $v")
      v
    }
    override def children: Seq[Expression] = Seq(tokens, startsE, lenE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || startsE.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val sAny = startsE.eval(input)
      if (sAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val starts = sAny.asInstanceOf[ArrayData].toLongArray()
      val out = new Array[Int](arr.length)
      var nOut = 0
      var si = 0
      var coverEnd = -1L
      var p = 0
      while (p < arr.length) {
        while (si < starts.length && starts(si) <= p) {
          val e = starts(si) + winLen
          if (e > coverEnd) coverEnd = e
          si += 1
        }
        if (p >= coverEnd) { out(nOut) = arr(p); nOut += 1 }
        p += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, nOut))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), startsE = c(1), lenE = c(2))
  }

  /** The ONE masking decision of the MLM kernels, per (doc, position):
    * draw `h` from a QUADRATIC mod-p scramble of `x = did·8192 + pos` —
    * `h = ((x̄² + 747796405·x̄ + 12345) mod p)·48271 + 11 mod p` with
    * `x̄ = x mod p` (purely multiplicative mixing is affine in x, so its
    * low residues align with the sequential position — the same trap the
    * [[graft.sources.Seqs]] token model documents; the x² term breaks
    * the alignment). Then the BERT 15 % / 80-10-10 rule: `h mod 100 < 15`
    * masks; within masked, `(h div 100) mod 10` ≤ 7 → sentinel 4096
    * (outside the ±2048 alphabet), = 8 → hash-derived random token,
    * = 9 → keep. Returns (new token, branch 0 = unmasked / 1 = sentinel /
    * 2 = random / 3 = kept-masked). */
  private def mlmStep(did: Long, pos: Int, tok: Int): (Int, Int) = {
    val P = 1000000007L
    val x = (did * 8192L + pos) % P
    val h = ((x * x + 747796405L * x + 12345L) % P * 48271L + 11L) % P
    if (h % 100 < 15) {
      val b = (h / 100) % 10
      if (b <= 7) (4096, 1)
      else if (b == 8) ((h / 1000 % 4096 - 2048).toInt, 2)
      else (tok, 3)
    } else (tok, 0)
  }

  /** graft_mlm_mask(tokens ARRAY<INT>, did BIGINT) → ARRAY<INT>
    *
    * Masked-LM training-input rewrite (the BERT corruption plan) as one
    * tight per-row kernel — deterministic in (doc id, position) alone
    * ([[mlmStep]]), so reruns, repartitioning and corpus growth never
    * change an example's corruption, and the DuckDB mirror reproduces
    * every token bitwise. Zero shuffle; the scale path is the same
    * narrow projection at any corpus size. */
  case class MlmMask(tokens: Expression, didE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, didE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || didE.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val dAny = didE.eval(input)
      if (dAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val did = dAny.asInstanceOf[Long]
      val out = new Array[Int](arr.length)
      var i = 0
      while (i < arr.length) {
        out(i) = mlmStep(did, i, arr(i))._1
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), didE = c(1))
  }

  /** graft_mlm_stats(tokens ARRAY<INT>, did BIGINT) → ARRAY<BIGINT>
    * `[n_masked, n_sentinel, n_random, n_kept, checksum]` with
    * `checksum = Σ (pos+1)·masked_tok` — the position-weighted integer
    * checksum that pins every rewritten token's VALUE AND PLACE (the
    * multimodal-featurizer convention), so a green hash on the stats row
    * proves the whole [[MlmMask]] rewrite without shipping the arrays
    * through the oracle compare. */
  case class MlmStats(tokens: Expression, didE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, didE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || didE.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val dAny = didE.eval(input)
      if (dAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val did = dAny.asInstanceOf[Long]
      var nMask = 0L; var nSent = 0L; var nRand = 0L; var nKeep = 0L
      var sum = 0L
      var i = 0
      while (i < arr.length) {
        val (tok, branch) = mlmStep(did, i, arr(i))
        if (branch > 0) nMask += 1
        if (branch == 1) nSent += 1
        else if (branch == 2) nRand += 1
        else if (branch == 3) nKeep += 1
        sum += (i + 1L) * tok
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        Array(nMask, nSent, nRand, nKeep, sum))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), didE = c(1))
  }

  /** Span-corruption plan shared by the three T5 kernels: the token grid
    * is cut into 8-position slots; a slot FIRES (quadratic mod-p draw on
    * (did, slot), the [[mlmStep]] discipline with its own salt) with
    * probability 35 %, corrupting a span of `L = 2 + (h div 100) mod 3`
    * (2..4) tokens at the slot start — expected corruption ≈ 35 %·3/8 ≈
    * 13 % of positions. GRID-ALIGNED spans keep the decision stateless
    * per (doc, slot): no sequential span-overlap suppression, so both
    * engines evaluate it as a parallel map (T5's sampler walks the
    * sequence; the grid form is the distributable equivalent and the
    * fired-span semantics — replace span by one sentinel in the input,
    * emit sentinel+span in the target — are identical). Sentinel ids
    * `4200 + slot mod 64` sit outside the ±2048 alphabet and the MLM
    * sentinel. Returns (fired, L, sentinel). */
  private def t5Slot(did: Long, slot: Int): (Boolean, Int, Int) = {
    val P = 1000000007L
    val x = (did * 65536L + slot + 31L) % P
    val h = ((x * x + 747796405L * x + 12345L) % P * 48271L + 11L) % P
    ((h % 100) < 35, 2 + ((h / 100) % 3).toInt, 4200 + slot % 64)
  }

  private def t5Plan(did: Long, n: Int): Array[(Int, Boolean, Int, Int)] = {
    val slots = n / 8
    Array.tabulate(slots) { s =>
      val (f, l, sent) = t5Slot(did, s)
      (s, f, l, sent)
    }
  }

  /** graft_t5_input(tokens ARRAY<INT>, did BIGINT) → ARRAY<INT>: the
    * corrupted INPUT sequence — each fired span collapsed to its
    * sentinel; tail positions past the last full slot kept verbatim. */
  case class T5Input(tokens: Expression, didE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, didE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || didE.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val dAny = didE.eval(input)
      if (dAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val did = dAny.asInstanceOf[Long]
      val out = new Array[Int](arr.length)
      var nOut = 0
      for ((s, fired, l, sent) <- t5Plan(did, arr.length)) {
        val base = s * 8
        if (fired) {
          out(nOut) = sent; nOut += 1
          var i = base + l
          while (i < base + 8) { out(nOut) = arr(i); nOut += 1; i += 1 }
        } else {
          var i = base
          while (i < base + 8) { out(nOut) = arr(i); nOut += 1; i += 1 }
        }
      }
      var i = (arr.length / 8) * 8
      while (i < arr.length) { out(nOut) = arr(i); nOut += 1; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, nOut))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), didE = c(1))
  }

  /** graft_t5_target(tokens ARRAY<INT>, did BIGINT) → ARRAY<INT>: the
    * TARGET sequence — sentinel followed by the original span tokens,
    * per fired slot in order. */
  case class T5Target(tokens: Expression, didE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, didE)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || didE.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val dAny = didE.eval(input)
      if (dAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val did = dAny.asInstanceOf[Long]
      val buf = new Array[Int](arr.length + arr.length / 8 + 1)
      var nOut = 0
      for ((s, fired, l, sent) <- t5Plan(did, arr.length) if fired) {
        buf(nOut) = sent; nOut += 1
        var i = s * 8
        while (i < s * 8 + l) { buf(nOut) = arr(i); nOut += 1; i += 1 }
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, nOut))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), didE = c(1))
  }

  /** graft_t5_stats(tokens ARRAY<INT>, did BIGINT) → ARRAY<BIGINT>
    * `[n_spans, n_corrupted, input_len, target_len, input_checksum,
    * target_checksum]` — the position-weighted checksums pin both
    * rewritten sequences (the [[MlmStats]] convention), with the length
    * identities `input_len = n − n_corrupted + n_spans` and
    * `target_len = n_corrupted + n_spans` as self-checks. */
  case class T5Stats(tokens: Expression, didE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, didE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || didE.nullable
    override def eval(input: InternalRow): Any = {
      val inAny = T5Input(tokens, didE).eval(input)
      if (inAny == null) return null
      val tgAny = T5Target(tokens, didE).eval(input)
      val inp = inAny.asInstanceOf[ArrayData].toIntArray()
      val tgt = tgAny.asInstanceOf[ArrayData].toIntArray()
      val did = didE.eval(input).asInstanceOf[Long]
      val n = tokens.eval(input).asInstanceOf[ArrayData].numElements()
      var nSpans = 0L; var nCorr = 0L
      for ((_, fired, l, _) <- t5Plan(did, n) if fired) {
        nSpans += 1; nCorr += l
      }
      def ck(a: Array[Int]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { s += (i + 1L) * a(i); i += 1 }
        s
      }
      UnsafeArrayData.fromPrimitiveArray(Array(nSpans, nCorr,
        inp.length.toLong, tgt.length.toLong, ck(inp), ck(tgt)))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), didE = c(1))
  }

  /** graft_cusum(xs ARRAY<BIGINT>, mu BIGINT, k BIGINT, h BIGINT) →
    * ARRAY<BIGINT> `[n_up, n_down, first_up, first_down, s_up, s_down]`
    *
    * Two-sided CUSUM control chart (Page 1954) with reset-on-alarm over
    * an integer series: `s⁺ ← max(0, s⁺ + (x−μ−k))`, alarm and reset
    * when `s⁺ > h` (mirror for s⁻) — the sequential drift ALARM that
    * complements the distributional screens (PSI/KS/JSD fire on a
    * snapshot comparison; CUSUM accumulates small persistent shifts and
    * fires mid-stream, with first-alarm INDEX as the change-point
    * estimate; -1 = never). Pure int64 recursion — bitwise in any
    * engine; the outputs (alarm counts, first indices, final states) pin
    * the whole trajectory. */
  case class CusumStats(xsE: Expression, muE: Expression, kE: Expression,
      hE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(xsE, muE, kE, hE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = xsE.nullable || muE.nullable
    override def eval(input: InternalRow): Any = {
      val xsAny = xsE.eval(input)
      if (xsAny == null) return null
      val muAny = muE.eval(input)
      if (muAny == null) return null
      val xs = xsAny.asInstanceOf[ArrayData].toLongArray()
      val mu = muAny.asInstanceOf[Long]
      val k = kE.eval(input).asInstanceOf[Long]
      val h = hE.eval(input).asInstanceOf[Long]
      var sUp = 0L; var sDn = 0L
      var nUp = 0L; var nDn = 0L
      var firstUp = -1L; var firstDn = -1L
      var i = 0
      while (i < xs.length) {
        sUp = math.max(0L, sUp + (xs(i) - mu - k))
        if (sUp > h) {
          nUp += 1; if (firstUp < 0) firstUp = i; sUp = 0L
        }
        sDn = math.max(0L, sDn + (mu - xs(i) - k))
        if (sDn > h) {
          nDn += 1; if (firstDn < 0) firstDn = i; sDn = 0L
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        Array(nUp, nDn, firstUp, firstDn, sUp, sDn))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xsE = c(0), muE = c(1), kE = c(2), hE = c(3))
  }

  /** graft_common_prefix(a ARRAY<INT>, b ARRAY<INT>) → INT — length of
    * the longest common prefix (the sorted-neighborhood adjacency
    * measure; O(lcp) per pair). */
  case class CommonPrefixLen(aE: Expression, bE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(aE, bE)
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = aE.nullable || bE.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = aE.eval(input)
      if (aAny == null) return null
      val bAny = bE.eval(input)
      if (bAny == null) return null
      val a = aAny.asInstanceOf[ArrayData].toIntArray()
      val b = bAny.asInstanceOf[ArrayData].toIntArray()
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      i
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(aE = c(0), bE = c(1))
  }

  /** graft_edit_distance(a ARRAY<INT>, b ARRAY<INT>, cap INT) → INT
    *
    * Token-level Levenshtein distance (unit insert/delete/substitute) —
    * the exact alignment verifier for near-dup candidate pairs, catching
    * reorder-heavy edits that set-based measures (Jaccard, containment)
    * score identically. `cap ≤ 0` runs the full two-row DP, O(n·m) time /
    * O(m) space per pair. `cap > 0` runs the banded (Ukkonen) variant
    * touching only cells with |i−j| ≤ cap — O(cap·n) — and returns
    * `cap + 1` whenever the true distance exceeds the cap: the production
    * dial for verify-at-scale, where anything beyond a small edit budget
    * is "not a duplicate" and the exact value is irrelevant. Band and
    * full DP agree exactly on every pair within the cap (OpsSpec pins
    * band == min(full, cap+1) against a brute-force reference). */
  case class TokenEditDistance(aE: Expression, bE: Expression,
      capE: Expression)
      extends Expression with CodegenFallback {
    // lazy, like PackNgrams: auto-alias copies must not evaluate
    private lazy val cap = litInt(capE)
    override def children: Seq[Expression] = Seq(aE, bE, capE)
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = aE.nullable || bE.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = aE.eval(input)
      if (aAny == null) return null
      val bAny = bE.eval(input)
      if (bAny == null) return null
      val a = aAny.asInstanceOf[ArrayData].toIntArray()
      val b = bAny.asInstanceOf[ArrayData].toIntArray()
      val n = a.length
      val m = b.length
      if (cap > 0 && math.abs(n - m) > cap) return cap + 1
      val INF = Int.MaxValue / 2
      var prev = new Array[Int](m + 1)
      var curr = new Array[Int](m + 1)
      var j = 0
      while (j <= m) {
        prev(j) = if (cap > 0 && j > cap) INF else j
        j += 1
      }
      var i = 1
      while (i <= n) {
        val lo = if (cap > 0) math.max(1, i - cap) else 1
        val hi = if (cap > 0) math.min(m, i + cap) else m
        // left band edge: column 0 is real only while i - 0 fits the band
        curr(lo - 1) = if (lo == 1) i else INF
        j = lo
        while (j <= hi) {
          var v = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          val del = prev(j) + 1
          if (del < v) v = del
          val ins = curr(j - 1) + 1
          if (ins < v) v = ins
          curr(j) = v
          j += 1
        }
        if (cap > 0 && hi < m) curr(hi + 1) = INF
        val t = prev; prev = curr; curr = t
        i += 1
      }
      val d = prev(m)
      if (cap > 0 && d > cap) cap + 1 else d
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(aE = c(0), bE = c(1), capE = c(2))
  }

  /** graft_winnow(tokens ARRAY<INT>, k INT, w INT) → ARRAY<BIGINT>
    *
    * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS local fingerprinting scheme): over the k-gram fingerprints
    * of a document, every window of `w` consecutive fingerprints
    * contributes its minimum (rightmost position on hash ties), and the
    * distinct selections are the document's fingerprints. GUARANTEE: any
    * token run of length ≥ k + w − 1 shared by two documents yields at
    * least one shared fingerprint; expected density is 2/(w+1) of
    * positions — the robust substring-dedup sketch between the strided
    * exact-span family ([[SpanHashes]], recall gaps at window boundaries)
    * and full suffix-array methods (non-distributable).
    *
    * The k-gram fingerprint is the exact packed identity
    * ([[PackNgrams]], k ≤ 4) scrambled by two prime-modulus steps —
    * `fp = ((gram mod 1000000007) · 999999937) mod 1000000007` — pure
    * int64 arithmetic so the DuckDB mirror vectorizes (a per-gram md5
    * lambda there is ~1000× slower, see `duckDupNgramsSql`). Each
    * selection is emitted as the PACKED KEY `fp·8192 + (8191 − j)` with
    * `j` the 0-based gram position: the decomposition is unique (positions
    * < 8192 = the [[graft.sources.Seqs.MaxTokens]] cap), so min-key order
    * IS (min fp, rightmost j) order and both engines can decode
    * `pos = 8192 − key mod 8192` (1-based), `fp = key div 8192` with
    * integer ops alone. One O(n) pass per row (monotonic-deque sliding
    * minimum), no shuffle — fingerprint payload is ids-only downstream. */
  case class WinnowKeys(tokens: Expression, kE: Expression, wE: Expression)
      extends Expression with CodegenFallback {
    // lazy, like PackNgrams above: auto-alias generation copies expression
    // trees with non-foldable PrettyAttribute children
    private lazy val k = {
      val v = litInt(kE)
      require(v >= 1 && v <= 4, s"winnow k-gram width must be 1..4, got $v")
      v
    }
    private lazy val w = {
      val v = litInt(wE)
      require(v >= 1 && v <= 8192, s"winnow window must be 1..8192, got $v")
      v
    }
    override def children: Seq[Expression] = Seq(tokens, kE, wE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val n = arr.length
      val m = n - k + 1
      if (m <= 0)
        return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
      require(m <= 8192, s"winnow position overflow: $m grams > 8192")
      val keys = new Array[Long](m)
      var j = 0
      while (j < m) {
        var g = 0L
        var i = 0
        while (i < k) { g = g * 4096L + (arr(j + i) + 2048L); i += 1 }
        val fp = ((g % 1000000007L) * 999999937L) % 1000000007L
        keys(j) = fp * 8192L + (8191L - j)
        j += 1
      }
      // monotonic-deque sliding minimum; keys are pairwise distinct (the
      // packed position makes them injective), so strict pops suffice
      val deque = new Array[Int](m)
      var head = 0
      var tail = 0 // exclusive
      val out = new Array[Long](m)
      var nOut = 0
      var lastKey = -1L
      var e = 0
      while (e < m) {
        while (tail > head && keys(deque(tail - 1)) > keys(e)) tail -= 1
        deque(tail) = e; tail += 1
        if (e >= w - 1 || e == m - 1) {
          val j0 = e - w + 1 // window start (may be < 0 when m < w)
          while (deque(head) < j0) head += 1
          val sel = keys(deque(head))
          if (sel != lastKey) { out(nOut) = sel; nOut += 1; lastKey = sel }
        }
        e += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        java.util.Arrays.copyOf(out, nOut))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), kE = c(1), wE = c(2))
  }

  val LinearScoreStructType: StructType = StructType(Seq(
    StructField("n_feat", LongType, nullable = false),
    StructField("sum_milli", LongType, nullable = false)))

  /** graft_linear_score(words ARRAY<STRING>, weights ARRAY<BIGINT>)
    * → STRUCT<n_feat BIGINT, sum_milli BIGINT>
    *
    * Production path of the hashed-n-gram linear scorer
    * ([[graft.ops.LinearModel]]): one pass per document over its words —
    * every unigram and space-joined bigram is hashed (first 8 md5 hex
    * chars mod the weight-table length, the corpus-wide convention) and
    * its weight accumulated as an exact integer. Numerically identical to
    * the relational explode → broadcast-join → groupBy form (OpsSpec
    * asserts equality), but SHUFFLE-FREE: the model rides along as a
    * broadcast dense array column and the whole scorer is a narrow
    * projection of the scan — the shape that holds at any corpus size.
    * Returns null for a doc with zero words (no features → no score),
    * mirroring the explode form where such docs vanish. */
  case class LinearScoreKernel(words: Expression, weights: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(words, weights)
    override def dataType: DataType = LinearScoreStructType
    override def nullable: Boolean = true
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    @transient private lazy val digBuf = new Array[Byte](16)
    // digest the current md state into the reused buffer; first 8 hex
    // chars = first 4 digest bytes as an unsigned 32-bit int
    private def bucketOf(dim: Int): Int = {
      md.digest(digBuf, 0, 16)
      var h = 0L
      var b = 0
      while (b < 4) { h = (h << 8) | (digBuf(b) & 0xffL); b += 1 }
      (h % dim).toInt
    }
    private val SpaceByte = ' '.toByte
    override def eval(input: InternalRow): Any = {
      val wAny = words.eval(input)
      if (wAny == null) return null
      val warr = wAny.asInstanceOf[ArrayData]
      val nw = warr.numElements()
      if (nw == 0) return null
      val tbl = weights.eval(input).asInstanceOf[ArrayData].toLongArray()
      val dim = tbl.length
      var sum = 0L
      var i = 0
      var prev: Array[Byte] = null
      while (i < nw) {
        val w = warr.getUTF8String(i).getBytes // UTF-8, no String round-trip
        md.reset(); md.update(w)
        sum += tbl(bucketOf(dim))
        if (prev != null) {
          md.reset(); md.update(prev); md.update(SpaceByte); md.update(w)
          sum += tbl(bucketOf(dim))
        }
        prev = w
        i += 1
      }
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      row.setLong(0, nw.toLong + (nw - 1))
      row.setLong(1, sum)
      row
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(words = c(0), weights = c(1))
  }

  // ------------------------------------------------------------------

  val FrameStructType: StructType = StructType(Seq(
    StructField("frame_id", IntegerType, nullable = false),
    StructField("n_samp", IntegerType, nullable = false),
    StructField("fsum", LongType, nullable = false),
    StructField("fsumsq", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("is_audible", BooleanType, nullable = false)))

  /** graft_frame_features(tokens ARRAY<INT>, frameSize, hop, silenceThr)
    * → ARRAY<STRUCT<frame_id,n_samp,fsum,fsumsq,peak,rms,is_audible>>
    * One tight pass per frame over the token array (AFEC frame loop,
    * `SampleAnalyser.cpp:814`; RMS/peak `SampleAnalyser.cpp:1760-1783`). */
  case class FrameFeatures(tokens: Expression, frameSizeE: Expression,
      hopE: Expression, thrE: Expression)
      extends Expression with CodegenFallback {
    private val frameSize = litInt(frameSizeE)
    private val hop = litInt(hopE)
    private val thr = litInt(thrE)
    override def children: Seq[Expression] = Seq(tokens, frameSizeE, hopE, thrE)
    override def dataType: DataType =
      ArrayType(FrameStructType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val n = arr.length
      val nFrames = if (n >= frameSize) (n - frameSize) / hop + 1 else 1
      val out = new Array[Any](nFrames)
      var f = 0
      while (f < nFrames) {
        val start = f * hop
        val len = math.min(frameSize, n - start)
        var s = 0L; var q = 0L; var p = 0
        var i = start
        val end = start + len
        while (i < end) {
          val x = arr(i)
          s += x
          q += x.toLong * x
          val ax = math.abs(x)
          if (ax > p) p = ax
          i += 1
        }
        val rms = math.sqrt(q.toDouble / len)
        out(f) = new GenericInternalRow(Array[Any](
          f, len, s, q, p, rms, p > thr))
        f += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), frameSizeE = c(1), hopE = c(2), thrE = c(3))
  }

  // ------------------------------------------------------------------

  val StatsStructType: StructType =
    StructType(Stats.StatNames.map(n => StructField(n, DoubleType, nullable = false)))

  /** graft_stats_block(xs ARRAY<DOUBLE>) → STRUCT<13 doubles>
    * The 13-stat kernel (semantics in [[Stats]]; `Statistics.cpp:12-90`).
    * Ascending sequential folds — bitwise-equal to the DuckDB mirror. */
  case class StatsBlock(xs: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(xs)
    override def dataType: DataType = StatsStructType
    override def nullable: Boolean = xs.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input)
      if (aAny == null) return null
      val a = aAny.asInstanceOf[ArrayData].toDoubleArray()
      val b = Stats.oracle(a.toIndexedSeq)
      new GenericInternalRow(Array[Any](b.min, b.max, b.median, b.mean,
        b.gmean, b.variance, b.centroid, b.spread, b.skewness, b.kurtosis,
        b.flatness, b.dmean, b.dvariance))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0))
  }

  // ------------------------------------------------------------------

  /** graft_envelope_scan(xs ARRAY<DOUBLE>, coef) → ARRAY<DOUBLE>
    * One-pole envelope recursion `state = x + coef*(state - x)`
    * (`Envelopes.inl:14-18`), state init 0. */
  case class EnvelopeScan(xs: Expression, coefE: Expression)
      extends Expression with CodegenFallback {
    private val coef = litDouble(coefE)
    override def children: Seq[Expression] = Seq(xs, coefE)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = xs.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input)
      if (aAny == null) return null
      val a = aAny.asInstanceOf[ArrayData].toDoubleArray()
      val out = new Array[Double](a.length)
      var state = 0.0
      var i = 0
      while (i < a.length) {
        state = a(i) + coef * (state - a(i))
        out(i) = state
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0), coefE = c(1))
  }

  // ------------------------------------------------------------------

  /** MinHash parameters — shared with the DuckDB oracle mirror
    * (`graft.ops.Dedup.duckMinhashSql`). Shingle hash: 5-token rolling
    * polynomial `acc = (acc*31 + (t+2048)) % ShingleMod`; permutation k:
    * `(A_k * h + B_k) % HashMod`; band j over `BandSize` consecutive sig
    * entries: `acc = (acc*31 + s) % HashMod`. All int64, no overflow. */
  object MinHashParams {
    val Shingle = 5
    val ShingleMod = 1000003L
    val HashMod = 2147483647L
    val NumHashes = 16
    val BandSize = 4
    def a(k: Int): Long = k.toLong * 40503L + 1L
    def b(k: Int): Long = k.toLong * 9973L + 7L
  }

  val MinHashStructType: StructType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false)))

  /** graft_minhash(tokens ARRAY<INT>, numHashes, bandSize)
    * → STRUCT<sig ARRAY<LONG>, bands ARRAY<LONG>>
    * MinHash signature over 5-token shingles + LSH band hashes (the
    * scale path for near-duplicate detection: join on band hash buckets
    * instead of all-pairs). Docs shorter than one shingle get sig = HashMod
    * sentinel values. */
  case class MinHash(tokens: Expression, numHashesE: Expression, bandSizeE: Expression)
      extends Expression with CodegenFallback {
    import MinHashParams._
    private val numHashes = litInt(numHashesE)
    private val bandSize = litInt(bandSizeE)
    override def children: Seq[Expression] = Seq(tokens, numHashesE, bandSizeE)
    override def dataType: DataType = MinHashStructType
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val nSh = arr.length - Shingle + 1
      val sig = Array.fill(numHashes)(HashMod)
      var i = 0
      while (i < nSh) {
        var h = 0L
        var j = 0
        while (j < Shingle) {
          h = (h * 31L + (arr(i + j) + 2048L)) % ShingleMod
          j += 1
        }
        var k = 0
        while (k < numHashes) {
          val v = (a(k) * h + b(k)) % HashMod
          if (v < sig(k)) sig(k) = v
          k += 1
        }
        i += 1
      }
      val nBands = numHashes / bandSize
      val bands = new Array[Long](nBands)
      var bj = 0
      while (bj < nBands) {
        var acc = 0L
        var r = 0
        while (r < bandSize) {
          acc = (acc * 31L + sig(bj * bandSize + r)) % HashMod
          r += 1
        }
        bands(bj) = acc
        bj += 1
      }
      new GenericInternalRow(Array[Any](
        UnsafeArrayData.fromPrimitiveArray(sig),
        UnsafeArrayData.fromPrimitiveArray(bands)))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), numHashesE = c(1), bandSizeE = c(2))
  }

  /** graft_sign_bands(embedding ARRAY<FLOAT|DOUBLE>, nBands INT,
    * bitsPerBand INT) → ARRAY<BIGINT> of length nBands.
    *
    * Banded random-hyperplane signature for embedding LSH: plane
    * `p = band·bitsPerBand + j` has integer components
    * `c(p, j') = ((p·8191 + j'·127 + 13) % 17) − 8` (the deterministic
    * seeded grid shared with [[graft.ops.Similarity.lshBuckets]]); band hash
    * = the packed sign bits `Σ_j [dot(plane_p, x) > 0] · 2^j`. Dot products
    * are ascending sequential double folds — bitwise-mirrored by the DuckDB
    * `list_reduce` oracle. Narrow per-row kernel, no shuffle; one row in →
    * nBands small ints out, so the downstream candidate join never carries
    * the embedding payload. */
  case class SignBands(emb: Expression, nBandsE: Expression,
      bitsE: Expression) extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(emb, nBandsE, bitsE)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = emb.nullable
    private lazy val nBands = litInt(nBandsE)
    private lazy val bits = litInt(bitsE)
    override def eval(input: InternalRow): Any = {
      val any = emb.eval(input)
      if (any == null) return null
      val ad = any.asInstanceOf[ArrayData]
      val xs: Array[Double] =
        emb.dataType.asInstanceOf[ArrayType].elementType match {
          case FloatType  => ad.toFloatArray().map(_.toDouble)
          case DoubleType => ad.toDoubleArray()
          case other => throw new IllegalArgumentException(s"sign_bands over $other")
        }
      val out = new Array[Long](nBands)
      var b = 0
      while (b < nBands) {
        var h = 0L
        var j = 0
        while (j < bits) {
          val p = b * bits + j
          var dot = 0.0
          var k = 0
          while (k < xs.length) {
            dot += xs(k) * (((p * 8191 + k * 127 + 13) % 17) - 8).toDouble
            k += 1
          }
          if (dot > 0.0) h |= (1L << j)
          j += 1
        }
        out(b) = h
        b += 1
      }
      ArrayData.toArrayData(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(emb = c(0), nBandsE = c(1), bitsE = c(2))
  }

  /** graft_tree_walk(fv ARRAY<DOUBLE>, feat ARRAY<INT>, thr ARRAY<DOUBLE>,
    * leaf ARRAY<DOUBLE>, depth INT) → DOUBLE
    *
    * Additive-ensemble inference over a FLATTENED node table — the
    * large-ensemble path [[graft.ops.TreeEnsemble]]'s compiled-CASE scorer
    * documents (reference scale: 800 iterations × 5 bags,
    * `Source/Crawler/Classification/Source/Models/GBDT.cpp:50-117`).
    * Trees are complete depth-`depth` in heap order: per tree `t` the
    * internal nodes occupy `feat/thr[t·nInt + i]` (`nInt = 2^depth − 1`,
    * children of `i` at `2i+1 / 2i+2`, left iff `fv(feat) < thr`), leaves
    * `leaf[t·nLeaf + (i − nInt)]`. The score is the ascending-`t`
    * sequential sum of leaf values (bitwise-mirrored by the DuckDB
    * `list_reduce` oracle).
    *
    * The model arrays ride the plan as three LITERALS (constant-folded
    * once) — plan build is O(1) in tree count where the compiled-CASE
    * variant pays ~17 s analysis at 16 trees; executors walk primitive
    * arrays, the ensemble effectively broadcast with the task binary. */
  case class TreeWalk(fv: Expression, featE: Expression, thrE: Expression,
      leafE: Expression, depthE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(fv, featE, thrE, leafE, depthE)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = fv.nullable
    private lazy val depth = litInt(depthE)
    private lazy val nInt = (1 << depth) - 1
    private lazy val nLeaf = 1 << depth
    private def litArr[T](e: Expression, f: ArrayData => T): T =
      if (!e.foldable)
        throw new IllegalArgumentException(s"expected literal model array, got $e")
      else f(e.eval(null).asInstanceOf[ArrayData])
    private lazy val feat = litArr(featE, _.toIntArray())
    private lazy val thr = litArr(thrE, _.toDoubleArray())
    private lazy val leaf = litArr(leafE, _.toDoubleArray())
    private lazy val nTrees = feat.length / nInt
    override def eval(input: InternalRow): Any = {
      val any = fv.eval(input)
      if (any == null) return null
      val xs = any.asInstanceOf[ArrayData].toDoubleArray()
      var s = 0.0
      var t = 0
      while (t < nTrees) {
        var idx = 0
        var d = 0
        while (d < depth) {
          val off = t * nInt + idx
          idx = if (xs(feat(off)) < thr(off)) 2 * idx + 1 else 2 * idx + 2
          d += 1
        }
        s += leaf(t * nLeaf + (idx - nInt))
        t += 1
      }
      s
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(fv = c(0), featE = c(1), thrE = c(2), leafE = c(3), depthE = c(4))
  }

  /** graft_cosine(a ARRAY<FLOAT|DOUBLE>, b same) → DOUBLE
    * Cosine similarity `dot / sqrt(na * nb)`; ascending sequential folds
    * (bitwise-mirrored in DuckDB by index-ordered list folds). 0.0 when a
    * norm is zero. */
  case class CosineSim(a: Expression, b: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(a, b)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = a.nullable || b.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = a.eval(input); val bAny = b.eval(input)
      if (aAny == null || bAny == null) return null
      val xs = doubles(aAny, a.dataType, "graft_cosine")
      val ys = doubles(bAny, b.dataType, "graft_cosine")
      val n = math.min(xs.length, ys.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        dot += xs(i) * ys(i)
        na += xs(i) * xs(i)
        nb += ys(i) * ys(i)
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(a = c(0), b = c(1))
  }

  /** graft_dot(a ARRAY<FLOAT|DOUBLE>, b same) → DOUBLE
    * Plain inner product as an ascending sequential fold (the
    * [[CosineSim]] fold without the normalization) — the ADC table-build
    * primitive of the product-quantization family. Bitwise-mirrored in
    * DuckDB by an index-ordered list fold. */
  case class DotProd(a: Expression, b: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(a, b)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = a.nullable || b.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = a.eval(input); val bAny = b.eval(input)
      if (aAny == null || bAny == null) return null
      val xs = doubles(aAny, a.dataType, "graft_dot")
      val ys = doubles(bAny, b.dataType, "graft_dot")
      val n = math.min(xs.length, ys.length)
      var s = 0.0; var i = 0
      while (i < n) { s += xs(i) * ys(i); i += 1 }
      s
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(a = c(0), b = c(1))
  }

  /** graft_l2(a ARRAY<FLOAT|DOUBLE>, b same) → DOUBLE
    * Squared Euclidean distance, ascending sequential fold — the k-means
    * assignment metric of the PQ codebook trainer (squared form: the sqrt
    * is rank-irrelevant and omitting it keeps the fold exactly
    * mirrorable). */
  case class L2Sq(a: Expression, b: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(a, b)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = a.nullable || b.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = a.eval(input); val bAny = b.eval(input)
      if (aAny == null || bAny == null) return null
      val xs = doubles(aAny, a.dataType, "graft_l2")
      val ys = doubles(bAny, b.dataType, "graft_l2")
      val n = math.min(xs.length, ys.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = xs(i) - ys(i); s += d * d; i += 1 }
      s
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(a = c(0), b = c(1))
  }

  /** graft_cubic_resample(xs ARRAY<DOUBLE>, outLen) → ARRAY<DOUBLE>
    * Catmull-Rom cubic resampling of an arbitrary-length series to exactly
    * `outLen` points (spectrum-signature resample,
    * `SampleAnalyser.cpp:139-156, 1490-1523`). Deviation from the
    * reference, documented: sample position is `i * step` rather than an
    * accumulated `pos += step` (ulp-level difference, allclose-safe) so the
    * DuckDB oracle can mirror it bitwise. Neighbor indices clamp at the
    * series edges exactly like the reference. */
  case class CubicResample(xs: Expression, outLenE: Expression)
      extends Expression with CodegenFallback {
    // literal out-length when foldable (signature resample); per-row value
    // otherwise (rate conversion: outLen derives from the series length)
    private val outLenLit: Option[Int] =
      if (outLenE.foldable) Some(litInt(outLenE)) else None
    override def children: Seq[Expression] = Seq(xs, outLenE)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = xs.nullable || outLenE.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input)
      if (aAny == null) return null
      val outLen = outLenLit.getOrElse {
        val o = outLenE.eval(input)
        if (o == null) return null
        o.asInstanceOf[Int]
      }
      val a = aAny.asInstanceOf[ArrayData].toDoubleArray()
      val n = a.length
      if (n == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Double](outLen))
      val step = n.toDouble / outLen
      val out = new Array[Double](outLen)
      var i = 0
      while (i < outLen) {
        val pos = i * step
        val ipos = pos.toInt // trunc toward zero (TMath::d2i)
        val im1 = math.max(0, ipos - 1)
        val i0 = math.min(n - 1, ipos)
        val i1 = math.min(n - 1, ipos + 1)
        val i2 = math.min(n - 1, ipos + 2)
        val x = pos - math.floor(pos)
        val xx = x * x
        val xxx = xx * x
        val ca = -0.5 * xxx + xx - 0.5 * x
        val cb = 1.5 * xxx - 2.5 * xx + 1.0
        val cc = -1.5 * xxx + 2.0 * xx + 0.5 * x
        val cd = 0.5 * xxx - 0.5 * xx
        out(i) = ca * a(im1) + cb * a(i0) + cc * a(i1) + cd * a(i2)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0), outLenE = c(1))
  }

  /** DuckDB mirror of [[CubicResample]]: staged CTEs over a series CTE
    * `seriesCte(doc_id, xs)`; yields `${p}sig(doc_id, sig)`. `outLen` is a
    * SQL expression over `xs` (a constant for the signature resample, a
    * per-row length for rate conversion). */
  def duckCubicResampleCtes(seriesCte: String, outLen: String, p: String): String =
    s"""${p}r AS (
       |  SELECT doc_id, xs, unnest(range($outLen)) AS ri FROM $seriesCte),
       |${p}c1 AS (
       |  SELECT doc_id, xs, ri, len(xs) AS n,
       |         ri * (CAST(len(xs) AS DOUBLE) / ($outLen)) AS pos
       |  FROM ${p}r),
       |${p}c2 AS (
       |  SELECT *, pos - floor(pos) AS x,
       |         CAST(trunc(pos) AS BIGINT) AS ipos
       |  FROM ${p}c1),
       |${p}c3 AS (
       |  SELECT *, x * x AS xx, (x * x) * x AS xxx,
       |         greatest(0, ipos - 1) AS im1,
       |         least(n - 1, ipos) AS i0,
       |         least(n - 1, ipos + 1) AS i1,
       |         least(n - 1, ipos + 2) AS i2
       |  FROM ${p}c2),
       |${p}v AS (
       |  SELECT doc_id, ri,
       |      (-0.5 * xxx + xx - 0.5 * x) * xs[im1 + 1]
       |    + (1.5 * xxx - 2.5 * xx + 1.0) * xs[i0 + 1]
       |    + (-1.5 * xxx + 2.0 * xx + 0.5 * x) * xs[i1 + 1]
       |    + (0.5 * xxx - 0.5 * xx) * xs[i2 + 1] AS val
       |  FROM ${p}c3),
       |${p}sig AS (
       |  SELECT doc_id, list(val ORDER BY ri) AS sig FROM ${p}v GROUP BY doc_id)""".stripMargin

  /** graft_correlation(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) → DOUBLE
    * Pearson correlation with AFEC's exact evaluation order
    * (`Statistics.cpp:604-638`): interleaved sums, means divided first,
    * `num / sqrt(denom2)`, 0 when |denom2| <= 1e-12. */
  case class PearsonCorr(a: Expression, b: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(a, b)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = a.nullable || b.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = a.eval(input); val bAny = b.eval(input)
      if (aAny == null || bAny == null) return null
      val xs = aAny.asInstanceOf[ArrayData].toDoubleArray()
      val ys = bAny.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(xs.length, ys.length)
      if (n == 0) return 0.0
      var ss1 = 0.0; var ss2 = 0.0; var ss11 = 0.0; var ss12 = 0.0; var ss22 = 0.0
      var i = 0
      while (i < n) {
        val x = xs(i); val y = ys(i)
        ss12 += x * y; ss1 += x; ss11 += x * x; ss2 += y; ss22 += y * y
        i += 1
      }
      val m1 = ss1 / n
      val m2 = ss2 / n
      val denom2 = (ss11 - m1 * m1 * n) * (ss22 - m2 * m2 * n)
      val num = ss12 - m1 * m2 * n
      if (math.abs(denom2) > 1e-12) num / math.sqrt(denom2) else 0.0
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(a = c(0), b = c(1))
  }

  val BoundsStructType: StructType = StructType(Seq(
    StructField("first", IntegerType, nullable = false),
    StructField("last", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false)))

  /** graft_effective_bounds(tokens ARRAY<INT>, thresholds ARRAY<INT>)
    * → ARRAY<STRUCT<first,last,len>> — first/last index with |x| > thr and
    * gated run length (silence trim / effective length,
    * `SampleAnalyser.cpp:646-676, 1715-1756`); -1/-1/0 when all silent. */
  case class EffectiveBounds(tokens: Expression, thrsE: Expression)
      extends Expression with CodegenFallback {
    private val thrs: Array[Int] =
      if (thrsE.foldable) thrsE.eval(null).asInstanceOf[ArrayData].toIntArray()
      else throw new IllegalArgumentException("thresholds must be array<int> literal")
    override def children: Seq[Expression] = Seq(tokens, thrsE)
    override def dataType: DataType =
      ArrayType(BoundsStructType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      // single pass over tokens for ALL thresholds (memory-bandwidth
      // matters more than the tiny inner loop: one 32 KB read, not |thrs|)
      val nT = thrs.length
      val first = Array.fill(nT)(-1)
      val last = Array.fill(nT)(-1)
      var i = 0
      while (i < arr.length) {
        val ax = math.abs(arr(i))
        var t = 0
        while (t < nT) {
          if (ax > thrs(t)) { if (first(t) == -1) first(t) = i; last(t) = i }
          t += 1
        }
        i += 1
      }
      val out = new Array[Any](nT)
      var t = 0
      while (t < nT) {
        out(t) = new GenericInternalRow(Array[Any](
          first(t), last(t), if (first(t) == -1) 0 else last(t) - first(t) + 1))
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), thrsE = c(1))
  }

  // ------------------------------------------------------------------

  val PadStructType: StructType = StructType(Seq(
    StructField("tokens", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("lead", IntegerType, nullable = false),
    StructField("trail", IntegerType, nullable = false)))

  /** graft_pad_frames(tokens ARRAY<INT>, frameSize, silenceThr) →
    * STRUCT<tokens, offset, lead, trail> — the analyser's finalize step
    * (`SampleAnalyser.cpp:679-718`): strip silent lead/trail runs
    * (|x| ≤ thr), zero-pad so at least half of the last frame and at least
    * one full frame are analyzed, and record `mDataOffset = −lead + start
    * padding` (the analyzation-offset column that maps padded frame
    * positions back to source positions). All-integer — bitwise. */
  case class PadFrames(tokens: Expression, frameSizeE: Expression,
      thrE: Expression) extends Expression with CodegenFallback {
    private val frameSize = litInt(frameSizeE)
    private val thr = litInt(thrE)
    override def children: Seq[Expression] = Seq(tokens, frameSizeE, thrE)
    override def dataType: DataType = PadStructType
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val n = arr.length
      var first = -1
      var last = -1
      var i = 0
      while (i < n) {
        if (math.abs(arr(i)) > thr) { if (first == -1) first = i; last = i }
        i += 1
      }
      val lead = if (first == -1) n else first
      val trail = if (first == -1) 0 else n - 1 - last
      val audible = n - lead - trail
      val endOff =
        if (audible % frameSize < frameSize / 2) frameSize / 2 else 0
      val startOff =
        if (audible + endOff < frameSize) frameSize - audible - endOff else 0
      val out = new Array[Int](startOff + audible + endOff)
      i = 0
      while (i < audible) { out(startOff + i) = arr(lead + i); i += 1 }
      new GenericInternalRow(Array[Any](
        UnsafeArrayData.fromPrimitiveArray(out),
        -lead + startOff, lead, trail))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), frameSizeE = c(1), thrE = c(2))
  }

  // ------------------------------------------------------------------

  val LlStructType: StructType = StructType(Seq(
    StructField("frames", ArrayType(FrameStructType, containsNull = false),
      nullable = false),
    StructField("rms_series", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("peak_series", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("env_series", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("audible_flags", ArrayType(BooleanType, containsNull = false),
      nullable = false),
    StructField("st_rms", StatsStructType, nullable = false),
    StructField("st_env", StatsStructType, nullable = false),
    StructField("bounds", ArrayType(BoundsStructType, containsNull = false),
      nullable = false)))

  /** graft_features_ll(tokens, frameSize, hop, silenceThr, envCoef,
    * thresholds ARRAY<INT>) → STRUCT<frames, rms_series, peak_series,
    * env_series, audible_flags, st_rms, st_env, bounds>.
    *
    * The headline pipeline's whole per-row battery fused into a SINGLE
    * kernel: one 32 KB token read feeds framing, both series, the envelope
    * recursion, both 13-stat blocks and the multi-threshold bounds scan.
    * Unfused, each consumer expression re-copies the token array
    * (`toIntArray`) and re-materializes intermediate series — measured
    * 8→32-core scaling efficiency ~0.5 with the job pinned at the VM's
    * ~30 GB/s 32-thread copy-bandwidth ceiling (pure-CPU probe scales
    * 16→32 threads at exactly 2×, so bandwidth, not cores, was the limit).
    * Every loop is byte-identical to the standalone kernels
    * ([[FrameFeatures]], [[EnvelopeScan]], [[StatsBlock]],
    * [[EffectiveBounds]]) — bitwise-equal outputs, verified by the same
    * oracle queries. */
  case class FeaturesLlKernel(tokens: Expression, frameSizeE: Expression,
      hopE: Expression, thrE: Expression, coefE: Expression,
      thrsE: Expression)
      extends Expression with CodegenFallback {
    private val frameSize = litInt(frameSizeE)
    private val hop = litInt(hopE)
    private val thr = litInt(thrE)
    private val coef = litDouble(coefE)
    private val thrs: Array[Int] =
      if (thrsE.foldable) thrsE.eval(null).asInstanceOf[ArrayData].toIntArray()
      else throw new IllegalArgumentException("thresholds must be array<int> literal")
    override def children: Seq[Expression] =
      Seq(tokens, frameSizeE, hopE, thrE, coefE, thrsE)
    override def dataType: DataType = LlStructType
    override def nullable: Boolean = tokens.nullable
    private def statsRow(b: Stats.Block): GenericInternalRow =
      new GenericInternalRow(Array[Any](b.min, b.max, b.median, b.mean,
        b.gmean, b.variance, b.centroid, b.spread, b.skewness, b.kurtosis,
        b.flatness, b.dmean, b.dvariance))
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val n = arr.length
      // framing + series (loop identical to FrameFeatures)
      val nFrames = if (n >= frameSize) (n - frameSize) / hop + 1 else 1
      val frames = new Array[Any](nFrames)
      val rms = new Array[Double](nFrames)
      val peaks = new Array[Double](nFrames)
      val audible = new Array[Boolean](nFrames)
      var f = 0
      while (f < nFrames) {
        val start = f * hop
        val len = math.min(frameSize, n - start)
        var s = 0L; var q = 0L; var p = 0
        var i = start
        val end = start + len
        while (i < end) {
          val x = arr(i)
          s += x
          q += x.toLong * x
          val ax = math.abs(x)
          if (ax > p) p = ax
          i += 1
        }
        val r = math.sqrt(q.toDouble / len)
        frames(f) = new GenericInternalRow(Array[Any](
          f, len, s, q, p, r, p > thr))
        rms(f) = r
        peaks(f) = p.toDouble
        audible(f) = p > thr
        f += 1
      }
      // envelope recursion (identical to EnvelopeScan)
      val env = new Array[Double](nFrames)
      var state = 0.0
      var i = 0
      while (i < nFrames) {
        state = rms(i) + coef * (state - rms(i))
        env(i) = state
        i += 1
      }
      // 13-stat blocks (identical to StatsBlock)
      val bR = Stats.oracle(rms.toIndexedSeq)
      val bE = Stats.oracle(env.toIndexedSeq)
      // multi-threshold bounds (identical to EffectiveBounds)
      val nT = thrs.length
      val first = Array.fill(nT)(-1)
      val last = Array.fill(nT)(-1)
      i = 0
      while (i < n) {
        val ax = math.abs(arr(i))
        var t = 0
        while (t < nT) {
          if (ax > thrs(t)) { if (first(t) == -1) first(t) = i; last(t) = i }
          t += 1
        }
        i += 1
      }
      val bounds = new Array[Any](nT)
      var t = 0
      while (t < nT) {
        bounds(t) = new GenericInternalRow(Array[Any](
          first(t), last(t), if (first(t) == -1) 0 else last(t) - first(t) + 1))
        t += 1
      }
      new GenericInternalRow(Array[Any](
        new GenericArrayData(frames),
        UnsafeArrayData.fromPrimitiveArray(rms),
        UnsafeArrayData.fromPrimitiveArray(peaks),
        UnsafeArrayData.fromPrimitiveArray(env),
        UnsafeArrayData.fromPrimitiveArray(audible),
        statsRow(bR), statsRow(bE),
        new GenericArrayData(bounds)))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), frameSizeE = c(1), hopE = c(2), thrE = c(3),
        coefE = c(4), thrsE = c(5))
  }

  // ------------------------------------------------------------------

  val CoresetPickType: StructType = StructType(Seq(
    StructField("step", IntegerType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("gain_micro", LongType, nullable = false),
    StructField("coverage_micro", LongType, nullable = false)))

  /** graft_coreset_cell(members ARRAY<STRUCT<vec_id BIGINT,
    * embedding ARRAY<FLOAT|DOUBLE>>>, k INT) → ARRAY<[[CoresetPickType]]>
    *
    * Facility-location greedy WITHIN one cell — the per-task kernel of
    * [[graft.ops.Similarity.coresetGreedyPerCell]]. Semantics are
    * bit-identical to the all-pairs oracle
    * ([[graft.ops.Similarity.coresetGreedy]]) restricted to the cell:
    * micro-quantized cosines `floor(cos·10⁶ + 0.5)` as BIGINT, cover
    * starts at 0, marginal gain `Σ_j max(q(j,c) − cover_j, 0)` is an exact
    * commutative integer sum, argmax ties break to the lowest vec_id, and
    * min(k, m) rounds for an m-member cell. Members are sorted by vec_id
    * before the greedy so the result is invariant to `collect_list` order.
    * Cost: m² cosines + k·m gain updates per cell — the Σ m_c² SemDeDup
    * bound, embarrassingly parallel across cells. */
  case class CoresetGreedyCell(members: Expression, kE: Expression)
      extends Expression with CodegenFallback {
    private lazy val k = litInt(kE)
    override def children: Seq[Expression] = Seq(members, kE)
    override def dataType: DataType =
      ArrayType(CoresetPickType, containsNull = false)
    override def nullable: Boolean = members.nullable
    override def eval(input: InternalRow): Any = {
      val mAny = members.eval(input)
      if (mAny == null) return null
      val arr = mAny.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val elemType = members.dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType]
      val embType = elemType.fields(1).dataType
      val ids = new Array[Long](m)
      val embs = new Array[Array[Double]](m)
      var i = 0
      while (i < m) {
        val row = arr.getStruct(i, 2)
        ids(i) = row.getLong(0)
        embs(i) = doubles(row.getArray(1), embType, "graft_coreset_cell")
        i += 1
      }
      // sort members by vec_id: argmax tie-break + output determinism
      val order = Array.range(0, m).sortBy(ids(_))
      // q(j, c) micro-quantized cosine matrix, both axes in sorted order
      val q = Array.ofDim[Long](m, m)
      var a = 0
      while (a < m) {
        val xs = embs(order(a))
        var b = 0
        while (b < m) {
          val ys = embs(order(b))
          val n = math.min(xs.length, ys.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var t = 0
          while (t < n) {
            dot += xs(t) * ys(t)
            na += xs(t) * xs(t)
            nb += ys(t) * ys(t)
            t += 1
          }
          val cos = if (na == 0.0 || nb == 0.0) 0.0
                    else dot / math.sqrt(na * nb)
          q(a)(b) = math.floor(cos * 1000000 + 0.5).toLong
          b += 1
        }
        a += 1
      }
      val cover = new Array[Long](m)
      val picked = new Array[Boolean](m)
      val rounds = math.min(k, m)
      val out = new Array[Any](rounds)
      var running = 0L
      var step = 0
      while (step < rounds) {
        var bestC = -1
        var bestGain = -1L
        var c = 0
        while (c < m) {
          if (!picked(c)) {
            var gain = 0L
            var j = 0
            while (j < m) {
              val d = q(j)(c) - cover(j)
              if (d > 0L) gain += d
              j += 1
            }
            // strict > : ties keep the earliest (lowest vec_id) candidate
            if (gain > bestGain) { bestGain = gain; bestC = c }
          }
          c += 1
        }
        picked(bestC) = true
        running += bestGain
        var j = 0
        while (j < m) {
          if (q(j)(bestC) > cover(j)) cover(j) = q(j)(bestC)
          j += 1
        }
        out(step) = new GenericInternalRow(Array[Any](
          step + 1, ids(order(bestC)), bestGain, running))
        step += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(members = c(0), kE = c(1))
  }
}
