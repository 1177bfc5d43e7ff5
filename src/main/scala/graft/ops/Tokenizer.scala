package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.functions.models
import graft.functions.expressions.{SegModel, ViterbiSeg, corpusUnigrams}

/** Distributed BPE tokenizer training: iterative adjacent-pair counting +
  * greedy merge over the pre-tokenized corpus.
  *
  * The reference ships a fixed front-end vocabulary (its classification
  * models consume fixed descriptor vectors, `Classification/Source/Models/
  * GBDT.cpp`); a training-data pipeline at 100 TB instead LEARNS the
  * subword vocabulary from the corpus. The distributed part of BPE
  * training is exactly one primitive repeated k times: count adjacent
  * pairs over the current token streams (a map-side-combined groupBy —
  * the same shuffle shape as `token_vocab`), pick the argmax pair, and
  * rewrite every stream with the new merge (embarrassingly parallel
  * per-row kernel, [[graft.functions.expressions.BpeApplyMerges]]).
  *
  * == Scale design (the 100 TB story) ==
  * Each round is one shuffle of (pair → partial count) — the pair alphabet
  * is bounded by (vocab + k)², and partial aggregation collapses the
  * per-token stream to distinct-pair cardinality BEFORE the exchange, so
  * the shuffle never carries per-token rows. The merge rewrite is a
  * narrow per-row pass (O(k·n_tok) worst case). Two entry points:
  *
  *  - [[bpeTrain]] — the production driver loop: k rounds, each ONE tiny
  *    action (`head` of a 1-row argmax), merge rules accumulate on the
  *    driver (O(k) state, like the k-means round loop in
  *    [[Similarity.ivfTrainCells]] and the star-contraction convergence
  *    probe in [[Dedup.resolveClustersStar]]).
  *  - [[mergeTable]] — the same computation composed as ONE lazy plan
  *    with zero driver actions: round r's argmax is a 1-row broadcast
  *    crossJoined into round r+1's rewrite. Plan depth grows O(k²), so
  *    it is the oracle-friendly form for small k; the driver loop is the
  *    production form for real vocabularies.
  *
  * Greedy-left overlap semantics ([a,a,a] with rule (a,a)→m gives [m,a])
  * match every mainstream BPE implementation; the DuckDB mirror expresses
  * the same rule relationally (consecutive-candidate islands, keep even
  * offsets — [[duckTrainSql]]).
  */
object Tokenizer {

  /** First merged-token id — far above the synthetic alphabet (±4096). */
  val NewIdBase: Int = 1 << 20

  /** Adjacent-pair counts (a, b, cnt) over `tokensCol`. Pairs are built
    * with slice+arrays_zip (codegen'd, no per-token lambda dispatch) and
    * partially aggregated map-side, so the exchange carries distinct
    * pairs, not tokens. */
  def pairCounts(seqs: DataFrame, tokensCol: String = "tokens"): DataFrame = {
    val t = col(tokensCol)
    seqs
      .select(t.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1))).as("z"))
      .select(col("z.0").as("a"), col("z.1").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
  }

  /** Ranked pair report: top `k` pairs by count (full deterministic
    * tiebreak cnt desc, a, b). The ranking window runs over the DISTINCT
    * PAIR table (bounded by the squared alphabet), never the corpus. */
  def pairReport(seqs: DataFrame, k: Int,
                 tokensCol: String = "tokens"): DataFrame = {
    val ord = Window.orderBy(col("cnt").desc, col("a"), col("b"))
    pairCounts(seqs, tokensCol)
      .withColumn("rank", row_number().over(ord))
      .filter(col("rank") <= k)
      .select(col("a"), col("b"), col("cnt"), col("rank"))
  }

  private def top1(stream: DataFrame): DataFrame =
    pairCounts(stream)
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)

  /** The k composed merge rounds: per round, the learned 1-row rule plus
    * the stream rewritten by it. Shared core of [[mergeTable]] and
    * [[encodeTable]]; returns (per-round rule rows, final encoded
    * stream). */
  private def rounds(seqs: DataFrame, k: Int): (Vector[DataFrame], DataFrame) = {
    require(k >= 1, s"need at least one merge round: $k")
    var stream = seqs.select(col("doc_id"), col("tokens"))
    var rules = Vector.empty[DataFrame]
    var r = 0
    while (r < k) {
      val t = top1(stream)
      rules :+= t.select(lit(r + 1).as("rank"), col("a"), col("b"),
        lit(NewIdBase + r).as("new_id"), col("cnt"))
      // LEFT join on a constant key, not a crossJoin: when a round finds
      // ZERO adjacent pairs (every stream shrunk below 2 tokens) the top-1
      // table is empty, and a crossJoin would annihilate the stream. The
      // left join keeps every row with null __a/__b, the `when` guard makes
      // the round a no-op rewrite — exactly what the Duck mirror's empty
      // cand$r island derivation produces, and the round's rule row
      // contributes nothing to [[mergeTable]] on either side.
      val t1 = broadcast(t.select(lit(1).as("__j"),
        col("a").as("__a"), col("b").as("__b")))
      stream = stream
        .withColumn("__j", lit(1))
        .join(t1, Seq("__j"), "left")
        .withColumn("tokens", when(col("__a").isNull, col("tokens"))
          .otherwise(expr(
            s"graft_bpe_apply(tokens, array(__a), array(__b), array(${NewIdBase + r}))")))
        .select(col("doc_id"), col("tokens"))
      r += 1
    }
    (rules, stream)
  }

  /** k-round merge table (rank, a, b, new_id, cnt) as ONE composed plan —
    * zero driver actions; see the scale-design note above for when to
    * prefer [[bpeTrain]]. */
  def mergeTable(seqs: DataFrame, k: Int): DataFrame =
    rounds(seqs, k)._1.reduce(_ unionByName _)

  /** Train-and-encode as ONE composed zero-collect plan: the same k merge
    * rounds as [[mergeTable]], returning the final encoded stream —
    * (doc_id, tokens_enc array<int>, n_enc int). Plan depth is O(k²) like
    * [[mergeTable]] (each round's broadcast top-1 hangs off the previous
    * stream), so this form is for small k / oracle checks; production
    * vocabulary sizes run [[bpeTrain]] (k driver actions, O(k) rule
    * state) then encode the corpus with ONE narrow [[applyMergesExpr]]
    * projection — no shuffle on the encode pass at any corpus size. */
  def encodeTable(seqs: DataFrame, k: Int): DataFrame =
    rounds(seqs, k)._2.select(col("doc_id"),
      col("tokens").as("tokens_enc"),
      size(col("tokens")).as("n_enc"))

  /** A learned merge rule: `rank`-th merge rewrites adjacent (a, b) to
    * `newId`; `cnt` is the pair's count at learn time. */
  final case class MergeRule(rank: Int, a: Int, b: Int, newId: Int, cnt: Long)

  /** Production BPE training driver loop: k rounds, each one pair-count
    * shuffle + a 1-row argmax action. Rules accumulate on the driver
    * (O(k) state); each round re-applies the accumulated rules from the
    * source stream, so the loop is stateless between actions and
    * resumable from any prefix of the rule list. Stops EARLY (returning
    * the rules learned so far, possibly fewer than k) when a round finds
    * no adjacent pairs left to merge — the corpus is exhausted, not an
    * error. */
  def bpeTrain(seqs: DataFrame, k: Int): Seq[MergeRule] = {
    require(k >= 1, s"need at least one merge round: $k")
    val src = seqs.select(col("doc_id"), col("tokens"))
    var rules = Vector.empty[MergeRule]
    var exhausted = false
    while (rules.length < k && !exhausted) {
      val applied =
        if (rules.isEmpty) src
        else src.withColumn("tokens", applyMergesExpr("tokens", rules))
      top1(applied).collect().headOption match {
        case Some(row) =>
          rules :+= MergeRule(rules.length + 1, row.getInt(0), row.getInt(1),
            NewIdBase + rules.length, row.getLong(2))
        case None => exhausted = true
      }
    }
    rules
  }

  /** Column expression applying `rules` (in rank order) to `tokensCol`
    * via the native kernel. */
  def applyMergesExpr(tokensCol: String,
                      rules: Seq[MergeRule]): org.apache.spark.sql.Column = {
    require(rules.nonEmpty, "no merge rules to apply")
    val as = rules.map(_.a).mkString(",")
    val bs = rules.map(_.b).mkString(",")
    val ms = rules.map(_.newId).mkString(",")
    expr(s"graft_bpe_apply($tokensCol, array($as), array($bs), array($ms))")
  }

  // ---------------------------------------------------------------- Duck

  /** DuckDB pair-count fragment over a CTE named `src` holding
    * (tokens, n_tok). */
  private def duckPairCounts(src: String): String =
    s"""SELECT p.a AS a, p.b AS b, count(*) AS cnt FROM (
       |  SELECT unnest(list_transform(range(CAST(n_tok AS BIGINT) - 1),
       |    i -> struct_pack(a := tokens[i + 1], b := tokens[i + 2]))) AS p
       |  FROM $src WHERE n_tok >= 2) GROUP BY 1, 2""".stripMargin

  /** DuckDB mirror of [[pairReport]]. `prelude` binds a `seqs` CTE body
    * (no leading WITH). */
  def duckPairsSql(prelude: String, k: Int): String =
    s"""WITH $prelude,
       |c AS (${duckPairCounts("seqs")})
       |SELECT a, b, cnt, rank FROM (
       |  SELECT a, b, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS INTEGER)
       |      AS rank
       |  FROM c)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of [[mergeTable]]/[[bpeTrain]]: k unrolled rounds of
    * the RELATIONAL form of the greedy merge. The engine's kernel walks
    * each array left-to-right; the mirror derives the identical result
    * set-wise — candidate positions (v=a ∧ next=b), grouped into
    * consecutive-run islands, keeping even island offsets (greedy
    * self-overlap: [a,a,a] → [m,a]), consumed successors dropped, stream
    * positions re-densified per round. An independent derivation, so
    * oracle parity genuinely cross-checks the kernel's overlap semantics
    * rather than re-running them. */
  def duckTrainSql(prelude: String, k: Int): String = {
    val sb = duckMergeChain(prelude, k)
    val rows = (1 to k).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS rank, a, b,
         |  CAST(${NewIdBase + r - 1} AS INTEGER) AS new_id,
         |  CAST(cnt AS BIGINT) AS cnt FROM t$r""".stripMargin
    }
    sb.append(rows.mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** DuckDB mirror of [[encodeTable]]: the same k relational merge rounds
    * ([[duckTrainSql]] chain), final stream re-aggregated into per-doc
    * token arrays — an independent derivation of the kernel's full encode
    * output, not just its learned rules. */
  def duckEncodeSql(prelude: String, k: Int): String = {
    val sb = duckMergeChain(prelude, k)
    // LEFT JOIN from the doc list, not a bare GROUP BY over the stream:
    // a zero-token document generates no s0 positions, and grouping the
    // stream alone would drop it — the engine's encodeTable keeps it as
    // (doc_id, [], 0).
    sb.append(
      s"""SELECT seqs.doc_id,
         |  coalesce(g.tokens_enc, CAST([] AS INTEGER[])) AS tokens_enc,
         |  coalesce(g.n_enc, 0) AS n_enc
         |FROM seqs LEFT JOIN (
         |  SELECT doc_id,
         |    list(CAST(v AS INTEGER) ORDER BY i) AS tokens_enc,
         |    CAST(count(*) AS INTEGER) AS n_enc
         |  FROM s$k GROUP BY doc_id) g USING (doc_id)""".stripMargin)
    sb.toString
  }

  /** Shared CTE chain for [[duckTrainSql]]/[[duckEncodeSql]]: stream
    * positions s0, then per round r the pair table pt_r, top-1 t_r,
    * candidate/greedy-island start positions, and the rewritten stream
    * s_r. Returned builder ends after the last CTE, ready for a final
    * SELECT. */
  private def duckMergeChain(prelude: String, k: Int): StringBuilder = {
    require(k >= 1)
    val sb = new StringBuilder
    sb.append(s"WITH $prelude,\n")
    // dense 1-based stream positions
    sb.append(
      s"""s0 AS (
         |  SELECT doc_id, q.i + 1 AS i, q.t AS v FROM (
         |    SELECT doc_id, unnest(list_transform(range(CAST(n_tok AS BIGINT)),
         |      i -> struct_pack(i := i, t := tokens[i + 1]))) AS q
         |    FROM seqs)),
         |""".stripMargin)
    for (r <- 1 to k) {
      val newId = NewIdBase + r - 1
      sb.append(
        s"""pt$r AS MATERIALIZED (
           |  SELECT doc_id, i, v,
           |    lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS vn
           |  FROM s${r - 1}),
           |t$r AS (
           |  SELECT v AS a, vn AS b, count(*) AS cnt FROM pt$r
           |  WHERE vn IS NOT NULL GROUP BY 1, 2
           |  ORDER BY cnt DESC, a, b LIMIT 1),
           |cand$r AS (
           |  SELECT pt.doc_id, pt.i FROM pt$r pt, t$r t
           |  WHERE pt.v = t.a AND pt.vn = t.b),
           |st$r AS MATERIALIZED (
           |  SELECT doc_id, i FROM (
           |    SELECT doc_id, i,
           |      row_number() OVER (PARTITION BY doc_id, g ORDER BY i) AS rr
           |    FROM (SELECT doc_id, i,
           |            i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
           |              AS g
           |          FROM cand$r))
           |  WHERE (rr - 1) % 2 = 0),
           |s$r AS MATERIALIZED (
           |  SELECT pt.doc_id,
           |    row_number() OVER (PARTITION BY pt.doc_id ORDER BY pt.i) AS i,
           |    CASE WHEN s.i IS NOT NULL THEN $newId ELSE pt.v END AS v
           |  FROM pt$r pt
           |  LEFT JOIN st$r s ON s.doc_id = pt.doc_id AND s.i = pt.i
           |  LEFT JOIN st$r c ON c.doc_id = pt.doc_id AND c.i = pt.i - 1
           |  WHERE c.i IS NULL),
           |""".stripMargin)
    }
    // trim the trailing ",\n" of the last CTE
    sb.setLength(sb.length - 2)
    sb.append("\n")
    sb
  }

  /** Vocabulary pruning: every token occurring fewer than `minCount`
    * times in the corpus is rewritten to the `unk` id (OOV collapse — the
    * standard pre-tokenizer vocabulary cut). The rare SET is model-sized
    * (bounded by the 12-bit token domain, never the corpus), so it is
    * collected once from a histogram-kernel counting job (the
    * [[graft.ops.Packing]]-boundary / NaiveBayes-fit "planning metadata"
    * role) and the rewrite is ONE narrow kernel projection
    * ([[graft.functions.expressions.RemapTokens]]: literal rare set →
    * 4096-slot bitmap, one array load per token) — zero shuffle, output
    * token arrays pinned bitwise by the oracle. */
  def unkRemap(seqs: DataFrame, minCount: Long, unk: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val rare = corpusUnigrams(seqs)
      .filter(col("c") < minCount)
      .select((col("gram") - 2048).cast("int").as("t"))
      .collect().map(_.getInt(0)).sorted
    seqs.select(col("doc_id"),
      call_function("graft_remap_tokens", col("tokens"),
        typedlit(rare), lit(unk)).as("tokens_remap"),
      col("n_tok"))
  }

  /** DuckDB mirror of [[unkRemap]] (zero-token docs kept as empty arrays,
    * the [[duckEncodeSql]] left-join pattern). */
  def duckUnkRemapSql(prelude: String, minCount: Long, unk: Int): String =
    s"""WITH $prelude,
       |inst AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(tokens, 1) AS i,
       |         unnest(tokens) AS t
       |  FROM seqs),
       |cnt AS (SELECT t, count(*) AS c FROM inst GROUP BY 1),
       |rare AS (SELECT t FROM cnt WHERE c < $minCount)
       |SELECT seqs.doc_id,
       |  coalesce(g.tokens_remap, CAST([] AS INTEGER[])) AS tokens_remap,
       |  seqs.n_tok
       |FROM seqs LEFT JOIN (
       |  SELECT inst.doc_id,
       |    list(CASE WHEN rare.t IS NULL THEN inst.t ELSE $unk END
       |         ORDER BY inst.i) AS tokens_remap
       |  FROM inst LEFT JOIN rare USING (t)
       |  GROUP BY inst.doc_id) g USING (doc_id)""".stripMargin

  /** T5-style span corruption (grid-aligned): fired 8-token slots have a
    * 2..4-token span replaced by ONE sentinel in the input and emitted as
    * sentinel+span in the target — the seq2seq denoising materialization
    * step, deterministic per (doc id, slot) like [[mlmMask]]. Output: the
    * corrupted input and target arrays per doc plus the stats block. Zero
    * shuffle ([[graft.functions.expressions.T5Input]] family). */
  def t5Corrupt(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    seqs.selectExpr("doc_id", "n_tok",
      "graft_t5_input(tokens, CAST(substring(doc_id, 2) AS BIGINT)) AS input",
      "graft_t5_target(tokens, CAST(substring(doc_id, 2) AS BIGINT)) AS target",
      "graft_t5_stats(tokens, CAST(substring(doc_id, 2) AS BIGINT)) AS st")
  }

  /** Oracle-facing stats projection of [[t5Corrupt]] — counts + both
    * position-weighted checksums (the [[mlmReport]] convention: a green
    * hash proves both rewritten sequences). */
  def t5Report(seqs: DataFrame): DataFrame =
    t5Corrupt(seqs).selectExpr("doc_id", "n_tok",
      "element_at(st, 1) AS n_spans",
      "element_at(st, 2) AS n_corrupted",
      "element_at(st, 3) AS input_len",
      "element_at(st, 4) AS target_len",
      "element_at(st, 5) AS input_checksum",
      "element_at(st, 6) AS target_checksum")

  /** DuckDB mirror of [[t5Report]] — the slot draw and span fragments
    * derived POSITIONALLY: spans and tokens unnest to rows, per-span
    * input/target fragment lengths cumulate into window offsets, and the
    * position-weighted checksums sum each contribution (sentinel rows,
    * kept span tokens at their shifted local offsets, the sub-span tail)
    * directly — no per-span interpreted `list_slice`/concat lambdas,
    * which cost ~25 s of the gate replay (measured round 5; this form is
    * bitwise-equal at ~1.6 s). */
  def duckT5ReportSql(prelude: String): String = {
    val P = "1000000007"
    val xs = s"((did * 65536 + s + 31) % $P)"
    val h = s"((($xs * $xs + 747796405 * $xs + 12345) % $P" +
      s" * 48271 + 11) % $P)"
    s"""WITH $prelude,
       |base AS MATERIALIZED (
       |  SELECT doc_id, n_tok, tokens,
       |    CAST(substring(doc_id, 2) AS BIGINT) AS did
       |  FROM seqs),
       |spans AS (
       |  SELECT doc_id, did, unnest(range(CAST(len(tokens) // 8 AS BIGINT))) AS s
       |  FROM base),
       |sp AS MATERIALIZED (
       |  SELECT doc_id, s, (h % 100 < 35) AS fired,
       |    (2 + (h // 100) % 3) AS el,
       |    CAST(4200 + s % 64 AS BIGINT) AS sent
       |  FROM (SELECT doc_id, s, $h AS h FROM spans)),
       |splen AS (
       |  SELECT *, CASE WHEN fired THEN 9 - el ELSE 8 END AS ilen,
       |    CASE WHEN fired THEN el + 1 ELSE 0 END AS tlen
       |  FROM sp),
       |soff AS MATERIALIZED (
       |  SELECT *, sum(ilen) OVER w - ilen AS ioff, sum(tlen) OVER w - tlen AS toff
       |  FROM splen WINDOW w AS (PARTITION BY doc_id ORDER BY s)),
       |tot AS MATERIALIZED (
       |  SELECT b.doc_id,
       |    coalesce(t.ilen_tot, 0) AS ilen_tot, coalesce(t.tlen_tot, 0) AS tlen_tot,
       |    coalesce(t.n_spans, 0) AS n_spans,
       |    coalesce(t.n_corrupted, 0) AS n_corrupted,
       |    coalesce(t.sent_i, 0) AS sent_i, coalesce(t.sent_t, 0) AS sent_t
       |  FROM base b LEFT JOIN (
       |    SELECT doc_id, sum(ilen) AS ilen_tot, sum(tlen) AS tlen_tot,
       |      sum(CASE WHEN fired THEN 1 ELSE 0 END) AS n_spans,
       |      sum(CASE WHEN fired THEN el ELSE 0 END) AS n_corrupted,
       |      sum(CASE WHEN fired THEN (ioff + 1) * sent ELSE 0 END) AS sent_i,
       |      sum(CASE WHEN fired THEN (toff + 1) * sent ELSE 0 END) AS sent_t
       |    FROM soff GROUP BY 1) t USING (doc_id)),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(tokens, 1) AS i, unnest(tokens) AS t,
       |    n_tok FROM base),
       |spantok AS (
       |  SELECT k.doc_id,
       |    sum(CASE WHEN o.fired AND (k.i - 1) % 8 + 1 > o.el
       |          THEN (o.ioff + (k.i - 1) % 8 + 1 - o.el + 1) * k.t
       |        WHEN NOT o.fired THEN (o.ioff + (k.i - 1) % 8 + 1) * k.t
       |        ELSE 0 END) AS ck_i,
       |    sum(CASE WHEN o.fired AND (k.i - 1) % 8 + 1 <= o.el
       |          THEN (o.toff + 1 + (k.i - 1) % 8 + 1) * k.t
       |        ELSE 0 END) AS ck_t
       |  FROM tok k JOIN soff o ON o.doc_id = k.doc_id AND o.s = (k.i - 1) // 8
       |  GROUP BY 1),
       |tailtok AS (
       |  SELECT k.doc_id,
       |    sum((tt.ilen_tot + (k.i - (k.n_tok // 8) * 8)) * k.t) AS ck_tail,
       |    count(*) AS tail_len
       |  FROM tok k JOIN tot tt USING (doc_id)
       |  WHERE (k.i - 1) // 8 >= k.n_tok // 8
       |  GROUP BY 1)
       |SELECT b.doc_id, b.n_tok,
       |  CAST(tt.n_spans AS BIGINT) AS n_spans,
       |  CAST(tt.n_corrupted AS BIGINT) AS n_corrupted,
       |  CAST(tt.ilen_tot + coalesce(tl.tail_len, 0) AS BIGINT) AS input_len,
       |  CAST(tt.tlen_tot AS BIGINT) AS target_len,
       |  CAST(tt.sent_i + coalesce(st.ck_i, 0) + coalesce(tl.ck_tail, 0)
       |    AS BIGINT) AS input_checksum,
       |  CAST(tt.sent_t + coalesce(st.ck_t, 0) AS BIGINT) AS target_checksum
       |FROM base b
       |JOIN tot tt USING (doc_id)
       |LEFT JOIN spantok st USING (doc_id)
       |LEFT JOIN tailtok tl USING (doc_id)""".stripMargin
  }

  /** Masked-LM corruption plan (BERT: mask 15 % of positions; of those
    * 80 % → sentinel, 10 % → random token, 10 % → kept) — the
    * training-input materialization step of an MLM pipeline, fully
    * deterministic in (doc id, position) so examples never change across
    * reruns/partitionings/corpus growth (the hash-split discipline
    * applied at TOKEN granularity). Output: the rewritten arrays plus the
    * per-doc stats block. Zero shuffle — one narrow kernel projection
    * ([[graft.functions.expressions.MlmMask]]/`MlmStats`) at any corpus
    * size. */
  def mlmMask(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    seqs.selectExpr("doc_id", "n_tok",
      "graft_mlm_mask(tokens, CAST(substring(doc_id, 2) AS BIGINT)) AS masked",
      "graft_mlm_stats(tokens, CAST(substring(doc_id, 2) AS BIGINT)) AS st")
  }

  /** Oracle-facing stats projection of [[mlmMask]]: counts + the
    * position-weighted checksum that pins every rewritten token's value
    * and place (a green hash proves the whole rewrite without shipping
    * the arrays through the compare). */
  def mlmReport(seqs: DataFrame): DataFrame =
    mlmMask(seqs).selectExpr("doc_id", "n_tok",
      "element_at(st, 1) AS n_masked",
      "element_at(st, 2) AS n_sentinel",
      "element_at(st, 3) AS n_random",
      "element_at(st, 4) AS n_kept",
      "element_at(st, 5) AS mask_checksum")

  /** DuckDB mirror of [[mlmReport]] — the same two-step mod-p scramble,
    * branch rule and checksum, per exploded position. */
  def duckMlmReportSql(prelude: String): String = {
    val h = "((x * x + 747796405 * x + 12345) % 1000000007" +
      " * 48271 + 11) % 1000000007"
    s"""WITH $prelude,
       |pos AS (
       |  SELECT doc_id, n_tok, i, t,
       |    (did * 8192 + i) % 1000000007 AS x
       |  FROM (
       |    SELECT doc_id, n_tok,
       |      CAST(substring(doc_id, 2) AS BIGINT) AS did,
       |      generate_subscripts(tokens, 1) - 1 AS i,
       |      unnest(tokens) AS t
       |    FROM seqs)),
       |stepped AS (
       |  SELECT doc_id, n_tok, i,
       |    CASE WHEN h % 100 < 15 THEN
       |      CASE WHEN (h // 100) % 10 <= 7 THEN 4096
       |           WHEN (h // 100) % 10 = 8
       |             THEN CAST((h // 1000) % 4096 - 2048 AS INTEGER)
       |           ELSE t END
       |    ELSE t END AS m,
       |    CASE WHEN h % 100 < 15 THEN
       |      CASE WHEN (h // 100) % 10 <= 7 THEN 1
       |           WHEN (h // 100) % 10 = 8 THEN 2 ELSE 3 END
       |    ELSE 0 END AS branch
       |  FROM (SELECT *, $h AS h FROM pos))
       |SELECT seqs.doc_id, seqs.n_tok,
       |  coalesce(g.n_masked, 0) AS n_masked,
       |  coalesce(g.n_sentinel, 0) AS n_sentinel,
       |  coalesce(g.n_random, 0) AS n_random,
       |  coalesce(g.n_kept, 0) AS n_kept,
       |  coalesce(g.mask_checksum, 0) AS mask_checksum
       |FROM seqs LEFT JOIN (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN branch > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_masked,
       |    CAST(sum(CASE WHEN branch = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_sentinel,
       |    CAST(sum(CASE WHEN branch = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_random,
       |    CAST(sum(CASE WHEN branch = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_kept,
       |    CAST(sum((i + 1) * m) AS BIGINT) AS mask_checksum
       |  FROM stepped
       |  GROUP BY 1) g USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------------ unigram LM

  /** Unigram-LM tokenizer trainer (SentencePiece analog, hard-EM form;
    * Kudo, "Subword Regularization", ACL 2018): candidate pieces =
    * every window unigram + the top-`b` window bigrams; piece log-probs
    * initialize from corpus counts (micro-nat quantized, the
    * [[graft.ops.LanguageModel]] convention); the E-step Viterbi-segments
    * each document under the model (the native
    * [[graft.functions.expressions.ViterbiSeg]] integer DP — bitwise
    * deterministic, ties prefer the longer piece); the M-step re-counts
    * piece usage from the segmentations and re-estimates the scores.
    *
    * == Scale shape ==
    * The model is bounded by the 12-bit token domain + `b` candidates —
    * never the corpus — and rides the plan as a broadcast 1-row dimension
    * (the [[encodeTable]] zero-collect pattern): counting is two
    * map-side-combined aggregations, segmentation is ONE narrow kernel
    * projection per doc, and the census shuffles only (piece, count)
    * partials. Nothing corpus-sized ever moves or lands on the driver.
    *
    * `w` caps the per-doc analysis window: the ENGINE DP is O(n) and
    * needs no cap; the cap exists so the oracle's recursive-CTE mirror
    * (one recursion round per position) stays tractable, and both
    * engines apply it identically (the [[CurationQueries.EditPrefixW]]
    * oracle-dial pattern). */
  /** Driver-side model arrays `(ut, us, bt, bs2)` — sorted piece codes +
    * micro-nat scores. r6: the model is (window-vocab + b)-bounded, so
    * the two count tables collect directly (u1 ≤ 4096 rows; b2 = the
    * top-`b` TakeOrdered rows — never the full bigram census) and the
    * totals/scores/sort happen on the driver: two small jobs instead of
    * the former ~10-stage packed-aggregate chain (tot crossJoins +
    * per-side collect_list single-reducer aggregations + an eager
    * checkpoint). Score quantization replicates the SQL
    * `CAST(round(ln(c/total0)·10^6) AS BIGINT)` exactly
    * ([[graft.functions.models.microNat]]). */
  private def unigramModelArrays(seqs: DataFrame, w: Int, b: Int): SegModel = {
    graft.functions.expressions.register(seqs.sparkSession)
    val tw = seqs.select(expr(s"slice(tokens, 1, $w)").as("wtoks"))
    // BOTH count families in ONE job: bigram codes ride the same explode
    // tagged by +2^25 (above the 24-bit bigram identity range, so no
    // collision with unigram codes), and one take-ordered collect returns
    // every unigram code (at most 4096, ordered first) followed by the
    // bigrams by (count desc, code asc), of which the first b are kept —
    // no window sends the bigram census through one partition
    val tag = 1L << 25
    val codes = Array.newBuilder[Long]
    val counts = Array.newBuilder[Long]
    models.foldRows(tw.select(explode(concat(
        expr("graft_pack_ngrams(wtoks, 1)"),
        expr(s"transform(graft_pack_ngrams(wtoks, 2), c -> c + $tag)")))
        .as("code"))
      .groupBy(col("code")).agg(count(lit(1)).as("c"))
      .orderBy((col("code") >= tag).asc, col("c").desc, col("code").asc)
      .limit(4096 + b)) { r => codes += r.getLong(0); counts += r.getLong(1) }
    val rows = codes.result().zip(counts.result())
    val u1 = rows.filter(_._1 < tag)
    require(u1.length <= 4096, "unigram codes beyond the 12-bit token domain")
    val b2 = rows.filter(_._1 >= tag).take(b).map(p => (p._1 - tag, p._2))
    val total0 = u1.map(_._2).sum + b2.map(_._2).sum
    def score(c: Long): Long =
      models.microNat(math.log(c.toDouble / total0.toDouble) * 1000000)
    val us = u1.sortBy(_._1)
    val bs = b2.sortBy(_._1)
    SegModel(us.map(_._1), us.map(p => score(p._2)),
      bs.map(_._1), bs.map(p => score(p._2)))
  }

  /** [[unigramModelArrays]] as a one-row table `(ut, us, bt, bs2)`. */
  def unigramModel(seqs: DataFrame, w: Int, b: Int): DataFrame = {
    val m = unigramModelArrays(seqs, w, b)
    val arr = ArrayType(LongType, containsNull = false)
    seqs.sparkSession.createDataFrame(
      java.util.List.of(Row(m.uniT.toSeq, m.uniS.toSeq, m.biP.toSeq, m.biS.toSeq)),
      StructType(Seq("ut", "us", "bt", "bs2").map(StructField(_, arr, nullable = false))))
  }

  /** Per-doc Viterbi segmentation under [[unigramModel]]:
    * (doc_id, n_win, seg) with `seg` the kernel's
    * `[n_pieces, n_bi, ll_micro, checksum, code…]` layout. */
  def unigramSegmented(seqs: DataFrame, w: Int, b: Int): DataFrame = {
    // r6: the model is (window vocab + b)-bounded — built driver-side
    // ([[unigramModelArrays]]) and handed to the Viterbi kernel by
    // reference, so no document copies the arrays and the plan holds no
    // model literal; drops the crossJoin and the model checkpoint barrier
    // from the plan. Scores are the identical micro-nat integers.
    val bc = seqs.sparkSession.sparkContext.broadcast(
      unigramModelArrays(seqs, w, b))
    seqs.select(col("doc_id"), expr(s"slice(tokens, 1, $w)").as("wtoks"))
      .select(col("doc_id"), size(col("wtoks")).as("n_win"),
        models.kernel(col("wtoks"))(ViterbiSeg(_, bc)).as("seg"))
  }

  /** Driver-facing segmentation report: per-doc piece/bigram counts, the
    * Viterbi path score, and the position-weighted checksum pinning every
    * piece's identity and place — all exact integers. */
  def unigramSegment(seqs: DataFrame, w: Int, b: Int): DataFrame =
    unigramSegmented(seqs, w, b).select(col("doc_id"), col("n_win"),
      expr("element_at(seg, 1)").as("n_pieces"),
      expr("element_at(seg, 2)").as("n_bi"),
      expr("element_at(seg, 3)").as("ll_micro"),
      expr("element_at(seg, 4)").as("checksum"))

  /** M-step census: top-`topK` pieces by segmentation usage with their
    * re-estimated micro-nat scores — the round-1 vocabulary of the
    * hard-EM unigram trainer. `b` = 0 sentinel second token on unigram
    * rows (`kind` disambiguates). */
  def unigramTrain(seqs: DataFrame, w: Int, b: Int, topK: Int): DataFrame = {
    val pieces = unigramSegmented(seqs, w, b)
      .select(explode(
        expr("slice(seg, 5, CAST(element_at(seg, 1) AS INT))")).as("code"))
      .groupBy(col("code")).agg(count(lit(1)).as("used"))
    val tot1 = pieces.agg(sum(col("used")).as("total1"))
    pieces.crossJoin(broadcast(tot1))
      .select(col("code"),
        expr("IF(code < 4096, 'u', 'b')").as("kind"),
        expr("CAST(IF(code < 4096, code - 2048, code div 4096 - 2048) AS INT)")
          .as("a"),
        expr("CAST(IF(code < 4096, 0, code % 4096 - 2048) AS INT)").as("b"),
        col("used"),
        expr("""CAST(round(ln(CAST(used AS DOUBLE) / CAST(total1 AS DOUBLE))
          |  * 1000000) AS BIGINT)""".stripMargin).as("score_micro"))
      .orderBy(col("used").desc, col("code").asc).limit(topK)
  }

  /** Shared DuckDB WITH-clause chain for the unigram family (no leading
    * WITH; caller must say WITH RECURSIVE): window, model, per-position
    * scores, the forward DP (`dpr` — one recursion round per position)
    * and the backtrace (`bt` — emits one piece row per step, bigram
    * chosen exactly when the forward DP chose it: dp(i) = dp(i-2) + sb
    * with the bigram-wins tie-break). */
  private def duckUnigramChain(prelude: String, w: Int, b: Int): String = {
    val lnq = (num: String, den: String) =>
      s"CAST(round(ln(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) * 1000000) AS BIGINT)"
    s"""$prelude,
       |tw AS MATERIALIZED (
       |  SELECT doc_id, tokens[1:$w] AS wtoks FROM seqs),
       |tp AS MATERIALIZED (
       |  SELECT doc_id, CAST(generate_subscripts(wtoks, 1) AS INTEGER) AS i,
       |         unnest(wtoks) AS t
       |  FROM tw),
       |u1 AS (SELECT CAST(t + 2048 AS BIGINT) AS code, count(*) AS c
       |       FROM tp GROUP BY 1),
       |pp AS MATERIALIZED (
       |  SELECT l.doc_id, r.i,
       |    (CAST(l.t AS BIGINT) + 2048) * 4096 + (r.t + 2048) AS code
       |  FROM tp l JOIN tp r ON r.doc_id = l.doc_id AND r.i = l.i + 1),
       |b2 AS (SELECT code, count(*) AS c FROM pp GROUP BY 1
       |       ORDER BY c DESC, code LIMIT $b),
       |tot AS (SELECT (SELECT sum(c) FROM u1)
       |             + coalesce((SELECT sum(c) FROM b2), 0) AS total0),
       |uscore AS (SELECT code, ${lnq("c", "total0")} AS s
       |           FROM u1 CROSS JOIN tot),
       |bscore AS (SELECT code, ${lnq("c", "total0")} AS s
       |           FROM b2 CROSS JOIN tot),
       |ps AS MATERIALIZED (
       |  SELECT tp.doc_id, tp.i, u.s AS su, bs.s AS sb
       |  FROM tp
       |  JOIN uscore u ON u.code = tp.t + 2048
       |  LEFT JOIN pp ON pp.doc_id = tp.doc_id AND pp.i = tp.i
       |  LEFT JOIN bscore bs ON bs.code = pp.code),
       |dlen AS (SELECT doc_id, CAST(len(wtoks) AS INTEGER) AS n FROM tw),
       |dpr(doc_id, i, v, vprev) AS (
       |  SELECT doc_id, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
       |  FROM dlen
       |  UNION ALL
       |  SELECT dpr.doc_id, dpr.i + 1,
       |    CASE WHEN ps.sb IS NOT NULL AND dpr.vprev IS NOT NULL
       |           AND dpr.vprev + ps.sb >= dpr.v + ps.su
       |         THEN dpr.vprev + ps.sb ELSE dpr.v + ps.su END,
       |    dpr.v
       |  FROM dpr JOIN ps ON ps.doc_id = dpr.doc_id AND ps.i = dpr.i + 1),
       |dp AS MATERIALIZED (SELECT doc_id, i, v FROM dpr),
       |bt(doc_id, i, start, code) AS (
       |  SELECT doc_id, n, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
       |  FROM dlen
       |  UNION ALL
       |  SELECT bt.doc_id,
       |    CASE WHEN pp.code IS NOT NULL AND bs.s IS NOT NULL
       |           AND bt.i >= 2 AND d1.v = d2.v + bs.s
       |         THEN bt.i - 2 ELSE bt.i - 1 END,
       |    CASE WHEN pp.code IS NOT NULL AND bs.s IS NOT NULL
       |           AND bt.i >= 2 AND d1.v = d2.v + bs.s
       |         THEN bt.i - 2 ELSE bt.i - 1 END,
       |    CASE WHEN pp.code IS NOT NULL AND bs.s IS NOT NULL
       |           AND bt.i >= 2 AND d1.v = d2.v + bs.s
       |         THEN pp.code ELSE CAST(tp.t + 2048 AS BIGINT) END
       |  FROM bt
       |  JOIN dp d1 ON d1.doc_id = bt.doc_id AND d1.i = bt.i
       |  JOIN tp ON tp.doc_id = bt.doc_id AND tp.i = bt.i
       |  LEFT JOIN dp d2 ON d2.doc_id = bt.doc_id AND d2.i = bt.i - 2
       |  LEFT JOIN pp ON pp.doc_id = bt.doc_id AND pp.i = bt.i
       |  LEFT JOIN bscore bs ON bs.code = pp.code
       |  WHERE bt.i > 0),
       |census AS (
       |  SELECT code, CAST(count(*) AS BIGINT) AS used
       |  FROM bt WHERE code IS NOT NULL GROUP BY 1)""".stripMargin
  }

  /** DuckDB mirror of [[unigramSegment]]. */
  def duckUnigramSegmentSql(prelude: String, w: Int, b: Int): String =
    s"""WITH RECURSIVE ${duckUnigramChain(prelude, w, b)}
       |SELECT d.doc_id, d.n AS n_win,
       |  coalesce(p.n_pieces, 0) AS n_pieces,
       |  coalesce(p.n_bi, 0) AS n_bi,
       |  dn.v AS ll_micro,
       |  coalesce(p.checksum, 0) AS checksum
       |FROM dlen d
       |JOIN dp dn ON dn.doc_id = d.doc_id AND dn.i = d.n
       |LEFT JOIN (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
       |    CAST(sum(CASE WHEN code >= 4096 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bi,
       |    CAST(sum((start + 1) * code) AS BIGINT) AS checksum
       |  FROM bt WHERE code IS NOT NULL GROUP BY 1) p
       |  ON p.doc_id = d.doc_id""".stripMargin

  /** DuckDB mirror of [[unigramTrain]]. */
  def duckUnigramTrainSql(prelude: String, w: Int, b: Int,
                          topK: Int): String =
    s"""WITH RECURSIVE ${duckUnigramChain(prelude, w, b)},
       |tot1 AS (SELECT sum(used) AS total1 FROM census)
       |SELECT code,
       |  CASE WHEN code < 4096 THEN 'u' ELSE 'b' END AS kind,
       |  CAST(CASE WHEN code < 4096 THEN code - 2048
       |       ELSE code // 4096 - 2048 END AS INTEGER) AS a,
       |  CAST(CASE WHEN code < 4096 THEN 0
       |       ELSE code % 4096 - 2048 END AS INTEGER) AS b,
       |  used,
       |  CAST(round(ln(CAST(used AS DOUBLE) / CAST(total1 AS DOUBLE))
       |    * 1000000) AS BIGINT) AS score_micro
       |FROM census CROSS JOIN tot1
       |ORDER BY used DESC, code LIMIT $topK""".stripMargin
}
