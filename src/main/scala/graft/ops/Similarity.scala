package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{expressions, models}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`embedding: array<float>`).
  *
  * == Scale design ==
  *  - [[bruteTopK]] is the exact baseline: broadcast the (small) query set
  *    against the full corpus — one narrow pass, no shuffle of the corpus,
  *    top-k via per-query window. Right for |queries| ≪ |corpus|.
  *  - [[lshBuckets]] is the scale path: random-hyperplane signs (seeded,
  *    deterministic) bucket the corpus; candidates only meet inside a
  *    bucket — an equi-join instead of a cross product. Recall is tuned by
  *    bands/bits exactly like MinHash LSH. (An IVF variant — k-means
  *    centroid assignment — slots into the same bucket-join shape.)
  *  - cosine runs in the native [[expressions.CosineSim]] kernel
  *    (primitive-array fold, bitwise-mirrored in the DuckDB oracle).
  */
object Similarity {

  /** Exact brute-force top-k cosine neighbors for `vec_id < nQueries`. */
  def bruteTopK(embeddings0: DataFrame, nQueries: Int, k: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = embeddings.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr("graft_cosine(qv, embedding)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  /** DuckDB mirror of [[bruteTopK]] — identical fold order for dot/norms. */
  def duckBruteTopKSql(nQueries: Int, k: Int): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv
       |  FROM embeddings WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    (SELECT CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
       |            ELSE dot / sqrt(na * nb) END
       |     FROM (SELECT
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.qv, (x, i) ->
       |           CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
       |         (a, b) -> a + b) AS dot,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.qv, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS na,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(e.embedding, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS nb)) AS cos
       |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Sign-LSH bucket id: sign pattern of dot products against `nPlanes`
    * deterministic pseudo-random hyperplanes (seeded integer grid —
    * reproducible across engines). */
  def lshBuckets(embeddings0: DataFrame, nPlanes: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    // plane p component j = ((p*8191 + j*127 + 13) % 17) - 8  (small ints)
    val dot = (0 until nPlanes).map { p =>
      val planeExpr =
        s"""aggregate(zip_with(embedding,
           |  transform(sequence(0, size(embedding) - 1),
           |    j -> CAST((($p * 8191 + j * 127 + 13) % 17) - 8 AS DOUBLE)),
           |  (x, c) -> CAST(x AS DOUBLE) * c),
           |  CAST(0.0 AS DOUBLE), (a, b) -> a + b)""".stripMargin
      expr(s"IF($planeExpr > 0.0, CAST(${1L << p} AS BIGINT), CAST(0 AS BIGINT))")
    }.reduce(_ + _)
    embeddings.select(col("vec_id"), col("label"), dot.as("bucket"))
  }

  /** Recall@k of the LSH bucket path vs the exact baseline: approximate
    * neighbors = exact-cosine top-k *within the query's bucket*; recall =
    * |approx ∩ exact| / k per query (0 when the bucket has no candidates).
    * The measurement the scale path needs before anyone trusts it. */
  def annRecall(embeddings0: DataFrame, nQueries: Int, k: Int,
                nPlanes: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val exact = bruteTopK(embeddings0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val b = lshBuckets(embeddings0, nPlanes).select(col("vec_id"), col("bucket"))
    val qb = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val cand = b.join(qb, Seq("bucket")).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val queries = embeddings0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = cand
      .join(embeddings0.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", expr("graft_cosine(qv, embedding)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val approx = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    qb.select(col("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall_at_k"))
  }

  /** DuckDB mirror of [[annRecall]]. */
  def duckAnnRecallSql(nQueries: Int, k: Int, nPlanes: Int): String =
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${duckBruteTopKSql(nQueries, k)})),
       |b AS (SELECT vec_id, bucket FROM (${duckLshBucketsSql(nPlanes)})),
       |qb AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT qb.query_id, b.vec_id
       |  FROM b JOIN qb USING (bucket) WHERE b.vec_id <> qb.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    (SELECT CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
       |            ELSE dot / sqrt(na * nb) END
       |     FROM (SELECT
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.embedding, (x, i) ->
       |           CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
       |         (a, b) -> a + b) AS dot,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.embedding, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS na,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(e.embedding, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS nb)) AS cos
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN embeddings q ON q.vec_id = c.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM scored)
       |  WHERE rank <= $k),
       |hits AS (
       |  SELECT e.query_id, count(*) AS n_hits
       |  FROM exact e JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id)
       |SELECT q.query_id,
       |  coalesce(h.n_hits, 0) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k AS recall_at_k
       |FROM qb q LEFT JOIN hits h USING (query_id)""".stripMargin

  /** Ranked-quality metrics (NDCG@k + MRR) of the sign-LSH ANN path,
    * graded against the exact cosine baseline — the standard retrieval
    * scorecard next to [[annRecall]]'s set-overlap recall. Relevance of a
    * retrieved neighbor is its exact-baseline grade `k + 1 − brute_rank`
    * (top exact neighbor = k, …, k-th = 1, not in the exact top-k = 0), so
    * NDCG rewards the ANN for returning the RIGHT neighbors EARLY, which
    * recall@k cannot see.
    *
    * == Bitwise parity ==
    * Each DCG term `rel / log2(pos+1)` is quantized to integer micro-units
    * (`floor(rel·10⁶ / log2(pos+1) + 0.5)`) before summation: the terms
    * depend only on the small integers (rel ≤ k, pos ≤ k) — a ≤ k² value
    * table far from any rounding boundary — and integer sums are
    * order-free, so `dcg_micro`/`idcg_micro` are exact across engines and
    * partitionings; `ndcg_at_k` is ONE IEEE divide at the boundary. MRR is
    * kept in exact micro-units (`10⁶ DIV first_relevant_pos`).
    *
    * == Scale shape ==
    * Reuses the [[annRecall]] candidate plan: bucket equi-join (never the
    * corpus cross product), per-query window top-k, two small aggregations
    * keyed by query_id. Cost is the candidate scoring; the metric math adds
    * one narrow projection. */
  def annRankingMetrics(embeddings0: DataFrame, nQueries: Int, k: Int,
                        nPlanes: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val dcgTerm = "CAST(floor(rel * 1000000.0 / log2(pos + 1) + 0.5) AS BIGINT)"
    val exact = bruteTopK(embeddings0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(k + 1) - col("rank")).cast("long").as("rel"),
        col("rank").cast("long").as("pos"))
    val idcg = exact.groupBy(col("query_id"))
      .agg(sum(expr(dcgTerm)).as("idcg_micro"))
    val b = lshBuckets(embeddings0, nPlanes).select(col("vec_id"), col("bucket"))
    val qb = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val cand = b.join(qb, Seq("bucket")).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val queries = embeddings0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = cand
      .join(embeddings0.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", expr("graft_cosine(qv, embedding)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val approx = scored.withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("pos"))
    val withRel = approx
      .join(exact.select(col("query_id"), col("neighbor_id"), col("rel")),
        Seq("query_id", "neighbor_id"), "left_outer")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val perQ = withRel.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_ret"),
      sum(expr(dcgTerm)).as("dcg_micro"),
      min(when(col("rel") > 0, col("pos"))).as("first_rel"))
    qb.select(col("query_id"))
      .join(perQ, Seq("query_id"), "left_outer")
      .join(idcg, Seq("query_id"))
      .select(col("query_id"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        (coalesce(col("dcg_micro"), lit(0L)).cast("double") / col("idcg_micro"))
          .as("ndcg_at_k"),
        coalesce(expr("CAST(1000000 AS BIGINT) DIV first_rel"), lit(0L))
          .as("rr_micro"))
  }

  /** DuckDB mirror of [[annRankingMetrics]] — same micro-unit DCG terms,
    * same tie order, sums cast back to BIGINT (DuckDB sum(BIGINT) widens
    * to HUGEINT). */
  def duckAnnRankingSql(nQueries: Int, k: Int, nPlanes: Int): String = {
    val dcgTerm = "CAST(floor(rel * 1000000.0 / log2(pos + 1) + 0.5) AS BIGINT)"
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id,
       |    CAST($k + 1 - rank AS BIGINT) AS rel, CAST(rank AS BIGINT) AS pos
       |  FROM (${duckBruteTopKSql(nQueries, k)})),
       |idcg AS (
       |  SELECT query_id, CAST(sum($dcgTerm) AS BIGINT) AS idcg_micro
       |  FROM exact GROUP BY query_id),
       |b AS (SELECT vec_id, bucket FROM (${duckLshBucketsSql(nPlanes)})),
       |qb AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT qb.query_id, b.vec_id
       |  FROM b JOIN qb USING (bucket) WHERE b.vec_id <> qb.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    (SELECT CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
       |            ELSE dot / sqrt(na * nb) END
       |     FROM (SELECT
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.embedding, (x, i) ->
       |           CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
       |         (a, b) -> a + b) AS dot,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.embedding, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS na,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(e.embedding, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS nb)) AS cos
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN embeddings q ON q.vec_id = c.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id, pos FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos DESC, neighbor_id ASC)
       |           AS BIGINT) AS pos
       |    FROM scored)
       |  WHERE pos <= $k),
       |withrel AS (
       |  SELECT a.query_id, a.pos, coalesce(e.rel, 0) AS rel
       |  FROM approx a LEFT JOIN exact e
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
       |perq AS (
       |  SELECT query_id, count(*) AS n_ret,
       |    CAST(sum($dcgTerm) AS BIGINT) AS dcg_micro,
       |    min(CASE WHEN rel > 0 THEN pos END) AS first_rel
       |  FROM withrel GROUP BY query_id)
       |SELECT q.query_id,
       |  coalesce(p.n_ret, 0) AS n_ret,
       |  coalesce(p.dcg_micro, 0) AS dcg_micro,
       |  i.idcg_micro,
       |  CAST(coalesce(p.dcg_micro, 0) AS DOUBLE) / i.idcg_micro AS ndcg_at_k,
       |  coalesce(1000000 // p.first_rel, 0) AS rr_micro
       |FROM qb q
       |LEFT JOIN perq p USING (query_id)
       |JOIN idcg i USING (query_id)""".stripMargin
  }

  /** The ONE centroid-selection rule (bootstrap seed): a deterministic
    * stride sample of the corpus, `cell` = the seed's vec_id. Shared by
    * [[ivfCells]] / [[ivfRecall]] and their Duck mirrors so the engine and
    * its oracle can never desynchronize cell assignment from probing. */
  private def cents(embeddings0: DataFrame, nCells: Int): DataFrame =
    embeddings0.filter(expr("vec_id % 37 = 3"))
      .orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))

  /** SQL twin of [[cents]] (a full SELECT yielding (cell, cv)). */
  private def centsSql(nCells: Int, src: String = "embeddings"): String =
    s"""SELECT vec_id AS cell, embedding AS cv FROM $src
       |  WHERE vec_id % 37 = 3 ORDER BY vec_id LIMIT $nCells""".stripMargin

  /** IVF coarse quantizer: cells = the first `nCells` corpus vectors on a
    * deterministic stride (the sampled-centroid bootstrap of IVF — the
    * TRAINED variant is [[ivfTrainedCents]]); every vector is
    * assigned to its max-cosine centroid (ties → lowest centroid id).
    * Assignment is one broadcast of `nCells` centroids against the corpus —
    * a narrow pass, no shuffle of the big side. */
  def ivfCells(embeddings0: DataFrame, nCells: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    ivfAssign(embeddings, cents(embeddings0, nCells))
  }

  /** Assignment pass shared by the bootstrap and trained IVF paths —
    * r6 rewrite: the centroid table is model-sized (nCells rows), so it
    * folds into driver arrays and reaches the fused
    * [[expressions.IvfAssignKernel]] projection by reference (exact
    * [[expressions.CosineSim]] fold, ties → lowest cell id) — ONE narrow
    * pass over the corpus instead of crossJoin → window-argmax (which
    * paid a corpus×nCells exchange + sort per call). */
  private def ivfAssign(embeddings: DataFrame, centsDf: DataFrame): DataFrame = {
    expressions.register(embeddings.sparkSession)
    val cents = centsDf.select(col("cell"), col("cv")).orderBy(col("cell"))
    val cvType = cents.schema("cv").dataType
    val cellIds = Array.newBuilder[Long]
    val cvs = Array.newBuilder[Double]
    var dim = -1
    models.foldRows(cents) { r =>
      val cv = expressions.doubles(r.getArray(1), cvType, "ivfAssign")
      require(dim < 0 || cv.length == dim, "centroid dims must agree")
      dim = cv.length
      cellIds += r.getLong(0); cvs ++= cv
    }
    require(dim >= 0, "ivf assignment needs at least one centroid")
    val bc = embeddings.sparkSession.sparkContext.broadcast(
      expressions.IvfModel(cellIds.result(), cvs.result(), dim))
    embeddings.select(col("vec_id"), col("label"),
      models.kernel(col("embedding"))(expressions.IvfAssignKernel(_, bc))
        .as("cell"))
  }

  /** Lloyd-trained IVF centroids (replacing the stride-sample bootstrap):
    * seed = [[cents]], then `iters` deterministic k-means rounds, each a
    * pair of distributed steps —
    *
    *  1. '''assign''': broadcast the (tiny) centroid table, keep each
    *     vector's max-cosine cell ([[ivfAssign]] — narrow, no shuffle of
    *     the corpus);
    *  2. '''update''': per-cell component means via one
    *     `groupBy(cell, pos)` shuffle of (cell, pos, q) triples.
    *
    * '''Quantized means for cross-engine parity''': float summation order
    * is nondeterministic under a hash shuffle, so component sums run over
    * `floor(x · 2^20)` BIGINTs (exact, commutative) and the centroid
    * component is the single double division `sum / (count · 2^20)` —
    * bitwise identical in Spark and DuckDB regardless of row order, at a
    * quantization cost of ≤ 2^-20 per component (irrelevant at IVF's
    * coarse-quantizer precision). Cells that lose all members keep their
    * previous centroid. At 10^12 rows each round shuffles only
    * (nCells × dim) aggregates — Lloyd's cost is the assignment scan,
    * which is the same narrow pass the final index build needs anyway. */
  def ivfTrainedCents(embeddings0: DataFrame, nCells: Int,
                      iters: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val emb = graft.core.Partitioning.balance(embeddings0, "vec_id")
    var c = cents(embeddings0, nCells)
      .select(col("cell"),
        expr("transform(cv, x -> CAST(x AS DOUBLE))").as("cv"))
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(emb, c).select(col("vec_id"), col("cell"))
      val sums = emb.join(assigned, Seq("vec_id"))
        .select(col("cell"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(
          sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)"))
            .as("s"),
          count(lit(1)).as("n"))
      val means = sums.groupBy(col("cell"))
        .agg(expr(
          """transform(array_sort(collect_list(struct(pos, s, n))),
            |  t -> CAST(t.s AS DOUBLE) / CAST(t.n * 1048576 AS DOUBLE))"""
            .stripMargin).as("cv"))
      c = c.select(col("cell"), col("cv").as("__cv_prev"))
        .join(means, Seq("cell"), "left_outer")
        .select(col("cell"),
          coalesce(col("cv"), col("__cv_prev")).as("cv"))
        .localCheckpoint(true) // nCells rows; truncates per-round lineage
    }
    c
  }

  /** IVF cell assignment against an explicit centroid table (the trained
    * twin of [[ivfCells]]). */
  def ivfCellsWith(embeddings0: DataFrame, centsDf: DataFrame): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    ivfAssign(graft.core.Partitioning.balance(embeddings0, "vec_id"), centsDf)
  }

  /** Per-query recall@k of the TRAINED IVF path side by side with the
    * bootstrap at equal `nProbe` — the measurement that justifies (or
    * indicts) the training step. */
  def ivfRecallTrainedVsBoot(embeddings0: DataFrame, nQueries: Int, k: Int,
                             nCells: Int, nProbe: Int,
                             iters: Int): DataFrame = {
    // one exact baseline (the dominant O(nQueries x N) cost) for both arms
    val exact = bruteTopK(embeddings0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val trained = ivfRecallWithExact(embeddings0, nQueries, k,
      ivfTrainedCents(embeddings0, nCells, iters), nProbe, exact)
      .select(col("query_id"), col("n_hits").as("n_hits_trained"),
        col("recall_at_k").as("recall_trained"))
    val boot = ivfRecallWithExact(embeddings0, nQueries, k,
      cents(embeddings0, nCells), nProbe, exact)
      .select(col("query_id"), col("n_hits").as("n_hits_boot"),
        col("recall_at_k").as("recall_boot"))
    trained.join(boot, Seq("query_id"))
  }

  /** DuckDB mirror of [[ivfTrainedCents]] — a full SELECT (nested WITH)
    * yielding (cell, cv DOUBLE[]), `iters` Lloyd rounds unrolled. */
  def duckTrainedCentsSql(nCells: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH c0 AS (
       |  SELECT cell, list_transform(cv, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (${centsSql(nCells)}))""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"c${i - 1}"
      sb ++= s""",
         |a$i AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS crank
         |    FROM (SELECT e.vec_id, c.cell,
         |      ${duckCosine("c.cv", "e.embedding")} AS ccos
         |      FROM embeddings e CROSS JOIN $prev c))
         |  WHERE crank = 1),
         |u$i AS (
         |  SELECT a.cell, generate_subscripts(e.embedding, 1) - 1 AS pos,
         |         unnest(e.embedding) AS x
         |  FROM a$i a JOIN embeddings e USING (vec_id)),
         |s$i AS (
         |  SELECT cell, pos,
         |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
         |         AS BIGINT) AS s,
         |    count(*) AS n
         |  FROM u$i GROUP BY cell, pos),
         |m$i AS (
         |  SELECT cell,
         |    list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
         |         ORDER BY pos) AS cv
         |  FROM s$i GROUP BY cell),
         |c$i AS (
         |  SELECT p.cell, coalesce(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN m$i m USING (cell))""".stripMargin
    }
    sb ++= s"\nSELECT cell, cv FROM c$iters"
    sb.toString
  }

  /** Recall@k of the IVF path: approximate neighbors = exact top-k within
    * the query's `nProbe` nearest cells. Same trust measurement as
    * [[annRecall]], IVF shape: candidate set = equi-join on cell id. */
  def ivfRecall(embeddings0: DataFrame, nQueries: Int, k: Int,
                nCells: Int, nProbe: Int): DataFrame =
    ivfRecallWith(embeddings0, nQueries, k, cents(embeddings0, nCells), nProbe)

  /** [[ivfRecall]] against an explicit centroid table (shared by the
    * bootstrap and the Lloyd-trained variants — the centroid set is the
    * only thing that differs between the two paths). */
  def ivfRecallWith(embeddings0: DataFrame, nQueries: Int, k: Int,
                    centsDf: DataFrame, nProbe: Int): DataFrame =
    ivfRecallWithExact(embeddings0, nQueries, k, centsDf, nProbe,
      bruteTopK(embeddings0, nQueries, k)
        .select(col("query_id"), col("neighbor_id")))

  /** [[ivfRecallWith]] against a PRECOMPUTED exact ground truth — lets
    * side-by-side measurements ([[ivfRecallTrainedVsBoot]]) pay the
    * O(nQueries × N) brute-force baseline once instead of per arm. */
  private def ivfRecallWithExact(embeddings0: DataFrame, nQueries: Int,
                                 k: Int, centsDf: DataFrame, nProbe: Int,
                                 exact: DataFrame): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val cells = ivfAssign(
      graft.core.Partitioning.balance(embeddings0, "vec_id"), centsDf)
      .select(col("vec_id"), col("cell"))
    // queries probe their nProbe max-cosine cells
    val cents0 = centsDf
    val queries = embeddings0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    val probed = queries.crossJoin(broadcast(cents0))
      .withColumn("ccos", expr("graft_cosine(cv, qv)"))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("cell"))
    val cand = cells.join(probed, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val scored = cand
      .join(embeddings0.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", expr("graft_cosine(qv, embedding)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val approx = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall_at_k"))
  }

  /** Per-vector banded sign-LSH hashes: (vec_id, band_id, band_hash), one
    * row per band, computed by the native [[expressions.SignBands]] kernel
    * (narrow, no shuffle; ids + small ints only — the embedding payload
    * never enters the candidate join). */
  def embedBandHashes(embeddings0: DataFrame, nBands: Int,
                      bitsPerBand: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    embeddings.select(col("vec_id"),
      posexplode(expr(s"graft_sign_bands(embedding, $nBands, $bitsPerBand)"))
        .as(Seq("band_id", "band_hash")))
  }

  /** Candidate near-dup pairs: vectors agreeing on ALL `bitsPerBand` sign
    * bits of ANY band (equi-join on (band_id, band_hash), `vec_a < vec_b`,
    * dedup across bands). IDs ONLY — vectors are re-fetched by the verify
    * step, so the shuffle carries (docs × nBands) 24-byte rows, never the
    * embedding arrays. */
  def embedCandidates(embeddings0: DataFrame, nBands: Int,
                      bitsPerBand: Int): DataFrame = {
    val bh = embedBandHashes(embeddings0, nBands, bitsPerBand)
    val a = bh.as("a"); val b = bh.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: banded sign-LSH candidates
    * ([[embedCandidates]]), then the exact cosine verifies against
    * `minCos`. The embedding-space member of the dedup family (exact /
    * MinHash / SimHash / n-gram are token/text-space).
    *
    * == Scale shape (the round-3 fix) ==
    * The previous form hashed the FULL signature into one of ≤ 2^P buckets
    * and self-joined with the embedding payload on both sides — expected
    * in-bucket pairs ~N²/2^(P+1), quadratic in corpus size, and raising P
    * to shrink buckets collapsed recall (a pair had to agree on all P
    * bits). Banding decouples the two: recall follows the S-curve
    * `1 − (1 − s^r)^b` (r = bitsPerBand, b = nBands — more bands ⇒ more
    * recall), while occupancy is governed by r ALONE — per band the
    * expected bucket load is N/2^r, so holding load O(1) as the corpus
    * grows means growing r with log₂N (r ≈ 34 bands of a 64-bit hash at
    * 10^10 docs) and compensating recall with more bands; each added band
    * is one more narrow (id, band_hash) shuffle, never a wider one. The
    * verify step is O(candidates), and only it touches the vectors. Same
    * (band_id, band_hash) shape as the MinHash-LSH text path
    * ([[Dedup.lshCandidates]]). */
  def embeddingNearDups(embeddings0: DataFrame, nBands: Int,
                        bitsPerBand: Int, minCos: Double): DataFrame =
    verifyPairs(embeddings0,
      embedCandidates(embeddings0, nBands, bitsPerBand), minCos)

  /** Exact-cosine verification of candidate (vec_a, vec_b) pairs —
    * re-fetches the vectors by id (the candidate shuffle never carried
    * them) and keeps pairs at `cos >= minCos`. Shared by the production
    * path and [[embedDedupRecall]], so the recall measurement verifies the
    * SAME candidate set it counts instead of recomputing the band join. */
  private def verifyPairs(embeddings0: DataFrame, cand: DataFrame,
                          minCos: Double): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val e = embeddings0.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("vec_b"))
      .withColumn("cos", expr("graft_cosine(ea, eb)"))
      .filter(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Twin id offset for [[plantNearDups]]. */
  val PlantIdOffset = 100000L

  /** Deterministic planted near-duplicates: for every vector with
    * `vec_id % plantMod = 0`, append a twin at `vec_id + PlantIdOffset`
    * whose component `j` is scaled by `(20 + k)/20` with
    * `k = ((vec_id·31 + j·17) % 13) − 6 ∈ [−6, 6]` (±30% multiplicative
    * noise ⇒ cosine vs the source ≈ 0.96–0.99). The synthetic corpus has
    * NO natural pair above cosine 0.52, so this plants the structure a
    * near-dup detector exists to find — ground truth for
    * [[embedDedupRecall]]. Everything is keyed off the ORIGINAL vec_id and
    * pure integer/double arithmetic, so the DuckDB mirror is bitwise. */
  def plantNearDups(embeddings0: DataFrame, plantMod: Int): DataFrame = {
    // fail LOUDLY if a real id would collide with the twin id space
    // (vec_id + PlantIdOffset): a collision would silently fan out every
    // downstream join by id and corrupt both the near-dup output and the
    // recall ground truth. The guard rides the vec_id projection itself so
    // column pruning can never drop it.
    val base = embeddings0.select(
      expr(s"""IF(vec_id >= 0 AND vec_id < $PlantIdOffset, vec_id,
              |   raise_error(concat('plantNearDups: vec_id ',
              |     CAST(vec_id AS STRING),
              |     ' outside [0, $PlantIdOffset) collides with twin ids')))"""
        .stripMargin).as("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val twins = embeddings0.filter(expr(s"vec_id % $plantMod = 0"))
      .select((col("vec_id") + PlantIdOffset).as("vec_id"),
        expr("""transform(embedding, (x, j) -> CAST(x AS DOUBLE) *
               |  (CAST(20 + ((vec_id * 31 + j * 17) % 13) - 6 AS DOUBLE)
               |   / CAST(20 AS DOUBLE)))""".stripMargin).as("embedding"))
    base.unionByName(twins)
  }

  /** DuckDB mirror of [[plantNearDups]] (1-based lambda index ⇒ `j − 1`). */
  def duckPlantSql(plantMod: Int, src: String = "embeddings"): String =
    s"""SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |FROM $src
       |UNION ALL
       |SELECT vec_id + $PlantIdOffset AS vec_id,
       |  list_transform(embedding, (x, j) -> CAST(x AS DOUBLE) *
       |    (CAST(20 + ((vec_id * 31 + (j - 1) * 17) % 13) - 6 AS DOUBLE)
       |     / CAST(20 AS DOUBLE))) AS embedding
       |FROM $src WHERE vec_id % $plantMod = 0""".stripMargin

  /** Recall of the banded near-dup path vs the brute-force ground truth on
    * the given (pre-filtered / pre-augmented) corpus: exact pairs =
    * all-pairs cosine ≥ `minCos`; found = [[embeddingNearDups]] output (a
    * subset of exact — the verify step uses the same exact cosine). One
    * summary row: (n_exact, n_candidates, n_found, recall). n_candidates
    * documents the occupancy/precision side of the S-curve trade. */
  def embedDedupRecall(embeddings0: DataFrame, nBands: Int,
                       bitsPerBand: Int, minCos: Double): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val sub = embeddings0
    val e = sub.select(col("vec_id"), col("embedding"))
    val l = e.as("l"); val r = e.as("r")
    val exact = l.join(r, col("l.vec_id") < col("r.vec_id"))
      .withColumn("cos", expr("graft_cosine(l.embedding, r.embedding)"))
      .filter(col("cos") >= minCos)
    // ONE band self-join: `found` verifies the same candidate set it
    // counts (recomputing embeddingNearDups would run the join twice)
    val cand = embedCandidates(sub, nBands, bitsPerBand)
    val found = verifyPairs(sub, cand, minCos)
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .withColumn("recall",
        expr("CAST(n_found AS DOUBLE) / n_exact"))
  }

  /** DuckDB mirror of [[embedBandHashes]] (band-per-branch UNION ALL; the
    * `(j − 1)` in the component index offsets DuckDB's 1-based lambdas). */
  def duckEmbedBandHashesSql(nBands: Int, bitsPerBand: Int,
                             src: String = "embeddings"): String =
    (0 until nBands).map { b =>
      val hash = (0 until bitsPerBand).map { j =>
        val p = b * bitsPerBand + j
        s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(embedding, (x, jj) ->
           |    CAST(x AS DOUBLE) *
           |    CAST((($p * 8191 + (jj - 1) * 127 + 13) % 17) - 8 AS DOUBLE))),
           |  (a, b) -> a + b) > 0.0 THEN ${1L << j} ELSE 0 END""".stripMargin
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band_id, CAST($hash AS BIGINT) AS band_hash FROM $src"
    }.mkString("\nUNION ALL\n")

  /** DuckDB mirror of [[embeddingNearDups]]. `prelude` = optional extra
    * CTEs (trailing comma included) defining `src` when it is not a
    * physical table (e.g. the [[duckPlantSql]] augmentation). */
  def duckEmbeddingNearDupsSql(nBands: Int, bitsPerBand: Int, minCos: Double,
                               src: String = "embeddings",
                               prelude: String = ""): String =
    s"""WITH ${prelude}bh AS MATERIALIZED (
       |${duckEmbedBandHashesSql(nBands, bitsPerBand, src)}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bh a JOIN bh b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |    AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT c.vec_a, c.vec_b,
       |    ${duckCosine("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand c
       |  JOIN $src ea ON ea.vec_id = c.vec_a
       |  JOIN $src eb ON eb.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, cos FROM scored
       |WHERE cos >= ${graft.queries.Duck.lit(minCos)}""".stripMargin

  /** DuckDB mirror of [[embedDedupRecall]]; `srcSql` = a full SELECT
    * yielding (vec_id, embedding) — the same pre-filter/augmentation the
    * Spark side was given. */
  def duckEmbedDedupRecallSql(srcSql: String, nBands: Int, bitsPerBand: Int,
                              minCos: Double): String =
    s"""WITH sub AS MATERIALIZED (
       |$srcSql),
       |exact AS (
       |  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
       |    ${duckCosine("l.embedding", "r.embedding")} AS cos
       |  FROM sub l JOIN sub r ON l.vec_id < r.vec_id),
       |bh AS MATERIALIZED (
       |${duckEmbedBandHashesSql(nBands, bitsPerBand, "sub")}),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bh a JOIN bh b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |    AND a.vec_id < b.vec_id),
       |found AS (
       |  SELECT c.vec_a, c.vec_b,
       |    ${duckCosine("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand c
       |  JOIN sub ea ON ea.vec_id = c.vec_a
       |  JOIN sub eb ON eb.vec_id = c.vec_b)
       |SELECT
       |  (SELECT count(*) FROM exact
       |     WHERE cos >= ${graft.queries.Duck.lit(minCos)}) AS n_exact,
       |  (SELECT count(*) FROM cand) AS n_candidates,
       |  (SELECT count(*) FROM found
       |     WHERE cos >= ${graft.queries.Duck.lit(minCos)}) AS n_found,
       |  CAST((SELECT count(*) FROM found
       |     WHERE cos >= ${graft.queries.Duck.lit(minCos)}) AS DOUBLE)
       |  / (SELECT count(*) FROM exact
       |     WHERE cos >= ${graft.queries.Duck.lit(minCos)}) AS recall""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — semantic dedup at
    * web scale): cluster the corpus into k-means cells, then within each
    * cell prune every vector whose cosine to some LOWER-RANKED cell member
    * reaches `minCos`. Cell rank orders by (centroid-cosine ASC, vec_id
    * ASC) — the paper keeps, among semantic duplicates, the example LEAST
    * similar to its cluster centroid, realized (as in the released
    * algorithm's triangular max-similarity test) as a static precedence:
    * `x` is pruned iff an earlier-ranked in-cell `y` has
    * `cos(x,y) >= minCos`, whether or not `y` itself survives. This is the
    * clustering-bounded member of the dedup family — it finds the
    * cross-document SEMANTIC redundancy that exact/MinHash/SimHash
    * (token-space) and [[embeddingNearDups]] (recall-tuned LSH pairs)
    * frame differently: here the candidate set is a partition, so every
    * in-cell pair is examined and the miss mode is only cross-cell pairs.
    *
    * == Scale shape ==
    * Assignment is one broadcast of `nCells` centroids against the corpus
    * (narrow, the big side never shuffles). The in-cell pair join carries
    * ONLY (vec_id, cell, cell_rank); vectors are re-fetched by id for the
    * cosine verify ([[verifyPairs]]). Pair count is Σ_c m_c² — SemDeDup's
    * inherent cost — held O(N) by growing `nCells` with the corpus so
    * m_c = N/nCells stays O(1) (the paper runs 50k clusters on LAION-scale
    * data); a hot cell is a centroid-quality problem, fixed by more Lloyd
    * rounds, not a join-shape problem. Centroids: [[cents]] bootstrap here;
    * feed the Lloyd-trained table ([[ivfTrainedCents]]) through
    * [[semDedupWith]] for the production path. */
  def semDedup(embeddings0: DataFrame, nCells: Int,
               minCos: Double): DataFrame =
    semDedupWith(embeddings0, cents(embeddings0, nCells), minCos)

  /** [[semDedup]] against an explicit centroid table (e.g. Lloyd-trained).
    * Output: one row per corpus vector — (vec_id, cell, cell_rank, ccos,
    * pruned); survivors are the `NOT pruned` slice. */
  def semDedupWith(embeddings0: DataFrame, centsDf: DataFrame,
                   minCos: Double): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val emb = graft.core.Partitioning.balance(
      embeddings0.select(col("vec_id"), col("embedding")), "vec_id")
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cell").asc)
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("ccos").asc, col("vec_id").asc)
    // eager-checkpoint the (narrow, N-row) rank table: it feeds BOTH
    // sides of the pair join AND the final output — without it the
    // centroid cross-join + two windows re-run once per reference (a
    // corpus-pass diamond, 16 scans in the formatted plan)
    val ranked = emb.crossJoin(broadcast(centsDf))
      .withColumn("ccos", expr("graft_cosine(cv, embedding)"))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .withColumn("cell_rank", row_number().over(wCell))
      .select(col("vec_id"), col("cell"), col("ccos"), col("cell_rank"))
      .localCheckpoint(true)
    val cand = ranked
      .select(col("cell"), col("cell_rank").as("rank_a"),
        col("vec_id").as("vec_a"))
      .join(ranked.select(col("cell"), col("cell_rank").as("rank_b"),
        col("vec_id").as("vec_b")), Seq("cell"))
      .filter(col("rank_a") < col("rank_b"))
      .select(col("vec_a"), col("vec_b"))
    val pruned = verifyPairs(embeddings0, cand, minCos)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("pruned", lit(true))
    ranked.join(pruned, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("cell_rank"), col("ccos"),
        coalesce(col("pruned"), lit(false)).as("pruned"))
  }

  /** DuckDB mirror of [[semDedup]] — same cosine fold, same static
    * precedence rule; `prelude` as in [[duckEmbeddingNearDupsSql]]. */
  def duckSemDedupSql(nCells: Int, minCos: Double,
                      src: String = "embeddings",
                      prelude: String = ""): String =
    s"""WITH ${prelude}c AS (
       |${centsSql(nCells, src)}),
       |asg AS (
       |  SELECT vec_id, cell, ccos FROM (
       |    SELECT vec_id, cell, ccos,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, cell ASC) AS crank
       |    FROM (SELECT e.vec_id, c.cell,
       |            ${duckCosine("c.cv", "e.embedding")} AS ccos
       |          FROM $src e CROSS JOIN c))
       |  WHERE crank = 1),
       |ranked AS MATERIALIZED (
       |  SELECT vec_id, cell, ccos,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY ccos ASC, vec_id ASC) AS cell_rank
       |  FROM asg),
       |pruned AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM ranked a JOIN ranked b
       |    ON a.cell = b.cell AND a.cell_rank < b.cell_rank
       |  JOIN $src ea ON ea.vec_id = a.vec_id
       |  JOIN $src eb ON eb.vec_id = b.vec_id
       |  WHERE ${duckCosine("ea.embedding", "eb.embedding")}
       |    >= ${graft.queries.Duck.lit(minCos)})
       |SELECT r.vec_id, r.cell, CAST(r.cell_rank AS INTEGER) AS cell_rank,
       |  r.ccos, (p.vec_id IS NOT NULL) AS pruned
       |FROM ranked r LEFT JOIN pruned p USING (vec_id)""".stripMargin

  /** Greedy facility-location coreset selection — the classical
    * submodular data-subset-selection objective `F(S) = Σ_j max_{s∈S}
    * sim(j, s)` under the Nemhauser-Wolsey-Fisher greedy (each round picks
    * the candidate with the largest marginal gain; 1−1/e approximation).
    * Output: one row per round — (step, vec_id, gain_micro,
    * coverage_micro), coverage being the running objective value.
    *
    * '''Exact integer gains''': similarities are micro-quantized cosines
    * `floor(cos·10⁶ + 0.5)` as BIGINT, so a marginal gain
    * `Σ_j max(q(j,c) − cover_j, 0)` is an exact commutative integer sum —
    * bitwise cross-engine under any row order (the float-sum-order hazard
    * a raw-cosine objective would have), and `coverage = Σ gains` exactly.
    * Cover starts at 0 so negative similarities never contribute.
    *
    * == Scale shape ==
    * The all-pairs table is the exact form — the quality oracle. At
    * corpus scale run the same greedy per k-means cell
    * ([[ivfTrainedCents]] assignment): greedy-per-cell is embarrassingly
    * parallel and in-cell pairs are Σ m_c² (the SemDeDup bound). The pair
    * table is built ONCE and cached across rounds; per round the driver
    * receives exactly one argmax row, and the cover table and every gain
    * sum stay distributed. */
  def coresetGreedy(embeddings0: DataFrame, k: Int): DataFrame = {
    val sp = embeddings0.sparkSession
    expressions.register(sp)
    import sp.implicits._
    val e = embeddings0.select(col("vec_id"), col("embedding"))
    val pairs = e.select(col("vec_id").as("j"), col("embedding").as("ej"))
      .crossJoin(e.select(col("vec_id").as("c"), col("embedding").as("ec")))
      .select(col("j"), col("c"),
        expr("CAST(floor(graft_cosine(ej, ec) * 1000000 + 0.5) AS BIGINT)")
          .as("q"))
      .cache()
    var cover = e.select(col("vec_id").as("j"), lit(0L).as("cov"))
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    var running = 0L
    for (t <- 1 to k) {
      val selected = picks.map(_._2)
      val cand = if (selected.isEmpty) pairs
                 else pairs.filter(!col("c").isin(selected.toSeq: _*))
      val top = cand.join(cover, Seq("j"))
        .groupBy(col("c"))
        .agg(sum(greatest(col("q") - col("cov"), lit(0L))).as("gain"))
        .orderBy(col("gain").desc, col("c").asc)
        .limit(1).collect()(0)
      val (cId, gain) = (top.getLong(0), top.getLong(1))
      running += gain
      picks += ((t, cId, gain, running))
      cover = cover
        .join(pairs.filter(col("c") === cId).select(col("j"), col("q")),
          Seq("j"), "left_outer")
        .select(col("j"),
          greatest(col("cov"), coalesce(col("q"), lit(0L))).as("cov"))
        .localCheckpoint(true) // N rows; truncates per-round lineage
    }
    pairs.unpersist()
    picks.toSeq.toDF("step", "vec_id", "gain_micro", "coverage_micro")
  }

  /** DuckDB mirror of [[coresetGreedy]] — the k greedy rounds unrolled;
    * `prelude` as in [[duckEmbeddingNearDupsSql]]. */
  def duckCoresetSql(k: Int, src: String = "embeddings",
                     prelude: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ${prelude}p AS MATERIALIZED (
       |  SELECT a.vec_id AS j, b.vec_id AS c,
       |    CAST(floor(${duckCosine("a.embedding", "b.embedding")}
       |      * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM $src a CROSS JOIN $src b),
       |cover0 AS (SELECT vec_id AS j, CAST(0 AS BIGINT) AS cov
       |           FROM $src)""".stripMargin
    for (t <- 1 to k) {
      val prev = s"cover${t - 1}"
      val excl = if (t == 1) ""
        else "WHERE p.c NOT IN (" + (1 until t)
          .map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ") + ")"
      sb ++= s""",
         |g$t AS (
         |  SELECT p.c, CAST(sum(greatest(p.q - $prev.cov, 0)) AS BIGINT)
         |    AS gain
         |  FROM p JOIN $prev ON p.j = $prev.j
         |  $excl
         |  GROUP BY p.c),
         |s$t AS (SELECT c AS vec_id, gain FROM g$t
         |        ORDER BY gain DESC, c ASC LIMIT 1),
         |cover$t AS (
         |  SELECT $prev.j, greatest($prev.cov, coalesce(pc.q, 0)) AS cov
         |  FROM $prev LEFT JOIN
         |    (SELECT p.j, p.q FROM p JOIN s$t ON p.c = s$t.vec_id) pc
         |    ON $prev.j = pc.j)""".stripMargin
    }
    sb ++= "\nSELECT step, vec_id, gain_micro,\n" +
      "  CAST(sum(gain_micro) OVER (ORDER BY step\n" +
      "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS coverage_micro\nFROM (\n" +
      (1 to k).map(t =>
        s"  SELECT $t AS step, vec_id, gain AS gain_micro FROM s$t")
        .mkString("\n  UNION ALL\n") + ")"
    sb.toString
  }

  /** PRODUCTION coreset selection: the [[coresetGreedy]] facility-location
    * greedy run independently inside each k-means cell — the greedy-per-cell
    * shape [[coresetGreedy]]'s Scaladoc names (and [[semDedupWith]]
    * already uses for near-dup pruning). Output: one row per pick —
    * (cell, step, vec_id, gain_micro, coverage_micro), `step`/`coverage`
    * scoped per cell.
    *
    * == Scale shape ==
    * One broadcast of the (tiny) centroid table assigns cells with no
    * shuffle of the corpus; ONE `groupBy(cell)` shuffle gathers members;
    * each cell then runs the greedy locally in its task
    * ([[graft.functions.expressions.CoresetGreedyCell]] — m² cosines,
    * the Σ m_c² SemDeDup bound, `nCells` the dial). No per-round driver
    * argmax, no all-pairs join: at 10^12 rows the plan is two narrow
    * passes + one bounded-fanout shuffle. [[coresetGreedy]] (all-pairs +
    * k driver rounds) is this operator's quality oracle: on cells that
    * are well-separated (cross-cell similarity below in-cell similarity)
    * the per-cell picks equal the exact greedy's restricted to each cell
    * — asserted in OpsSpec on an orthogonal-cluster fixture. */
  def coresetGreedyPerCell(embeddings0: DataFrame, centsDf: DataFrame,
                           kPerCell: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val emb = graft.core.Partitioning.balance(
      embeddings0.select(col("vec_id"), col("embedding")), "vec_id")
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cell").asc)
    emb.crossJoin(broadcast(centsDf))
      .withColumn("ccos", expr("graft_cosine(cv, embedding)"))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("embedding")))
        .as("members"))
      .select(col("cell"),
        explode(expr(s"graft_coreset_cell(members, $kPerCell)")).as("p"))
      .select(col("cell"), col("p.step").as("step"),
        col("p.vec_id").as("vec_id"),
        col("p.gain_micro").as("gain_micro"),
        col("p.coverage_micro").as("coverage_micro"))
  }

  /** [[coresetGreedyPerCell]] with the bootstrap stride-sample centroids
    * ([[cents]]) — the query-surface form; feed [[ivfTrainedCents]] to
    * the explicit-centroid overload for the Lloyd-trained index. */
  def coresetCells(embeddings0: DataFrame, nCells: Int,
                   kPerCell: Int): DataFrame =
    coresetGreedyPerCell(embeddings0, cents(embeddings0, nCells), kPerCell)

  /** Bootstrap-centroid twin of [[duckCoresetCellsSql]]. */
  def duckCoresetCellsBootSql(nCells: Int, kPerCell: Int,
                              src: String = "embeddings"): String =
    duckCoresetCellsSql(centsSql(nCells, src), kPerCell, src)

  /** DuckDB mirror of [[coresetGreedyPerCell]] — cell assignment exactly
    * as [[duckIvfCellsSqlWith]], then the k greedy rounds unrolled with a
    * PER-CELL argmax (`row_number() OVER (PARTITION BY cell)`) instead of
    * [[duckCoresetSql]]'s global one. An m-member cell stops after m
    * rounds (its candidate set empties), matching the kernel's min(k, m). */
  def duckCoresetCellsSql(centsSelect: String, kPerCell: Int,
                          src: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH cents AS (
       |  SELECT cell, cv FROM ($centsSelect)),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCosine("c.cv", "e.embedding")} DESC,
       |                 c.cell ASC) AS crank
       |    FROM $src e CROSS JOIN cents c)
       |  WHERE crank = 1),
       |p AS MATERIALIZED (
       |  SELECT aj.cell, aj.vec_id AS j, ac.vec_id AS c,
       |    CAST(floor(${duckCosine("ea.embedding", "eb.embedding")}
       |      * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM asg aj JOIN asg ac ON aj.cell = ac.cell
       |  JOIN $src ea ON ea.vec_id = aj.vec_id
       |  JOIN $src eb ON eb.vec_id = ac.vec_id),
       |cover0 AS (SELECT cell, vec_id AS j, CAST(0 AS BIGINT) AS cov
       |           FROM asg)""".stripMargin
    for (t <- 1 to kPerCell) {
      val prev = s"cover${t - 1}"
      val excl = if (t == 1) ""
        else "AND NOT EXISTS (SELECT 1 FROM (" + (1 until t)
          .map(i => s"SELECT cell, vec_id FROM s$i")
          .mkString(" UNION ALL ") +
          ") sel WHERE sel.cell = p.cell AND sel.vec_id = p.c)"
      sb ++= s""",
         |g$t AS (
         |  SELECT p.cell, p.c,
         |    CAST(sum(greatest(p.q - $prev.cov, 0)) AS BIGINT) AS gain
         |  FROM p JOIN $prev ON p.cell = $prev.cell AND p.j = $prev.j
         |  WHERE true $excl
         |  GROUP BY p.cell, p.c),
         |s$t AS (
         |  SELECT cell, c AS vec_id, gain FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cell
         |      ORDER BY gain DESC, c ASC) AS rn FROM g$t)
         |  WHERE rn = 1),
         |cover$t AS (
         |  SELECT $prev.cell, $prev.j,
         |    greatest($prev.cov, coalesce(pc.q, 0)) AS cov
         |  FROM $prev LEFT JOIN
         |    (SELECT p.cell, p.j, p.q FROM p
         |     JOIN s$t ON p.cell = s$t.cell AND p.c = s$t.vec_id) pc
         |    ON $prev.cell = pc.cell AND $prev.j = pc.j)""".stripMargin
    }
    sb ++= "\nSELECT cell, step, vec_id, gain_micro,\n" +
      "  CAST(sum(gain_micro) OVER (PARTITION BY cell ORDER BY step\n" +
      "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS coverage_micro\nFROM (\n" +
      (1 to kPerCell).map(t =>
        s"  SELECT cell, $t AS step, vec_id, gain AS gain_micro FROM s$t")
        .mkString("\n  UNION ALL\n") + ")"
    sb.toString
  }

  /** Batch-hard triplet mining over labeled embeddings (the hard-negative
    * curation op of contrastive/metric training, FaceNet-style batch-hard
    * applied corpus-wide): for every anchor (`vec_id < nAnchors`), the
    * top-k HARD NEGATIVES — highest-cosine vectors with a DIFFERENT
    * label — plus the HARDEST POSITIVE cosine (lowest same-label cosine)
    * and the triplet margin `neg_cos − pos_cos` (> 0 means the anchor
    * violates the triplet condition: the highest-value training example).
    *
    * Exact broadcast baseline like [[bruteTopK]]: anchors broadcast, the
    * corpus never shuffles; one anchor-keyed exchange carries the scored
    * rows into both windows (same partition key — one sort). For
    * full-corpus anchor sets feed banded-LSH candidates
    * ([[embedCandidates]]) through the same label-split rank instead;
    * this exact form is the recall oracle for that path. `pos_cos` (and
    * so `margin`) is NULL when the anchor has no same-label peer. */
  def hardNegatives(embeddings0: DataFrame, nAnchors: Int, k: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val anchors = embeddings.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"),
        col("label").as("alabel"))
    val scored = embeddings.join(broadcast(anchors),
        col("vec_id") =!= col("anchor_id"))
      .withColumn("cos", expr("graft_cosine(av, embedding)"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("pos_cos",
        min(when(col("label") === col("alabel"), col("cos"))).over(wAll))
      .filter(col("label") =!= col("alabel"))
      .withColumn("rank", row_number().over(wNeg))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("cos").as("neg_cos"),
        col("pos_cos"), (col("cos") - col("pos_cos")).as("margin"))
  }

  /** DuckDB mirror of [[hardNegatives]] — identical cosine fold, min over
    * the same bitwise values, margin one IEEE subtract. */
  def duckHardNegativesSql(nAnchors: Int, k: Int): String =
    s"""WITH a AS (
       |  SELECT vec_id AS anchor_id, embedding AS av, label AS alabel
       |  FROM embeddings WHERE vec_id < $nAnchors),
       |scored AS (
       |  SELECT a.anchor_id, a.alabel, e.vec_id AS neighbor_id, e.label,
       |    ${duckCosine("a.av", "e.embedding")} AS cos
       |  FROM a JOIN embeddings e ON e.vec_id <> a.anchor_id),
       |wp AS (
       |  SELECT *, min(CASE WHEN label = alabel THEN cos END)
       |      OVER (PARTITION BY anchor_id) AS pos_cos
       |  FROM scored)
       |SELECT anchor_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  cos AS neg_cos, pos_cos, cos - pos_cos AS margin
       |FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |         ORDER BY cos DESC, neighbor_id ASC) AS rank
       |      FROM wp WHERE label <> alabel)
       |WHERE rank <= $k""".stripMargin

  /** k-NN label-agreement screen (the classic mislabeled-example /
    * label-noise detector, Wilson-editing style): per anchor, the share
    * of its top-k cosine neighbors (ANY label, self excluded) carrying
    * the anchor's own label. Low agreement = the example sits in another
    * class's neighborhood — a candidate mislabel or distribution-edge
    * case to route to review before training. Same broadcast-anchor /
    * corpus-never-shuffles plan as [[hardNegatives]]; the full-corpus
    * path feeds banded-LSH candidates through the same rank, with this
    * exact form as its oracle. `suspect` = agreement < 1/2. */
  def knnLabelAgreement(embeddings0: DataFrame, nAnchors: Int,
      k: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val anchors = embeddings.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"),
        col("label").as("alabel"))
    val wNn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    embeddings.join(broadcast(anchors),
        col("vec_id") =!= col("anchor_id"))
      .withColumn("cos", expr("graft_cosine(av, embedding)"))
      .withColumn("rank", row_number().over(wNn))
      .filter(col("rank") <= k)
      .groupBy(col("anchor_id"), col("alabel").as("label"))
      .agg(sum(expr("IF(label = alabel, 1L, 0L)")).as("n_agree"))
      .selectExpr("anchor_id", "label", "n_agree", s"$k AS k",
        s"CAST(n_agree AS DOUBLE) / CAST($k AS DOUBLE) AS agreement",
        s"2 * n_agree < $k AS suspect")
  }

  /** DuckDB mirror of [[knnLabelAgreement]]. */
  def duckKnnLabelAgreementSql(nAnchors: Int, k: Int): String =
    s"""WITH a AS (
       |  SELECT vec_id AS anchor_id, embedding AS av, label AS alabel
       |  FROM embeddings WHERE vec_id < $nAnchors),
       |scored AS (
       |  SELECT a.anchor_id, a.alabel, e.vec_id, e.label,
       |    ${duckCosine("a.av", "e.embedding")} AS cos
       |  FROM a JOIN embeddings e ON e.vec_id <> a.anchor_id),
       |nn AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scored)
       |  WHERE rank <= $k)
       |SELECT anchor_id, alabel AS label,
       |  CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  $k AS k,
       |  CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST($k AS DOUBLE) AS agreement,
       |  2 * sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) < $k
       |    AS suspect
       |FROM nn
       |GROUP BY anchor_id, alabel""".stripMargin

  /** FULL-CORPUS batch-hard triplet mining: every vector is an anchor;
    * candidate neighbors come from the banded sign-LSH join
    * ([[embedCandidates]] — ids only, per-band equi-join) instead of a
    * broadcast anchor set, so the plan scales with corpus size: no
    * all-pairs product, no N-row broadcast, the heavy exchange carries
    * (vec_id, band_hash) pairs and candidate ids only. Per anchor the
    * DIFFERENT-label candidates rank by cosine desc (top-k = the hard
    * negatives) and `pos_cos` is the hardest (lowest-cosine) SAME-label
    * candidate — both computed over the LSH candidate set, which is the
    * production trade: the S-curve `1 − (1 − s^r)^b` concentrates
    * candidates exactly where hard negatives live (high cosine), while
    * distant easy negatives — which batch-hard mining discards anyway —
    * never generate a pair. [[hardNegatives]] (exact, broadcast-anchor) is
    * this path's recall oracle at test scale; OpsSpec asserts equality of
    * ranks/cosines on the candidate subgraph. */
  def hardNegativesLsh(embeddings0: DataFrame, nBands: Int,
      bitsPerBand: Int, k: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val cand = embedCandidates(embeddings0, nBands, bitsPerBand)
    // symmetric closure: each undirected candidate pair serves both ends
    val sym = cand.select(col("vec_a").as("anchor_id"),
        col("vec_b").as("neighbor_id"))
      .unionByName(cand.select(col("vec_b").as("anchor_id"),
        col("vec_a").as("neighbor_id")))
    val e = embeddings0.select(col("vec_id"), col("embedding"), col("label"))
    val scored = sym
      .join(e.select(col("vec_id").as("anchor_id"),
        col("embedding").as("av"), col("label").as("alabel")), Seq("anchor_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("label")), Seq("neighbor_id"))
      .withColumn("cos", expr("graft_cosine(av, nv)"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("pos_cos",
        min(when(col("label") === col("alabel"), col("cos"))).over(wAll))
      .filter(col("label") =!= col("alabel"))
      .withColumn("rank", row_number().over(wNeg))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neighbor_id"),
        col("cos").as("neg_cos"), col("pos_cos"),
        (col("cos") - col("pos_cos")).as("margin"))
  }

  /** DuckDB mirror of [[hardNegativesLsh]] — candidate generation via the
    * identical band-hash SQL, then the same label-split rank. */
  def duckHardNegativesLshSql(nBands: Int, bitsPerBand: Int,
      k: Int): String =
    s"""WITH bh AS MATERIALIZED (
       |${duckEmbedBandHashesSql(nBands, bitsPerBand)}),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bh a JOIN bh b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |    AND a.vec_id < b.vec_id),
       |sym AS (
       |  SELECT vec_a AS anchor_id, vec_b AS neighbor_id FROM cand
       |  UNION ALL
       |  SELECT vec_b AS anchor_id, vec_a AS neighbor_id FROM cand),
       |scored AS (
       |  SELECT s.anchor_id, ea.label AS alabel, s.neighbor_id, eb.label,
       |    ${duckCosine("ea.embedding", "eb.embedding")} AS cos
       |  FROM sym s
       |  JOIN embeddings ea ON ea.vec_id = s.anchor_id
       |  JOIN embeddings eb ON eb.vec_id = s.neighbor_id),
       |wp AS (
       |  SELECT *, min(CASE WHEN label = alabel THEN cos END)
       |      OVER (PARTITION BY anchor_id) AS pos_cos
       |  FROM scored)
       |SELECT anchor_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  cos AS neg_cos, pos_cos, cos - pos_cos AS margin
       |FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |         ORDER BY cos DESC, neighbor_id ASC) AS rank
       |      FROM wp WHERE label <> alabel)
       |WHERE rank <= $k""".stripMargin

  /** FULL-CORPUS k-NN label-agreement screen: [[knnLabelAgreement]] with
    * the broadcast anchor probe replaced by banded sign-LSH candidates —
    * every vector is screened, and `k` becomes "up to k nearest
    * CANDIDATES" (`n_cand` reports how many the bands produced; agreement
    * divides by the actual neighborhood size, so sparse-candidate anchors
    * are not penalized). Same ids-only scale shape as
    * [[hardNegativesLsh]]; the exact broadcast form is the oracle. */
  def knnAgreementLsh(embeddings0: DataFrame, nBands: Int,
      bitsPerBand: Int, k: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val cand = embedCandidates(embeddings0, nBands, bitsPerBand)
    val sym = cand.select(col("vec_a").as("anchor_id"),
        col("vec_b").as("neighbor_id"))
      .unionByName(cand.select(col("vec_b").as("anchor_id"),
        col("vec_a").as("neighbor_id")))
    val e = embeddings0.select(col("vec_id"), col("embedding"), col("label"))
    val wNn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    sym
      .join(e.select(col("vec_id").as("anchor_id"),
        col("embedding").as("av"), col("label").as("alabel")), Seq("anchor_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("label")), Seq("neighbor_id"))
      .withColumn("cos", expr("graft_cosine(av, nv)"))
      .withColumn("rank", row_number().over(wNn))
      .filter(col("rank") <= k)
      .groupBy(col("anchor_id"), col("alabel").as("label"))
      .agg(sum(expr("IF(label = alabel, 1L, 0L)")).as("n_agree"),
        count(lit(1)).as("n_cand"))
      .selectExpr("anchor_id", "label", "n_agree", "n_cand",
        "CAST(n_agree AS DOUBLE) / CAST(n_cand AS DOUBLE) AS agreement",
        "2 * n_agree < n_cand AS suspect")
  }

  /** DuckDB mirror of [[knnAgreementLsh]]. */
  def duckKnnAgreementLshSql(nBands: Int, bitsPerBand: Int,
      k: Int): String =
    s"""WITH bh AS MATERIALIZED (
       |${duckEmbedBandHashesSql(nBands, bitsPerBand)}),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bh a JOIN bh b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |    AND a.vec_id < b.vec_id),
       |sym AS (
       |  SELECT vec_a AS anchor_id, vec_b AS neighbor_id FROM cand
       |  UNION ALL
       |  SELECT vec_b AS anchor_id, vec_a AS neighbor_id FROM cand),
       |scored AS (
       |  SELECT s.anchor_id, ea.label AS alabel, s.neighbor_id, eb.label,
       |    ${duckCosine("ea.embedding", "eb.embedding")} AS cos
       |  FROM sym s
       |  JOIN embeddings ea ON ea.vec_id = s.anchor_id
       |  JOIN embeddings eb ON eb.vec_id = s.neighbor_id),
       |nn AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM scored)
       |  WHERE rank <= $k)
       |SELECT anchor_id, alabel AS label,
       |  CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(count(*) AS BIGINT) AS n_cand,
       |  CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS agreement,
       |  2 * sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) < count(*)
       |    AS suspect
       |FROM nn
       |GROUP BY anchor_id, alabel""".stripMargin

  private def duckCosine(a: String, b: String): String =
    s"""(SELECT CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
       |        ELSE dot / sqrt(na * nb) END
       | FROM (SELECT
       |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |     list_transform($a, (x, i) ->
       |       CAST(x AS DOUBLE) * CAST(($b)[i] AS DOUBLE))),
       |     (a0, b0) -> a0 + b0) AS dot,
       |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |     list_transform($a, x ->
       |       CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |     (a0, b0) -> a0 + b0) AS na,
       |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |     list_transform($b, x ->
       |       CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |     (a0, b0) -> a0 + b0) AS nb))""".stripMargin

  /** DuckDB mirror of [[ivfCells]]. */
  def duckIvfCellsSql(nCells: Int): String =
    duckIvfCellsSqlWith(centsSql(nCells))

  /** [[duckIvfCellsSql]] against an explicit centroid SELECT (cell, cv) —
    * the trained-centroid twin. */
  def duckIvfCellsSqlWith(centsSelect: String): String =
    s"""WITH cents AS (
       |  SELECT cell, cv FROM ($centsSelect)),
       |assigned AS (
       |  SELECT e.vec_id, e.label, c.cell,
       |    ${duckCosine("c.cv", "e.embedding")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cell ASC) AS crank
       |  FROM assigned)
       |SELECT vec_id, label, cell FROM ranked WHERE crank = 1""".stripMargin

  /** DuckDB mirror of [[ivfRecall]]. */
  def duckIvfRecallSql(nQueries: Int, k: Int, nCells: Int, nProbe: Int): String =
    duckIvfRecallSqlWith(centsSql(nCells), nQueries, k, nProbe)

  /** [[duckIvfRecallSql]] against an explicit centroid SELECT (cell, cv). */
  def duckIvfRecallSqlWith(centsSelect: String, nQueries: Int, k: Int,
                           nProbe: Int): String =
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${duckBruteTopKSql(nQueries, k)})),
       |cells AS (SELECT vec_id, cell
       |          FROM (${duckIvfCellsSqlWith(centsSelect)})),
       |cents AS (
       |  SELECT cell, cv FROM ($centsSelect)),
       |q AS (SELECT vec_id AS query_id, embedding AS qv
       |      FROM embeddings WHERE vec_id < $nQueries),
       |probed0 AS (
       |  SELECT q.query_id, c.cell,
       |    ${duckCosine("c.cv", "q.qv")} AS ccos
       |  FROM q CROSS JOIN cents c),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ccos DESC, cell ASC) AS crank
       |    FROM probed0)
       |  WHERE crank <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, s.vec_id
       |  FROM cells s JOIN probed p USING (cell)
       |  WHERE s.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    ${duckCosine("q.qv", "e.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN q ON q.query_id = c.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM scored)
       |  WHERE rank <= $k),
       |hits AS (
       |  SELECT e.query_id, count(*) AS n_hits
       |  FROM exact e JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id)
       |SELECT q.query_id,
       |  coalesce(h.n_hits, 0) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k AS recall_at_k
       |FROM q LEFT JOIN hits h USING (query_id)""".stripMargin

  def duckLshBucketsSql(nPlanes: Int): String = {
    val bits = (0 until nPlanes).map { p =>
      s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(embedding, (x, j) ->
         |    CAST(x AS DOUBLE) *
         |    CAST((($p * 8191 + (j - 1) * 127 + 13) % 17) - 8 AS DOUBLE))),
         |  (a, b) -> a + b) > 0.0 THEN ${1L << p} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"SELECT vec_id, label, CAST($bits AS BIGINT) AS bucket FROM embeddings"
  }

  /** Embedding-level train/eval contamination: near-duplicate pairs that
    * STRADDLE a split boundary — the SemDeDup-style leak the n-gram
    * decontamination pass cannot see (a paraphrase shares no exact grams
    * but sits at cosine ≈ 0.97). Composes the banded sign-LSH near-dup
    * detector with the deterministic hash split: candidate generation,
    * id-only shuffles, and the split table all reuse their audited scale
    * shapes; this operator adds two id-keyed joins of the (small) pair
    * list against the split labels and a label-inequality filter. */
  def crossSplitContam(embeddings0: DataFrame, nBands: Int,
                       bitsPerBand: Int, minCos: Double): DataFrame = {
    val dups = embeddingNearDups(embeddings0, nBands, bitsPerBand, minCos)
    val split = Sampling.assignSplit(
        embeddings0.select(col("vec_id")), col("vec_id"))
      .select(col("vec_id"), col("split"))
    dups
      .join(split.select(col("vec_id").as("vec_a"),
        col("split").as("split_a")), Seq("vec_a"))
      .join(split.select(col("vec_id").as("vec_b"),
        col("split").as("split_b")), Seq("vec_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("vec_a"), col("vec_b"), col("cos"),
        col("split_a"), col("split_b"))
  }

  /** DuckDB mirror of [[crossSplitContam]] over the planted corpus. */
  def duckCrossSplitContamSql(nBands: Int, bitsPerBand: Int, minCos: Double,
                              plantMod: Int): String = {
    val spec = Sampling.SplitSpec()
    val slot = Sampling.duckMd5Slot("vec_id", 1000)
    s"""WITH aug AS MATERIALIZED (
       |${duckPlantSql(plantMod)}),
       |nd AS MATERIALIZED (
       |  SELECT * FROM (
       |${duckEmbeddingNearDupsSql(nBands, bitsPerBand, minCos, src = "aug")}
       |  ) q0),
       |sp AS (
       |  SELECT vec_id,
       |    CASE WHEN $slot < ${spec.train} THEN 'train'
       |         WHEN $slot < ${spec.train + spec.valid} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM aug)
       |SELECT nd.vec_a, nd.vec_b, nd.cos,
       |  a.split AS split_a, b.split AS split_b
       |FROM nd
       |JOIN sp a ON a.vec_id = nd.vec_a
       |JOIN sp b ON b.vec_id = nd.vec_b
       |WHERE a.split <> b.split""".stripMargin
  }

  /** Scalar int8 quantization of the embedding column (FAISS-style SQ8,
    * per-vector max-abs scale): `q_i = floor(x_i · 127 / scale + 0.5)` ∈
    * [−127, 127], stored beside one double `scale` — 4× smaller than the
    * float32 source, the difference between an ANN candidate store that
    * fits executor memory at corpus scale and one that doesn't. The
    * reconstruction-error report (`err2` = Σ(x − q·scale/127)²,
    * `max_abs_err`, bounded by scale/254) is the measurement a pipeline
    * reads before switching its candidate scoring to the quantized form.
    *
    * == Scale shape ==
    * One narrow per-row projection — no shuffle, no driver state; the
    * quantized array is emitted as an md5 digest of its canonical CSV
    * rendering (integer formatting is identical across engines, the
    * [[graft.ops.Dedup]] minhash-digest convention).
    *
    * == Parity ==
    * `scale` is an order-free max of exact doubles; `q` uses the shared
    * half-up `floor(x + 0.5)` rule; `err2`/`max_abs_err` fold left-to-right
    * in both engines (the [[CosineSim]]-mirror fold-order identity), so
    * every column is bitwise across engines and partitionings. */
  def quantizeInt8(embeddings0: DataFrame): DataFrame = {
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    embeddings
      .withColumn("scale", expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
          |  (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))""".stripMargin))
      .withColumn("qv", expr(
        """transform(embedding, x ->
          |  CAST(CASE WHEN scale = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
          |       ELSE floor(CAST(x AS DOUBLE) * CAST(127.0 AS DOUBLE) / scale
          |                  + CAST(0.5 AS DOUBLE)) END AS INT))""".stripMargin))
      .withColumn("dv", expr(
        """zip_with(embedding, qv, (x, qi) ->
          |  CAST(x AS DOUBLE) - CAST(qi AS DOUBLE) * scale
          |    / CAST(127.0 AS DOUBLE))""".stripMargin))
      .select(col("vec_id"), col("scale"),
        size(col("qv")).as("n_dims"),
        expr("md5(array_join(transform(qv, q -> CAST(q AS STRING)), ','))")
          .as("q_md5"),
        expr("""aggregate(dv, CAST(0.0 AS DOUBLE), (a, d) -> a + d * d)""")
          .as("err2"),
        expr("""aggregate(dv, CAST(0.0 AS DOUBLE),
               |  (a, d) -> greatest(a, abs(d)))""".stripMargin)
          .as("max_abs_err"))
  }

  /** DuckDB mirror of [[quantizeInt8]] — same scale max, half-up rule,
    * and left fold order. */
  def duckQuantizeInt8Sql: String =
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
       |      (a, b) -> greatest(a, b)) AS scale
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, embedding, scale,
       |    list_transform(embedding, x ->
       |      CAST(CASE WHEN scale = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
       |           ELSE floor(CAST(x AS DOUBLE) * CAST(127.0 AS DOUBLE) / scale
       |                      + CAST(0.5 AS DOUBLE)) END AS INTEGER)) AS qv
       |  FROM s),
       |d AS (
       |  SELECT vec_id, scale, qv,
       |    list_transform(embedding, (x, i) ->
       |      CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE) * scale
       |        / CAST(127.0 AS DOUBLE)) AS dv
       |  FROM q)
       |SELECT vec_id, scale,
       |  CAST(len(qv) AS INTEGER) AS n_dims,
       |  md5(array_to_string(qv, ',')) AS q_md5,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(dv, e -> e * e)), (a, b) -> a + b) AS err2,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(dv, e -> abs(e))),
       |    (a, b) -> greatest(a, b)) AS max_abs_err
       |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // Johnson–Lindenstrauss random projection (sign matrix)
  // ------------------------------------------------------------------

  /** THE sign rule for the JL projection matrix, in one place so the
    * Spark plan and the DuckDB mirror cannot desynchronize: entry (j, i)
    * is +1 iff the top bit of `md5("rp:<seed>:<j>:<i>")` is 0. */
  def rpSign(seed: Long, j: Int, i: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$seed:$j:$i".getBytes("UTF-8"))
    if ((h(0) & 0x80) == 0) 1 else -1
  }

  /** Johnson–Lindenstrauss random projection `R^dim → R^kOut` with a
    * dense ±1 sign matrix (Achlioptas' database-friendly construction:
    * `y_j = (1/√k) Σ_i s_ji·x_i`, distance-preserving within `ε` for
    * `k = O(ln n / ε²)`) — the cheap-embedding step before LSH/IVF when
    * the native dimension is large, and a 4× (64→16 dims here) smaller
    * candidate representation for the ANN scale path next to
    * [[quantizeInt8]]'s 4× byte shrink.
    *
    * The matrix rides BOTH plans as literals generated by the shared
    * [[rpSign]] rule (the GBDT model-as-literals convention — executors
    * never deserialize a model object, and the oracle replays the exact
    * same matrix). ±1 is applied as negation (never a float multiply by
    * a rendered literal), each `y_j` is a LEFT FOLD in index order, and
    * `norm_ratio = ‖y‖²/‖x‖²` (JL expects ≈ 1) folds the same way — the
    * [[quantizeInt8]] fold-order identity ⇒ every column bitwise across
    * engines and partitionings.
    *
    * == Scale shape ==
    * One narrow per-row projection — no shuffle, no driver state. The
    * interpreted-HOF cost is kOut·dim per ROW (vector-sized, not
    * token-sized); if the projection ever lands on a hot inner path,
    * fold it into a native kernel next to [[expressions.CosineSim]]. */
  def randomProject(embeddings0: DataFrame, dim: Int, kOut: Int,
                    seed: Long = 7L): DataFrame = {
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val sqrtK = s"sqrt(CAST($kOut AS DOUBLE))"
    val withY = (0 until kOut).foldLeft(embeddings) { (df, j) =>
      val signs = (0 until dim).map(i => rpSign(seed, j, i))
        .mkString("array(", ", ", ")")
      df.withColumn(s"y_$j", expr(
        s"""aggregate(zip_with(embedding, $signs,
           |    (x, s) -> IF(s = 1, CAST(x AS DOUBLE), -CAST(x AS DOUBLE))),
           |  CAST(0.0 AS DOUBLE), (a, v) -> a + v) / $sqrtK""".stripMargin))
    }
    val ny = (0 until kOut).map(j => s"y_$j * y_$j").mkString(" + ")
    withY
      .withColumn("__nx", expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
          |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""
          .stripMargin))
      .select(Seq(col("vec_id")) ++
        (0 until kOut).map(j => col(s"y_$j")) :+
        expr(s"CASE WHEN __nx > CAST(0.0 AS DOUBLE) THEN ($ny) / __nx END")
          .as("norm_ratio"): _*)
  }

  /** DuckDB mirror of [[randomProject]] — same [[rpSign]] literals, same
    * negation rule, same left folds (1-based list index). */
  def duckRandomProjectSql(dim: Int, kOut: Int, seed: Long = 7L): String = {
    val ys = (0 until kOut).map { j =>
      val signs = (0 until dim).map(i => rpSign(seed, j, i))
        .mkString("[", ", ", "]")
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(embedding, (x, i) ->
         |      CASE WHEN ($signs)[i] = 1 THEN CAST(x AS DOUBLE)
         |           ELSE -CAST(x AS DOUBLE) END)),
         |    (a, v) -> a + v) / sqrt(CAST($kOut AS DOUBLE)) AS y_$j"""
        .stripMargin
    }.mkString(",\n  ")
    val ny = (0 until kOut).map(j => s"y_$j * y_$j").mkString(" + ")
    s"""WITH p AS (
       |  SELECT vec_id,
       |  $ys,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(embedding, x ->
       |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |    (a, v) -> a + v) AS nx
       |  FROM embeddings)
       |SELECT * EXCLUDE (nx),
       |  CASE WHEN nx > CAST(0.0 AS DOUBLE) THEN ($ny) / nx END
       |    AS norm_ratio
       |FROM p""".stripMargin
  }

  /** Per-group embedding-centroid drift report — the SEMANTIC analog of
    * the token-space `source_drift` JSD: for each label (or source), its
    * centroid norm plus the cosine of the group centroid to (a) the global
    * centroid and (b) the rest-of-corpus centroid. A group whose centroid
    * swings away from the rest is drifting in embedding space even when
    * its token distribution looks stable.
    *
    * == Scale shape ==
    * ONE corpus pass: `groupBy(label, pos)` over the posexploded
    * components with map-side partials — the only exchange carries
    * |groups| × dim small rows. Global and rest sums are EXACT integer
    * rollups of the per-group partials (no second corpus read); every
    * later step is on the |groups| × dim grid.
    *
    * == Cross-engine parity ==
    * The [[ivfTrainedCents]] idiom: component sums run over
    * `floor(x · 2^20)` BIGINTs (exact, commutative under any shuffle
    * order), each centroid component is a single double division, and
    * dot/norm assemble via the shared LEFT fold in `pos` order — bitwise
    * identical in both engines. */
  def centroidDrift(embeddings0: DataFrame): DataFrame = {
    val emb = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val sums = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)"))
          .as("s"),
        count(lit(1)).as("n"))
    val glob = sums.groupBy(col("pos"))
      .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
    val terms = sums.join(glob, Seq("pos"))
      .select(col("label"), col("pos"), col("n"),
        expr("CAST(s AS DOUBLE) / CAST(n * 1048576 AS BIGINT)").as("cl"),
        expr(
          """CASE WHEN gn - n = 0 THEN CAST(0.0 AS DOUBLE)
            |     ELSE CAST(gs - s AS DOUBLE)
            |          / CAST((gn - n) * 1048576 AS BIGINT) END""".stripMargin)
          .as("cr"),
        expr("CAST(gs AS DOUBLE) / CAST(gn * 1048576 AS BIGINT)").as("cg"))
    val dotFold = (a: String, b: String) =>
      s"""aggregate(zip_with($a, $b, (x, y) -> x * y),
         |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    terms.groupBy(col("label"))
      .agg(
        max(col("n")).as("n_vecs"),
        expr("transform(array_sort(collect_list(struct(pos, cl))), t -> t.cl)")
          .as("al"),
        expr("transform(array_sort(collect_list(struct(pos, cr))), t -> t.cr)")
          .as("ar"),
        expr("transform(array_sort(collect_list(struct(pos, cg))), t -> t.cg)")
          .as("ag"))
      .select(col("label"), col("n_vecs"),
        expr(s"sqrt(${dotFold("al", "al")})").as("centroid_norm"),
        expr(s"sqrt(${dotFold("ar", "ar")})").as("__nr"),
        expr(s"sqrt(${dotFold("ag", "ag")})").as("__ng"),
        expr(dotFold("al", "ag")).as("__dg"),
        expr(dotFold("al", "ar")).as("__dr"))
      .select(col("label"), col("n_vecs"), col("centroid_norm"),
        expr(
          """CASE WHEN centroid_norm = CAST(0.0 AS DOUBLE)
            |       OR __ng = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
            |     ELSE __dg / (centroid_norm * __ng) END""".stripMargin)
          .as("cos_to_global"),
        expr(
          """CASE WHEN centroid_norm = CAST(0.0 AS DOUBLE)
            |       OR __nr = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
            |     ELSE __dr / (centroid_norm * __nr) END""".stripMargin)
          .as("cos_to_rest"))
  }

  /** DuckDB mirror of [[centroidDrift]] (same quantized integer sums,
    * same divisions, same left fold order). */
  def duckCentroidDriftSql: String = {
    def fold(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform($a, (v, i) -> v * $b[i])),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH u AS (
       |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
       |         unnest(embedding) AS x
       |  FROM embeddings),
       |s AS (
       |  SELECT label, pos,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
       |         AS BIGINT) AS s,
       |    count(*) AS n
       |  FROM u GROUP BY 1, 2),
       |g AS (
       |  SELECT pos, CAST(sum(s) AS BIGINT) AS gs,
       |         CAST(sum(n) AS BIGINT) AS gn
       |  FROM s GROUP BY 1),
       |t AS (
       |  SELECT label, pos, n,
       |    CAST(s AS DOUBLE) / CAST(n * 1048576 AS BIGINT) AS cl,
       |    CASE WHEN gn - n = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(gs - s AS DOUBLE)
       |              / CAST((gn - n) * 1048576 AS BIGINT) END AS cr,
       |    CAST(gs AS DOUBLE) / CAST(gn * 1048576 AS BIGINT) AS cg
       |  FROM s JOIN g USING (pos)),
       |a AS (
       |  SELECT label, max(n) AS n_vecs,
       |    list(cl ORDER BY pos) AS al,
       |    list(cr ORDER BY pos) AS ar,
       |    list(cg ORDER BY pos) AS ag
       |  FROM t GROUP BY 1),
       |m AS (
       |  SELECT label, n_vecs,
       |    sqrt(${fold("al", "al")}) AS centroid_norm,
       |    sqrt(${fold("ar", "ar")}) AS __nr,
       |    sqrt(${fold("ag", "ag")}) AS __ng,
       |    ${fold("al", "ag")} AS __dg,
       |    ${fold("al", "ar")} AS __dr
       |  FROM a)
       |SELECT label, n_vecs, centroid_norm,
       |  CASE WHEN centroid_norm = CAST(0.0 AS DOUBLE)
       |         OR __ng = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
       |       ELSE __dg / (centroid_norm * __ng) END AS cos_to_global,
       |  CASE WHEN centroid_norm = CAST(0.0 AS DOUBLE)
       |         OR __nr = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
       |       ELSE __dr / (centroid_norm * __nr) END AS cos_to_rest
       |FROM m""".stripMargin
  }

  // ==================================================================
  // Product quantization (PQ): codebook training, encoding, ADC recall
  // ==================================================================
  //
  // The vector-compression half of the ANN family (FAISS IndexPQ shape;
  // Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011): the `dim`-dimensional embedding is split into
  // `m` contiguous subspaces of `dsub` dims; each subspace trains its own
  // `ksub`-codeword k-means codebook; a vector is stored as its m nearest
  // sub-codeword ids (m·log2(ksub) bits — 64 float dims → 8 bytes at
  // m=8, ksub=256). Query scoring is ADC (asymmetric distance): the raw
  // query precomputes one (m × ksub) partial-dot table, and each corpus
  // vector's approximate score is m table lookups — no decompression.
  //
  // == Scale shape ==
  //  - TRAIN touches only (m·ksub·dsub) aggregate state per Lloyd round:
  //    assignment is a broadcast of the tiny codebook against the corpus
  //    (narrow pass, corpus never shuffles), the update shuffles only
  //    (sub, code, pos) partial sums — the [[ivfTrainedCents]] shape with
  //    an extra `sub` key. At 10^12 rows you train on a stride sample;
  //    the stride rule here IS that sample (the corpus at gate scale).
  //  - ENCODE is one broadcast-join projection per vector — ids+codes
  //    only, m bytes of payload; composes with [[ivfCellsWith]] for the
  //    classic IVF-PQ layout (coarse cell + residual codes).
  //  - ADC recall evaluation broadcasts the per-query distance table
  //    (nQueries × m × ksub BIGINTs) against the codes table and reduces
  //    with one (query, vec) grouped sum — the corpus side carries codes
  //    only, never raw vectors.
  //
  // == Parity ==
  // Assignment distance is the native [[expressions.L2Sq]] sequential
  // fold (ties → lowest code); centroid updates use the quantized-BIGINT
  // component-mean trick of [[ivfTrainedCents]] (order-free exact sums);
  // ADC partial dots quantize to `floor(dot · 2^20)` BIGINTs so the
  // grouped sums are exact and the final score is one double division —
  // every stage bitwise across engines and partitionings.

  /** Driver-side PQ model train (r6 rewrite): seed = the deterministic
    * `vec_id % 13 = 3` stride sample (collected — ksub rows, model-sized),
    * then `iters` Lloyd rounds, each ONE corpus pass: the fused
    * [[expressions.PqAssignKernel]] projection assigns all m codes per
    * vector (no subvector explode, no broadcast join, no per-(vec, sub)
    * window sort), and the quantized-BIGINT component sums reduce through
    * one map-side-combined `(sub, code, pos)` exchange of ≤ m·ksub·dsub
    * aggregate rows, folded into the driver codebook (the
    * [[graft.ops.GbdtTrain]] per-round model-sized-collect precedent);
    * each round's codebook reaches the kernel by reference. Codes that lose all
    * members keep their previous codeword. Bitwise identical to the
    * replaced relational Lloyd (OpsSpec pins codes/codewords): the kernel
    * replicates the [[expressions.L2Sq]] fold and ties → lowest code, and
    * the component mean is the same single IEEE division of exact int64s.
    *
    * Returns the model with its flattened codebook
    * `cb[(s·ksubEff + c)·dsub + p]`, where ksubEff ≤ ksub is the
    * seed-sample size (corpora smaller than ~13·ksub yield fewer seeds —
    * the documented pqSeed stride gate). */
  private def pqTrainModel(embeddings0: DataFrame, m: Int, dsub: Int,
                           ksub: Int, iters: Int): expressions.PqModel = {
    expressions.register(embeddings0.sparkSession)
    val seeds = embeddings0.filter(expr("vec_id % 13 = 3"))
      .orderBy(col("vec_id")).limit(ksub)
      .select(col("embedding"))
    val embType = seeds.schema("embedding").dataType
    val seedVecs = Array.newBuilder[Array[Double]]
    models.foldRows(seeds) { r =>
      seedVecs += expressions.doubles(r.getArray(0), embType, "pqTrainModel")
    }
    val seedRows = seedVecs.result()
    val kEff = seedRows.length
    require(kEff > 0, "pq seed stride produced no codewords")
    val cb = new Array[Double](m * kEff * dsub)
    for (c <- 0 until kEff) {
      val e = seedRows(c)
      for (s <- 0 until m; p <- 0 until dsub) {
        val idx = s * dsub + p
        if (idx < e.length) cb((s * kEff + c) * dsub + p) = e(idx)
      }
    }
    val emb = graft.core.Partitioning.balance(embeddings0, "vec_id")
    for (_ <- 1 to iters) {
      val model = expressions.PqModel(cb.clone(), m, dsub, kEff)
      models.foldRows(emb.select(col("embedding"),
          posexplode(pqAssignCol(emb, model)).as(Seq("sub", "code")))
        .select(col("sub"), col("code"), posexplode(expr(
          s"transform(slice(embedding, sub * $dsub + 1, $dsub), x -> CAST(x AS DOUBLE))"))
          .as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(expr("CAST(floor(x * 1048576) AS BIGINT)")).as("s"),
          count(lit(1)).as("n"))) { r =>
        val s = r.getInt(0); val c = r.getInt(1); val p = r.getInt(2)
        cb((s * kEff + c) * dsub + p) =
          r.getLong(3).toDouble / (r.getLong(4) * 1048576L).toDouble
      }
    }
    expressions.PqModel(cb, m, dsub, kEff)
  }

  /** The fused-kernel code assignment column for a trained model, which
    * reaches the kernel by reference. */
  private def pqAssignCol(df: DataFrame,
                          model: expressions.PqModel): org.apache.spark.sql.Column = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    models.kernel(col("embedding"))(expressions.PqAssignKernel(_, bc))
  }

  /** (sub, code, cv DOUBLE[dsub]) frame of a driver-side model — the
    * broadcastable codebook shape the ADC tables consume. */
  private def cbFrame(spark: org.apache.spark.sql.SparkSession,
                      model: expressions.PqModel): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dsub = model.dsub
    val rows = (for (s <- 0 until model.m; c <- 0 until model.ksub) yield
      org.apache.spark.sql.Row(s, c, (0 until dsub).map(p =>
        model.cb((s * model.ksub + c) * dsub + p)))).asJava
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
  }

  /** Lloyd-trained PQ codebook as a DataFrame (sub, code, cv DOUBLE[dsub])
    * — [[pqTrainModel]] materialized for the oracle/ADC consumers. */
  def pqTrainCodebook(embeddings0: DataFrame, m: Int, dsub: Int, ksub: Int,
                      iters: Int): DataFrame = {
    cbFrame(embeddings0.sparkSession,
      pqTrainModel(embeddings0, m, dsub, ksub, iters))
  }

  /** Driver-facing trained-codebook report: one scalar row per codeword
    * component — (sub, code, pos, comp), array-free, bitwise. */
  def pqTrainTable(embeddings0: DataFrame, m: Int, dsub: Int, ksub: Int,
                   iters: Int): DataFrame =
    pqTrainCodebook(embeddings0, m, dsub, ksub, iters)
      .select(col("sub"), col("code"),
        posexplode(col("cv")).as(Seq("pos", "comp")))
      .select(col("sub"), col("code"), col("pos"), col("comp"))

  /** PQ encoding of the corpus against the trained codebook:
    * (vec_id, sub, code) — the m-byte compressed representation, one
    * fused-kernel narrow pass (no explode/join/window). */
  def pqCodes(embeddings0: DataFrame, m: Int, dsub: Int, ksub: Int,
              iters: Int): DataFrame = {
    val model = pqTrainModel(embeddings0, m, dsub, ksub, iters)
    val emb = graft.core.Partitioning.balance(embeddings0, "vec_id")
    emb.select(col("vec_id"),
        posexplode(pqAssignCol(emb, model)).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** Recall@k of ADC-over-PQ-codes ranking vs the exact brute-force
    * baseline — the trust measurement for the compressed index. Approx
    * score of (query q, vector x) = Σ_s dot(q_s, cw[s, code(x,s)]) /
    * ‖x̂‖ (= cosine of q against x's reconstruction, up to the
    * query-constant ‖q‖): partial dots ride a broadcast (query × m ×
    * ksub) table of floor(dot·2^20) BIGINTs, summed exactly per
    * (query, vec). */
  def pqAdcRecall(embeddings0: DataFrame, nQueries: Int, k: Int, m: Int,
                  dsub: Int, ksub: Int, iters: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val model = pqTrainModel(embeddings0, m, dsub, ksub, iters)
    val cb = cbFrame(embeddings0.sparkSession, model)
    val emb = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val codes = emb.select(col("vec_id"),
        posexplode(pqAssignCol(emb, model)).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub"), col("code"))
    val exact = bruteTopK(embeddings0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val queries = embeddings0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val dt = queries.crossJoin(broadcast(cb))
      .withColumn("qsv", expr(
        s"transform(slice(qv, sub * $dsub + 1, $dsub), x -> CAST(x AS DOUBLE))"))
      .select(col("query_id"), col("sub"), col("code"),
        expr("CAST(floor(graft_dot(qsv, cv) * 1048576) AS BIGINT)").as("pdot"),
        expr("CAST(floor(graft_dot(cv, cv) * 1048576) AS BIGINT)").as("cnorm2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val approx = codes.join(broadcast(dt), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cnorm2")).as("anorm2"))
      .withColumn("score", expr(
        """CASE WHEN anorm2 <= 0 THEN CAST(-1.0e18 AS DOUBLE)
          |     ELSE CAST(adot AS DOUBLE) / sqrt(CAST(anorm2 AS DOUBLE))
          |END""".stripMargin))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall_at_k"))
  }

  /** Parallel-corpus (bitext) mining — the margin criterion of Artetxe &
    * Schwenk, "Margin-based Parallel Corpus Mining with Multilingual
    * Sentence Embeddings" (ACL 2019): a candidate translation pair (x, y)
    * is scored not by raw cosine but by its RATIO to the average
    * similarity of each side's k-nearest neighborhood —
    * `margin(x,y) = cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2)` — which
    * suppresses hubs (vectors close to everything) and rescues sparse
    * regions. The two "languages" here are the corpus and its
    * [[plantNearDups]] augmentation (planted twins = ground-truth
    * translations), so mined precision is measurable (`is_planted`).
    *
    * == Integer-exact form ==
    * Shifted cosine `sq = floor((cos+1)·10^6)` ∈ [0, 2·10^6] (the shift
    * keeps every quantity non-negative, so floor-division agrees across
    * engines); `denom_v` = integer mean of v's top-k candidate `sq`
    * (ties → partner id asc); `margin_milli = 2000·sq div
    * (denom_x + denom_y)` — ≈ 1000 at neighborhood-average similarity,
    * higher for true pairs. Ranking (margin desc, pair asc) and the
    * global top-M (TakeOrdered) are bitwise.
    *
    * == Scale shape ==
    * Candidates come from the banded sign-LSH join ([[embedCandidates]]
    * — ids only, cross-side filtered), and the kNN denominators are
    * estimated over each vector's CANDIDATE neighborhood — the standard
    * at-scale approximation (exact kNN would be all-pairs). Vectors are
    * re-fetched by id only for the candidate scoring pass. */
  def bitextMine(embeddings0: DataFrame, plantMod: Int, nBands: Int,
                 bitsPerBand: Int, k: Int, topM: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val planted = plantNearDups(embeddings0, plantMod)
    val cand = embedCandidates(planted, nBands, bitsPerBand)
      .filter(col("vec_a") < PlantIdOffset && col("vec_b") >= PlantIdOffset)
    val e = planted.select(col("vec_id"), col("embedding"))
    val sc = cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), expr(
        "CAST(floor((graft_cosine(ea, eb) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)")
        .as("sq"))
      // candidate-sized (ids + one BIGINT): materialized once — the two
      // denominator windows and the final projection would otherwise each
      // re-execute the whole plant->band->verify chain (PlanAudit: 64
      // corpus scans -> ~20)
      .localCheckpoint(true)
    def denomOver(side: String, other: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(side))
        .orderBy(col("sq").desc, col(other).asc)
      sc.withColumn("r", row_number().over(w)).filter(col("r") <= k)
        .groupBy(col(side))
        .agg(expr("CAST(sum(sq) div count(1) AS BIGINT)").as(s"denom_$side"))
    }
    sc.join(denomOver("vec_a", "vec_b"), Seq("vec_a"))
      .join(denomOver("vec_b", "vec_a"), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("sq"),
        expr("""CASE WHEN denom_vec_a + denom_vec_b <= 0 THEN CAST(0 AS BIGINT)
               |     ELSE (2000 * sq) div (denom_vec_a + denom_vec_b)
               |END""".stripMargin).as("margin_milli"),
        (col("vec_b") === col("vec_a") + PlantIdOffset).as("is_planted"))
      .orderBy(col("margin_milli").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(topM)
  }

  /** DuckDB mirror of [[bitextMine]]; `srcSql` = the same pre-filtered
    * (vec_id, embedding) SELECT the Spark side was given. */
  def duckBitextMineSql(srcSql: String, plantMod: Int, nBands: Int,
                        bitsPerBand: Int, k: Int, topM: Int): String =
    s"""WITH src AS MATERIALIZED ($srcSql),
       |aug AS MATERIALIZED (${duckPlantSql(plantMod, "src")}),
       |bh AS MATERIALIZED (
       |${duckEmbedBandHashesSql(nBands, bitsPerBand, "aug")}),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bh a JOIN bh b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |    AND a.vec_id < b.vec_id
       |  WHERE a.vec_id < $PlantIdOffset AND b.vec_id >= $PlantIdOffset),
       |sc AS MATERIALIZED (
       |  SELECT c.vec_a, c.vec_b,
       |    CAST(floor((${duckCosine("ea.embedding", "eb.embedding")}
       |      + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT) AS sq
       |  FROM cand c
       |  JOIN aug ea ON ea.vec_id = c.vec_a
       |  JOIN aug eb ON eb.vec_id = c.vec_b),
       |da AS (
       |  SELECT vec_a, CAST(sum(sq) // count(*) AS BIGINT) AS denom_a
       |  FROM (SELECT vec_a, vec_b, sq,
       |          row_number() OVER (PARTITION BY vec_a
       |            ORDER BY sq DESC, vec_b ASC) AS r FROM sc)
       |  WHERE r <= $k GROUP BY 1),
       |db AS (
       |  SELECT vec_b, CAST(sum(sq) // count(*) AS BIGINT) AS denom_b
       |  FROM (SELECT vec_a, vec_b, sq,
       |          row_number() OVER (PARTITION BY vec_b
       |            ORDER BY sq DESC, vec_a ASC) AS r FROM sc)
       |  WHERE r <= $k GROUP BY 1)
       |SELECT sc.vec_a, sc.vec_b, sc.sq,
       |  CASE WHEN da.denom_a + db.denom_b <= 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST((2000 * sc.sq) // (da.denom_a + db.denom_b)
       |            AS BIGINT) END AS margin_milli,
       |  sc.vec_b = sc.vec_a + $PlantIdOffset AS is_planted
       |FROM sc
       |JOIN da ON da.vec_a = sc.vec_a
       |JOIN db ON db.vec_b = sc.vec_b
       |ORDER BY margin_milli DESC, sc.vec_a ASC, sc.vec_b ASC
       |LIMIT $topM""".stripMargin

  /** Matryoshka truncation recall curve (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022 — evaluation side): for each
    * prefix width `d` in `dims`, recall@k of the cosine ranking computed
    * on the FIRST `d` embedding components against the full-dimension
    * exact top-k — the measurement behind serving truncated embeddings
    * (cheaper index, graceful recall decay). One broadcast-queries
    * corpus pass per width (the [[bruteTopK]] shape; widths share the
    * scan via union), per-width ranking deterministic (cos desc, vec
    * asc). Output: (dim, query_id, n_hits, recall_at_k). */
  def matryoshkaRecall(embeddings0: DataFrame, nQueries: Int, k: Int,
                       dims: Seq[Int]): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val embeddings = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val exact = bruteTopK(embeddings0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      // (nQueries x k) ids: materialized once instead of re-running the
      // brute baseline in every width arm
      .localCheckpoint(true)
    val queries = embeddings0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val perDim = dims.map { d =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val approx = embeddings.join(broadcast(queries),
          col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          expr(s"graft_cosine(slice(qv, 1, $d), slice(embedding, 1, $d))"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("query_id"))
        .join(hits, Seq("query_id"), "left_outer")
        .select(lit(d).as("dim"), col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / k)
            .as("recall_at_k"))
    }
    perDim.reduce(_ unionByName _)
  }

  /** DuckDB mirror of [[matryoshkaRecall]]. */
  def duckMatryoshkaRecallSql(nQueries: Int, k: Int,
                              dims: Seq[Int]): String = {
    val arms = dims.map { d =>
      s"""SELECT $d AS dim, q.query_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k AS recall_at_k
         |FROM (SELECT vec_id AS query_id FROM embeddings
         |      WHERE vec_id < $nQueries) q
         |LEFT JOIN (
         |  SELECT a.query_id, count(*) AS n_hits
         |  FROM exact x
         |  JOIN (
         |    SELECT query_id, neighbor_id FROM (
         |      SELECT qq.query_id, e.vec_id AS neighbor_id,
         |        row_number() OVER (PARTITION BY qq.query_id ORDER BY
         |          ${duckCosine(s"list_slice(qq.qv, 1, $d)",
                      s"list_slice(e.embedding, 1, $d)")} DESC,
         |          e.vec_id ASC) AS rank
         |      FROM qset qq JOIN embeddings e
         |        ON e.vec_id <> qq.query_id)
         |    WHERE rank <= $k) a
         |    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
         |  GROUP BY a.query_id) h ON h.query_id = q.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id
       |  FROM (${duckBruteTopKSql(nQueries, k)})),
       |qset AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $nQueries)
       |$arms""".stripMargin
  }

  /** IVF-PQ composed index recall: candidate set from the query's
    * `nProbe` max-cosine IVF cells (the coarse quantizer —
    * [[ivfCells]]), ranking by PQ ADC score over the codes table (the
    * fine quantizer — [[pqAdcRecall]]'s scorer restricted to the
    * candidates) — the classic two-level compressed ANN layout (FAISS
    * IVFPQ shape; Jégou et al., TPAMI 2011 §IV).
    *
    * == Scale shape ==
    * Per query the scoring work is (probed cells × cell occupancy) × m
    * table lookups; the corpus side of every join carries only
    * (vec_id, cell) and (vec_id, sub, code) — neither raw vectors nor
    * anything corpus-sized is shuffled or broadcast. `n_cand` rides the
    * report so recall reads against the probe budget it cost. */
  def ivfPqRecall(embeddings0: DataFrame, nQueries: Int, k: Int,
                  nCells: Int, nProbe: Int, m: Int, dsub: Int, ksub: Int,
                  iters: Int): DataFrame = {
    expressions.register(embeddings0.sparkSession)
    val emb = graft.core.Partitioning.balance(embeddings0, "vec_id")
    val cells = ivfAssign(emb, cents(embeddings0, nCells))
      .select(col("vec_id"), col("cell"))
    val model = pqTrainModel(embeddings0, m, dsub, ksub, iters)
    val cb = cbFrame(embeddings0.sparkSession, model)
    val codes = emb.select(col("vec_id"),
        posexplode(pqAssignCol(emb, model)).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub"), col("code"))
    val exact = bruteTopK(embeddings0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val queries = embeddings0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    val probed = queries.crossJoin(broadcast(cents(embeddings0, nCells)))
      .withColumn("ccos", expr("graft_cosine(cv, qv)"))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("cell"))
    // probed is (nQueries × nProbe) rows — provably broadcastable; the
    // cand→codes join stays AQE-planned (candidate volume scales with
    // cell occupancy, so a static broadcast hint would be a scale hazard)
    val cand = cells.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    // r6: the former eager localCheckpoint here is gone — its two
    // consumers (n_cand + the ADC ranking) re-run only a narrow fused
    // cell-assignment projection + broadcast join since the
    // IvfAssignKernel rewrite, which is cheaper than the materialization
    // barrier the checkpoint paid (PlanAudit r5 added it when the chain
    // was a crossJoin + window per reference)
    val nCand = cand.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val dt = queries.crossJoin(broadcast(cb))
      .withColumn("qsv", expr(
        s"transform(slice(qv, sub * $dsub + 1, $dsub), x -> CAST(x AS DOUBLE))"))
      .select(col("query_id"), col("sub"), col("code"),
        expr("CAST(floor(graft_dot(qsv, cv) * 1048576) AS BIGINT)").as("pdot"),
        expr("CAST(floor(graft_dot(cv, cv) * 1048576) AS BIGINT)").as("cnorm2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val approx = cand.join(codes, Seq("vec_id"))
      .join(broadcast(dt), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cnorm2")).as("anorm2"))
      .withColumn("score", expr(
        """CASE WHEN anorm2 <= 0 THEN CAST(-1.0e18 AS DOUBLE)
          |     ELSE CAST(adot AS DOUBLE) / sqrt(CAST(anorm2 AS DOUBLE))
          |END""".stripMargin))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("query_id"))
      .join(nCand, Seq("query_id"), "left_outer")
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall_at_k"))
  }

  /** DuckDB mirror of [[ivfPqRecall]]. */
  def duckIvfPqRecallSql(nQueries: Int, k: Int, nCells: Int, nProbe: Int,
                         m: Int, dsub: Int, ksub: Int, iters: Int): String =
    s"""WITH ${duckPqChain(m, dsub, ksub, iters)},
       |cells AS (SELECT vec_id, cell
       |          FROM (${duckIvfCellsSql(nCells)})),
       |icents AS (SELECT cell, cv FROM (${centsSql(nCells)})),
       |q AS (SELECT vec_id AS query_id, embedding AS qv
       |      FROM embeddings WHERE vec_id < $nQueries),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ccos DESC, cell ASC) AS crank
       |    FROM (SELECT q.query_id, c.cell,
       |            ${duckCosine("c.cv", "q.qv")} AS ccos
       |          FROM q CROSS JOIN icents c))
       |  WHERE crank <= $nProbe),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, s.vec_id
       |  FROM cells s JOIN probed p USING (cell)
       |  WHERE s.vec_id <> p.query_id),
       |dd AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |    ${duckL2E("s.sv", "c.cv")} AS l2
       |  FROM subs s JOIN cb$iters c ON c.sub = s.sub),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |                         ORDER BY l2 ASC, code ASC) AS r
       |    FROM dd) WHERE r = 1),
       |dt AS MATERIALIZED (
       |  SELECT q.query_id, c.sub, c.code,
       |    CAST(floor(${duckDotE(
             s"list_slice(q.qv, c.sub * $dsub + 1, c.sub * $dsub + $dsub)",
             "c.cv")} * 1048576) AS BIGINT) AS pdot,
       |    CAST(floor(${duckDotE("c.cv", "c.cv")} * 1048576) AS BIGINT)
       |      AS cnorm2
       |  FROM q CROSS JOIN cb$iters c),
       |sc AS (
       |  SELECT n.query_id, n.vec_id,
       |    CAST(sum(d.pdot) AS BIGINT) AS adot,
       |    CAST(sum(d.cnorm2) AS BIGINT) AS anorm2
       |  FROM cand n
       |  JOIN codes c ON c.vec_id = n.vec_id
       |  JOIN dt d ON d.query_id = n.query_id
       |    AND d.sub = c.sub AND d.code = c.code
       |  GROUP BY n.query_id, n.vec_id),
       |approx AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY
       |        CASE WHEN anorm2 <= 0 THEN CAST(-1.0e18 AS DOUBLE)
       |             ELSE CAST(adot AS DOUBLE) / sqrt(CAST(anorm2 AS DOUBLE))
       |        END DESC, vec_id ASC) AS rank
       |    FROM sc) WHERE rank <= $k),
       |exact AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${duckBruteTopKSql(nQueries, k)})),
       |nc AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
       |  FROM cand GROUP BY 1),
       |hits AS (
       |  SELECT query_id, count(*) AS n_hits
       |  FROM exact JOIN approx USING (query_id, neighbor_id)
       |  GROUP BY query_id)
       |SELECT q.query_id,
       |  coalesce(nc.n_cand, 0) AS n_cand,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k AS recall_at_k
       |FROM q
       |LEFT JOIN nc ON nc.query_id = q.query_id
       |LEFT JOIN hits h ON h.query_id = q.query_id""".stripMargin

  // ---- DuckDB mirrors of the PQ family ----

  private def duckDotE(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform($a, (x, i) ->
       |      CAST(x AS DOUBLE) * CAST(($b)[i] AS DOUBLE))),
       |    (p, q) -> p + q)""".stripMargin

  private def duckL2E(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform($a, (x, i) ->
       |      (CAST(x AS DOUBLE) - CAST(($b)[i] AS DOUBLE))
       |      * (CAST(x AS DOUBLE) - CAST(($b)[i] AS DOUBLE)))),
       |    (p, q) -> p + q)""".stripMargin

  /** WITH-clause chain (no leading WITH): `subs`, `cb0` … `cb{iters}`,
    * mirroring the subvector split, the seed sample and the Lloyd rounds
    * of [[pqTrainModel]]. */
  private def duckPqChain(m: Int, dsub: Int, ksub: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""subs AS MATERIALIZED (
       |  SELECT e.vec_id, CAST(g.sub AS INTEGER) AS sub,
       |    list_transform(list_slice(e.embedding, g.sub * $dsub + 1,
       |      g.sub * $dsub + $dsub), x -> CAST(x AS DOUBLE)) AS sv
       |  FROM embeddings e
       |  CROSS JOIN (SELECT unnest(range($m)) AS sub) g),
       |cb0 AS (
       |  SELECT CAST(g.sub AS INTEGER) AS sub, t.code,
       |    list_transform(list_slice(t.embedding, g.sub * $dsub + 1,
       |      g.sub * $dsub + $dsub), x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (SELECT embedding,
       |          CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
       |            AS code
       |        FROM (SELECT vec_id, embedding FROM embeddings
       |              WHERE vec_id % 13 = 3 ORDER BY vec_id LIMIT $ksub)) t
       |  CROSS JOIN (SELECT unnest(range($m)) AS sub) g)""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"cb${i - 1}"
      sb ++= s""",
         |d$i AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    ${duckL2E("s.sv", "c.cv")} AS l2
         |  FROM subs s JOIN $prev c ON c.sub = s.sub),
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY l2 ASC, code ASC) AS r
         |    FROM d$i) WHERE r = 1),
         |u$i AS (
         |  SELECT a.sub, a.code, generate_subscripts(s.sv, 1) - 1 AS pos,
         |         unnest(s.sv) AS x
         |  FROM a$i a JOIN subs s
         |    ON s.vec_id = a.vec_id AND s.sub = a.sub),
         |s$i AS (
         |  SELECT sub, code, pos,
         |    CAST(sum(CAST(floor(x * 1048576) AS BIGINT)) AS BIGINT) AS s,
         |    count(*) AS n
         |  FROM u$i GROUP BY sub, code, pos),
         |m$i AS (
         |  SELECT sub, code,
         |    list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
         |         ORDER BY pos) AS cv
         |  FROM s$i GROUP BY sub, code),
         |cb$i AS MATERIALIZED (
         |  SELECT p.sub, p.code, coalesce(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN m$i m
         |    ON m.sub = p.sub AND m.code = p.code)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB mirror of [[pqTrainTable]]. */
  def duckPqTrainSql(m: Int, dsub: Int, ksub: Int, iters: Int): String =
    s"""WITH ${duckPqChain(m, dsub, ksub, iters)}
       |SELECT sub, code, CAST(generate_subscripts(cv, 1) - 1 AS INTEGER)
       |    AS pos,
       |  unnest(cv) AS comp
       |FROM cb$iters""".stripMargin

  /** DuckDB mirror of [[pqCodes]]. */
  def duckPqCodesSql(m: Int, dsub: Int, ksub: Int, iters: Int): String =
    s"""WITH ${duckPqChain(m, dsub, ksub, iters)},
       |dd AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |    ${duckL2E("s.sv", "c.cv")} AS l2
       |  FROM subs s JOIN cb$iters c ON c.sub = s.sub)
       |SELECT vec_id, sub, code FROM (
       |  SELECT vec_id, sub, code,
       |    row_number() OVER (PARTITION BY vec_id, sub
       |                       ORDER BY l2 ASC, code ASC) AS r
       |  FROM dd) WHERE r = 1""".stripMargin

  /** DuckDB mirror of [[pqAdcRecall]]. */
  def duckPqRecallSql(nQueries: Int, k: Int, m: Int, dsub: Int, ksub: Int,
                      iters: Int): String =
    s"""WITH ${duckPqChain(m, dsub, ksub, iters)},
       |dd AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |    ${duckL2E("s.sv", "c.cv")} AS l2
       |  FROM subs s JOIN cb$iters c ON c.sub = s.sub),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |                         ORDER BY l2 ASC, code ASC) AS r
       |    FROM dd) WHERE r = 1),
       |dt AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.sub, c.code,
       |    CAST(floor(${duckDotE(
             s"list_slice(q.embedding, c.sub * $dsub + 1, c.sub * $dsub + $dsub)",
             "c.cv")} * 1048576) AS BIGINT) AS pdot,
       |    CAST(floor(${duckDotE("c.cv", "c.cv")} * 1048576) AS BIGINT)
       |      AS cnorm2
       |  FROM embeddings q CROSS JOIN cb$iters c
       |  WHERE q.vec_id < $nQueries),
       |sc AS (
       |  SELECT d.query_id, c.vec_id,
       |    CAST(sum(d.pdot) AS BIGINT) AS adot,
       |    CAST(sum(d.cnorm2) AS BIGINT) AS anorm2
       |  FROM codes c JOIN dt d ON d.sub = c.sub AND d.code = c.code
       |  WHERE c.vec_id <> d.query_id
       |  GROUP BY d.query_id, c.vec_id),
       |approx AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY
       |        CASE WHEN anorm2 <= 0 THEN CAST(-1.0e18 AS DOUBLE)
       |             ELSE CAST(adot AS DOUBLE) / sqrt(CAST(anorm2 AS DOUBLE))
       |        END DESC, vec_id ASC) AS rank
       |    FROM sc) WHERE rank <= $k),
       |exact AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${duckBruteTopKSql(nQueries, k)})),
       |hits AS (
       |  SELECT query_id, count(*) AS n_hits
       |  FROM exact JOIN approx USING (query_id, neighbor_id)
       |  GROUP BY query_id)
       |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k AS recall_at_k
       |FROM (SELECT vec_id AS query_id FROM embeddings
       |      WHERE vec_id < $nQueries) q
       |LEFT JOIN hits h USING (query_id)""".stripMargin
}
