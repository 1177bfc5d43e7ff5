package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import graft.sources.Multimodal

/** Dedup / similarity / multimodal operator semantics. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("minhash: identical token sequences -> identical signatures and bands") {
    val toks = Seq.tabulate(500)(i => (i * 37) % 911 - 400)
    val other = Seq.tabulate(500)(i => (i * 53) % 701 - 300)
    val seqs = Seq(
      ("a", toks, 500, "s"), ("b", toks, 500, "s"), ("c", other, 500, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val mh = Dedup.minhash(seqs).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    assert(mh("a") == mh("b"))
    assert(mh("a") != mh("c"))
    val pairs = Dedup.lshCandidates(seqs).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSeq == Seq(("a", "b")))
  }

  test("minhash: near-duplicate (small edit) still shares bands") {
    val toks = Seq.tabulate(2000)(i => (i * 37) % 911 - 400)
    val edited = toks.updated(1000, 999) // one token changed
    val seqs = Seq(("a", toks, 2000, "s"), ("b", edited, 2000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val pairs = Dedup.lshCandidates(seqs).count()
    assert(pairs == 1, "one-token edit must stay an LSH candidate")
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (3L, "zq xw vu ts rp on ml kj", "en", "s", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("cosine top-k: duplicated vector is its twin's top neighbor with cos ~ 1") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f), 0),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f), 0),   // duplicate of 0
      (2L, Array(-4.0f, 3.0f, -2.0f, 1.0f), 1),
      (3L, Array(0.5f, -1.0f, 2.0f, -3.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteTopK(emb, nQueries = 1, k = 3)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(math.abs(top(0).getAs[Double]("cos") - 1.0) < 1e-12)
  }

  test("lsh buckets: identical vectors share buckets; bucket join prunes pairs") {
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => (i + 1).toFloat), 0),
      (1L, Array.tabulate(16)(i => (i + 1).toFloat), 0),
      (2L, Array.tabulate(16)(i => -(i + 1).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    val b = Similarity.lshBuckets(vecs, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // opposite vector flips every sign bit
  }

  test("banded sign-LSH near-dups: planted duplicate found, recall row sane") {
    // 0/1 identical (near-dup pair), 2 the exact opposite (cos = -1), 3 noise
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => (i + 1).toFloat), 0),
      (1L, Array.tabulate(16)(i => (i + 1).toFloat), 0),
      (2L, Array.tabulate(16)(i => -(i + 1).toFloat), 1),
      (3L, Array.tabulate(16)(i => ((i * 7) % 5 - 2).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    val dups = Similarity.embeddingNearDups(vecs, nBands = 3, bitsPerBand = 8,
      minCos = 0.9).collect()
    assert(dups.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(math.abs(dups(0).getAs[Double]("cos") - 1.0) < 1e-12)
    // identical vectors agree on every band; the opposite vector flips all
    // sign bits, so it shares no band bucket with 0/1
    val cand = Similarity.embedCandidates(vecs, 3, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)) && !cand.contains((0L, 2L)))
    val rec = Similarity.embedDedupRecall(vecs, nBands = 3,
      bitsPerBand = 8, minCos = 0.9).collect()(0)
    assert(rec.getAs[Long]("n_exact") == 1L)
    assert(rec.getAs[Long]("n_found") == 1L)
    assert(rec.getAs[Double]("recall") == 1.0)
  }

  test("ANN NDCG/MRR: perfect bucket retrieval scores 1.0; a bucket miss discounts by position") {
    // all same-direction vectors share every sign bucket; -v0 flips all bits
    val base = Array(1.0f, 2.0f, 3.0f, 4.0f)
    val perfect = Seq(
      (0L, base, 0),
      (1L, base.map(_ * 2), 0),
      (2L, base.map(_ * 3), 0),
      (3L, base.map(-_), 1))
      .toDF("vec_id", "embedding", "label")
    val p = Similarity.annRankingMetrics(perfect, nQueries = 1, k = 2,
      nPlanes = 8).collect()(0)
    // exact top-2 = ANN top-2 = (1, 2), both cos 1, ties by vec_id
    val t1 = math.floor(2e6 / (math.log(2) / math.log(2)) + 0.5).toLong // 2000000
    val t2 = math.floor(1e6 / (math.log(3) / math.log(2)) + 0.5).toLong // 630930
    assert(p.getAs[Long]("n_ret") == 2L)
    assert(p.getAs[Long]("dcg_micro") == t1 + t2)
    assert(p.getAs[Long]("idcg_micro") == t1 + t2)
    assert(p.getAs[Double]("ndcg_at_k") == 1.0)
    assert(p.getAs[Long]("rr_micro") == 1000000L)

    // only ONE same-direction neighbor: the exact list still has k = 2
    // entries (second is a cos = -1 tie -> vec_id 2), but the bucket holds
    // just vec 1 -> DCG misses the second exact slot entirely
    val degraded = Seq(
      (0L, base, 0),
      (1L, base.map(_ * 2), 0),
      (2L, base.map(-_), 1),
      (3L, base.map(x => -2 * x), 1))
      .toDF("vec_id", "embedding", "label")
    val d = Similarity.annRankingMetrics(degraded, nQueries = 1, k = 2,
      nPlanes = 8).collect()(0)
    assert(d.getAs[Long]("n_ret") == 1L)
    assert(d.getAs[Long]("dcg_micro") == t1)
    assert(d.getAs[Long]("idcg_micro") == t1 + t2)
    assert(d.getAs[Double]("ndcg_at_k") == t1.toDouble / (t1 + t2))
    assert(d.getAs[Long]("rr_micro") == 1000000L)
  }

  test("int8 quantization: exact values round-trip, error bounded by scale/254") {
    val emb = Seq(
      (0L, Array(1.0f, -1.0f, 0.0f, 0.5f), 0),  // 0.5 -> 64 (half-up)
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0),   // zero vector: scale 0
      (2L, Array(0.25f, -0.125f, 1.0f, -0.75f), 1))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    val r0 = rows(0L)
    assert(r0.getAs[Double]("scale") == 1.0)
    assert(r0.getAs[Int]("n_dims") == 4)
    // q = [127, -127, 0, 64]; the md5 digest convention (CSV of ints)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("127,-127,0,64".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r0.getAs[String]("q_md5") == md)
    // only the 0.5 slot carries error: |0.5 - 64/127| = 1/254
    assert(math.abs(r0.getAs[Double]("max_abs_err") - 1.0 / 254) < 1e-12)
    assert(math.abs(r0.getAs[Double]("err2") - 1.0 / (254.0 * 254)) < 1e-12)
    val r1 = rows(1L)
    assert(r1.getAs[Double]("scale") == 0.0)
    assert(r1.getAs[Double]("err2") == 0.0)
    val r2 = rows(2L)
    assert(r2.getAs[Double]("scale") == 1.0)
    // every element's error is within the SQ8 bound scale/254 (+0.5 ulp)
    assert(r2.getAs[Double]("max_abs_err") <= 1.0 / 254 + 1e-12)
  }

  test("cross-split contamination: only boundary-straddling near-dup pairs survive") {
    // 0/1 and 2/3 are identical pairs; hash split assigns per vec_id, so
    // we only assert the filter semantics: every reported pair straddles
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => (i + 1).toFloat), 0),
      (1L, Array.tabulate(16)(i => (i + 1).toFloat), 0),
      (2L, Array.tabulate(16)(i => (i * 3 % 7 + 1).toFloat), 1),
      (3L, Array.tabulate(16)(i => (i * 3 % 7 + 1).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    val all = graft.ops.Similarity.embeddingNearDups(vecs, 3, 8, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((0L, 1L), (2L, 3L)))
    val contam = graft.ops.Similarity.crossSplitContam(vecs, 3, 8, 0.9)
      .collect()
    assert(contam.forall(r =>
      r.getAs[String]("split_a") != r.getAs[String]("split_b")))
    assert(contam.map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(
      all.map { case (a, b) => (b, a) } ++ all))
  }

  test("z-order layout: interleaved chunks prune a point box; natural layout cannot") {
    // 2x2 grid, two copies of each cell; ids interleave the cells so the
    // NATURAL chunking mixes every envelope while z-order separates them
    val pts = Seq((0L, 0L, 0L), (1L, 1L, 1L), (2L, 1L, 0L), (3L, 0L, 1L),
      (4L, 0L, 0L), (5L, 1L, 1L), (6L, 1L, 0L), (7L, 0L, 1L))
      .toDF("k", "x", "y")
    val rep = graft.ops.Layout.zorderReport(pts, "k", "x", "y",
      bits = 2, chunkRows = 2, qx0 = 0, qx1 = 0, qy0 = 0, qy1 = 0)
      .collect()
    val byLayout = rep.groupBy(_.getAs[String]("layout"))
    assert(byLayout("zorder").map(_.getAs[Long]("n")).sum == 8L)
    assert(byLayout("natural").map(_.getAs[Long]("n")).sum == 8L)
    // z-order: chunks are exactly the four grid cells (z = 0,1,2,3 pairs)
    // -> only the (0,0) chunk intersects the point box
    assert(byLayout("zorder").count(_.getAs[Boolean]("overlaps")) == 1)
    assert(byLayout("zorder").forall(r =>
      r.getAs[Long]("x_min") == r.getAs[Long]("x_max") &&
        r.getAs[Long]("y_min") == r.getAs[Long]("y_max")),
      "each z-order chunk must hold a single grid cell")
    // natural: every chunk spans the full grid -> nothing prunes
    assert(byLayout("natural").count(_.getAs[Boolean]("overlaps")) == 4)
  }

  test("isotonic fit: adjacent violators pool to their weighted mean, result monotone") {
    // bin rates [0, 1, 0.5] with weights [2, 1, 2]: PAV pools bins 1-2 to
    // (1+1)/3 = 2/3 -> iso = [0, 2/3, 2/3]
    val scored = Seq(
      (0.05, false), (0.05, false),          // bin 0: 0/2
      (0.15, true),                          // bin 1: 1/1
      (0.25, true), (0.25, false))           // bin 2: 1/2
      .toDF("score", "label")
    val iso = graft.ops.Evaluation.isotonicFit(scored, "score", "label",
      loMilli = 0L, binMilli = 100L, bins = 10).collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Double]("frac_pos"), r.getAs[Double]("iso_rate"))).toMap
    assert(iso(0L) == ((0.0, 0.0)))
    assert(iso(1L)._1 == 1.0 && iso(1L)._2 == 2.0 / 3.0)
    assert(iso(2L)._1 == 0.5 && iso(2L)._2 == 2.0 / 3.0)
    // monotone in bin order
    val ordered = iso.toSeq.sortBy(_._1).map(_._2._2)
    assert(ordered == ordered.sorted)
  }

  test("hashed cross: row mass preserved, dim=1 collapses all crosses to one bucket") {
    val df = Seq(("en", "s0"), ("en", "s0"), ("en", "s1"), ("de", "s0"),
      ("de", "s1"), ("zh", "s2")).toDF("lang", "source")
    val one = graft.ops.Binning.hashedCross(df, Seq("lang", "source"), 1)
      .collect()
    assert(one.length == 1)
    assert(one(0).getAs[Long]("bucket") == 0L)
    assert(one(0).getAs[Long]("n_rows") == 6L)
    assert(one(0).getAs[Long]("n_crosses") == 5L)
    assert(one(0).getAs[String]("min_cross") == "de|s0")
    // wide dim: per-bucket masses still sum to the corpus
    val wide = graft.ops.Binning.hashedCross(df, Seq("lang", "source"), 4096)
      .collect()
    assert(wide.map(_.getAs[Long]("n_rows")).sum == 6L)
    assert(wide.map(_.getAs[Long]("n_crosses")).sum == 5L)
  }

  test("group-median imputation: lower median fills, all-missing group stays NULL") {
    val rows = Seq(
      // group A present values {1.0, 5.0, 9.0, 20.0} -> lower median 5.0
      ("A", 1L, 1.0, false), ("A", 2L, 5.0, false), ("A", 3L, 9.0, false),
      ("A", 4L, 20.0, false), ("A", 5L, -99.0, true),
      // group B present {7.0} -> median 7.0
      ("B", 6L, 7.0, false), ("B", 7L, 0.0, true),
      // group C entirely missing -> fill stays NULL
      ("C", 8L, 0.0, true))
      .toDF("g", "k", "v", "miss")
    val out = graft.ops.Impute.groupMedianFill(rows, "g", "k", "v",
      col("miss")).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Boolean]("was_missing"), Option(r.get(3)))).toMap
    assert(out(1L) == (false, Some(1.0)))
    assert(out(5L) == (true, Some(5.0)), "even group: LOWER median (rank 2)")
    assert(out(7L) == (true, Some(7.0)))
    assert(out(8L) == (true, None), "all-missing group keeps NULL")
    assert(out.size == 8)
  }

  test("production normalizer fit (var_pop partials) == ordered fold, allclose") {
    val xs = Seq.tabulate(400)(i => ((i * 37 % 101) - 50).toDouble / 7.0)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
    val fit = graft.ops.Normalize.fit(df, Seq("x")).collect()(0)
    val mu = xs.sum / xs.length
    val sigma = math.sqrt(xs.map(v => (v - mu) * (v - mu)).sum / xs.length)
    assert(math.abs(fit.getAs[Double]("x_mu") - mu) < 1e-9)
    assert(math.abs(fit.getAs[Double]("x_sigma") - sigma) < 1e-9)
    // apply: z-score clamped at +-3 sigma, zero shuffle on the big side
    val applied = graft.ops.Normalize(df,
      graft.ops.Normalize.fit(df, Seq("x")), Seq("x"))
    val zs = applied.select("x_z").as[Double].collect()
    assert(zs.forall(z => z >= -3.0 && z <= 3.0))
  }

  test("dedup cluster resolution: planted pairs collapse to min-id clusters") {
    val pairs = Seq(("d2", "d5"), ("d5", "d9"), ("d3", "d4"))
      .toDF("doc_a", "doc_b")
    val docs = (1 to 9).map(i => s"d$i").toDF("doc_id")
    val labels = graft.ops.Dedup.resolveClusters(docs, pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels("d2") == "d2" && labels("d5") == "d2" && labels("d9") == "d2")
    assert(labels("d3") == "d3" && labels("d4") == "d3")
    assert(labels("d1") == "d1" && labels("d7") == "d7") // singletons
  }

  test("large-star/small-star components == min-label propagation; handles deep chains") {
    // random-ish clusters + a 120-node chain (diameter >> the propagation
    // cap of 50 — the capped variant throws, the star variant converges
    // in O(log n) rounds)
    val chain = (0 until 119).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val extra = Seq(("d2", "d5"), ("d5", "d9"), ("d3", "d4"), ("d9", "d2"))
    val pairs = (chain ++ extra).toDF("doc_a", "doc_b")
    val docs = ((0 to 119).map(i => f"c$i%03d") ++ (1 to 9).map(i => s"d$i"))
      .toDF("doc_id")
    val star = graft.ops.Dedup.resolveClustersStar(docs, pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(star("c119") == "c000" && star("c060") == "c000")
    assert(star("d9") == "d2" && star("d4") == "d3" && star("d7") == "d7")
    intercept[IllegalStateException] { // the capped propagation gives up
      graft.ops.Dedup.resolveClusters(docs, pairs).collect()
    }
    // on a shallow graph both variants agree exactly
    val shallow = extra.toDF("doc_a", "doc_b")
    val sdocs = (1 to 9).map(i => s"d$i").toDF("doc_id")
    val a = graft.ops.Dedup.resolveClusters(sdocs, shallow).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val b = graft.ops.Dedup.resolveClustersStar(sdocs, shallow).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(a == b)
  }

  test("salted two-stage aggregation == direct agg; hot key spreads over buckets") {
    import graft.core.Partitioning
    // heavy skew: one hot key with 5000 rows, others tiny
    val rows = (0 until 5000).map(i => ("hot", s"v$i")) ++
      (0 until 20).map(i => (s"k$i", s"w$i"))
    val df = rows.toDF("key", "item")
    val salted = Partitioning.saltedAgg(df, "key", "item", buckets = 8,
      partial = Seq(collect_list(col("item")).as("items"),
        count(lit(1)).as("n")),
      merge = Seq(flatten(collect_list(col("items"))).as("items"),
        sum(col("n")).as("n")))
    val got = salted.collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[scala.collection.Seq[String]]("items").toSet,
          r.getAs[Long]("n")))).toMap
    val direct = df.groupBy("key")
      .agg(collect_list(col("item")).as("items"), count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("key") ->
        ((r.getAs[scala.collection.Seq[String]]("items").toSet,
          r.getAs[Long]("n")))).toMap
    assert(got == direct)
    // the salt genuinely spreads the hot key over multiple reducers
    val nSalts = df.withColumn("__salt", Partitioning.saltKey("item", 8))
      .filter(col("key") === "hot").select("__salt").distinct().count()
    assert(nSalts >= 6)
  }

  test("tree ensemble: hand-checked walk, additivity, softmax, argmax") {
    import graft.ops.TreeEnsemble._
    // two classes, one depth-1 tree each over feature 0
    val model = Model(Seq("a", "b"), Seq(
      Seq(Split(0, 0.5, Leaf(2.0), Leaf(-1.0))),
      Seq(Split(0, 0.5, Leaf(-1.0), Leaf(3.0)), Split(0, 2.0, Leaf(0.5), Leaf(0.5)))))
    val df = Seq(("x", 0.25), ("y", 0.75)).toDF("doc_id", "__f0")
    val out = score(df, Seq("__f0"), model).collect()
      .map(r => r.getAs[String]("doc_id") -> r).toMap
    // x: f0 < 0.5 -> a: 2.0; b: -1.0 + 0.5 = -0.5 -> pred a
    assert(out("x").getAs[Double]("score_a") == 2.0)
    assert(out("x").getAs[Double]("score_b") == -0.5)
    assert(out("x").getAs[String]("pred_class") == "a")
    // y: a: -1.0; b: 3.0 + 0.5 = 3.5 -> pred b
    assert(out("y").getAs[Double]("score_b") == 3.5)
    assert(out("y").getAs[String]("pred_class") == "b")
    // softmax sums to 1 (up to the boundary rounding)
    val ps = Seq(out("x").getAs[Double]("prob_a"), out("x").getAs[Double]("prob_b"))
    assert(math.abs(ps.sum - 1.0) < 2e-6 && ps.forall(p => p >= 0 && p <= 1))
  }

  test("tree ensemble: node-table walk (scoreLarge) == compiled CASE (score)") {
    import graft.ops.TreeEnsemble
    // 3 classes x 20 complete depth-3 trees, 6 features
    val model = TreeEnsemble.synthModel(Seq("a", "b", "c"),
      treesPerClass = 20, nFeatures = 6, depth = 3, seed = 99L)
    val rows = Seq.tabulate(50) { i =>
      (i.toLong, Array.tabulate(6)(j => ((i * 13 + j * 7) % 41 - 20) / 16.0))
    }
    val df = rows.toDF("id", "fv")
    var wide = df
    for (j <- 0 until 6)
      wide = wide.withColumn(s"__f$j", expr(s"fv[$j]"))
    val compiled = TreeEnsemble.score(wide, (0 until 6).map(j => s"__f$j"), model)
      .select(col("id"), col("score_a"), col("score_b"), col("score_c"),
        col("pred_class")).collect().map(r => r.getLong(0) -> r).toMap
    val walked = TreeEnsemble.scoreLarge(df, col("fv"), model, depth = 3)
      .select(col("id"), col("score_a"), col("score_b"), col("score_c"),
        col("pred_class")).collect().map(r => r.getLong(0) -> r).toMap
    assert(compiled.keySet == walked.keySet)
    for (id <- compiled.keySet) {
      // bitwise: both paths sum leaf doubles in ascending tree order
      assert(compiled(id).getDouble(1) == walked(id).getDouble(1))
      assert(compiled(id).getDouble(2) == walked(id).getDouble(2))
      assert(compiled(id).getDouble(3) == walked(id).getDouble(3))
      assert(compiled(id).getString(4) == walked(id).getString(4))
    }
  }

  test("multimodal plumbing: schema, batch shape, deterministic features") {
    val recs = Multimodal.synth(spark, 9)
    val out = Multimodal.featureTable(recs).cache()
    assert(out.count() == 9)
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "kind", "n_bytes", "features"))
    val row = out.filter(col("doc_id") === "m000000").collect()(0)
    // 16 histogram bins + mean + variance
    assert(row.getAs[scala.collection.Seq[Double]]("features").length == 18)
    // deterministic: second run bitwise identical
    val again = Multimodal.featureTable(Multimodal.synth(spark, 9))
      .filter(col("doc_id") === "m000000").collect()(0)
    assert(row.getAs[scala.collection.Seq[Double]]("features") ==
      again.getAs[scala.collection.Seq[Double]]("features"))
    assert(Set("image", "audio", "video") ==
      out.select("kind").distinct().as[String].collect().toSet)
    out.unpersist()
  }

  test("PNG codec: lossless gray round-trip, formula parity, salvage") {
    // encode the deterministic pixel formula, decode via ImageIO, and the
    // pixels must reproduce the formula exactly (PNG is lossless)
    val i = 3L
    val (w, h) = Multimodal.synthDims(i)
    val png = Multimodal.encodePng(w, h, (x, y) => Multimodal.synthGray(i, x, y))
    val (dw, dh, gray) = Multimodal.decodeImage(png)
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(gray(y * w + x) == Multimodal.synthGray(i, x, y))
    // featurized mean matches the analytic expectation bitwise
    val feats = Multimodal.imageFeatureTable(Multimodal.synth(spark, 9))
      .collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(feats.keySet == Set("m000000", "m000003", "m000006"))
    val r3 = feats("m000003")
    val expSum = (for (y <- 0 until h; x <- 0 until w)
      yield Multimodal.synthGray(i, x, y).toLong).sum
    assert(r3.getAs[Int]("width") == w && r3.getAs[Int]("height") == h)
    assert(r3.getAs[Double]("mean_gray") == expSum.toDouble / (w * h))
    assert(math.abs(r3.getAs[scala.collection.Seq[Double]]("hist").sum - 1.0) < 1e-12)
    // malformed inputs fail loudly (salvage path), never return garbage
    intercept[IllegalArgumentException](
      Multimodal.decodeImage("not a png at all".getBytes))
    intercept[IllegalArgumentException](Multimodal.decodeImage(png.take(20)))
  }

  test("WAV codec: bitwise PCM16 round-trip + hand-built fixture decode") {
    val pcm = Array.tabulate(1000)(i => ((i * 977) % 65536 - 32768).toShort)
    val (rate, ch, back) = Multimodal.decodeWav(Multimodal.encodeWav(pcm, 44100))
    assert(rate == 44100 && ch == 1 && back.sameElements(pcm))
    // hand-built file with an extra odd-size chunk before data (RIFF
    // word-alignment path) — bytes written out longhand, not via encodeWav
    val bos = new java.io.ByteArrayOutputStream()
    def w(bs: Array[Byte]): Unit = bos.write(bs)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val data = Array[Short](100, -200, 32767, -32768)
    w("RIFF".getBytes); w(le32(4 + 8 + 16 + 8 + 3 + 1 + 8 + data.length * 2))
    w("WAVE".getBytes)
    w("fmt ".getBytes); w(le32(16)); w(le16(1)); w(le16(1)); w(le32(8000))
    w(le32(16000)); w(le16(2)); w(le16(16))
    w("LIST".getBytes); w(le32(3)); w(Array[Byte](1, 2, 3)); w(Array[Byte](0)) // padded
    w("data".getBytes); w(le32(data.length * 2))
    data.foreach(s => w(le16(s & 0xffff)))
    val (r2, c2, s2) = Multimodal.decodeWav(bos.toByteArray)
    assert(r2 == 8000 && c2 == 1 && s2.sameElements(data))
    // malformed inputs fail loudly (salvage path), never return garbage
    intercept[IllegalArgumentException](Multimodal.decodeWav("xxxx".getBytes))
    intercept[IllegalArgumentException](
      Multimodal.decodeWav(Multimodal.encodeWav(pcm, 44100).take(30)))
  }

  test("AVI codec: lossless gray round-trip, padded stride, frame sample, salvage") {
    // odd width 13 -> stride 40 != 39: exercises the DIB 4-byte row padding
    val (w, h, nf) = (13, 5, 3)
    val frames = Array.tabulate(nf)(f =>
      Array.tabulate(w * h)(p => (p * 11 + f * 29) % 256))
    val avi = Multimodal.encodeAvi(w, h, frames, fps = 25)
    val (dw, dh, fps, back) = Multimodal.decodeAvi(avi)
    assert(dw == w && dh == h && fps == 25 && back.length == nf)
    for (f <- 0 until nf) assert(back(f).sameElements(frames(f)))
    // synthetic corpus videos decode to the per-frame formula exactly
    val i = 5L
    val (vw, vh) = Multimodal.synthVideoDims(i)
    val vfr = Array.tabulate(Multimodal.synthVideoFrames(i))(f =>
      Array.tabulate(vw * vh)(p =>
        Multimodal.synthVideoGray(i, f, p % vw, p / vw)))
    val (_, _, _, dec) = Multimodal.decodeAvi(Multimodal.encodeAvi(vw, vh, vfr))
    for (f <- vfr.indices) assert(dec(f).sameElements(vfr(f)))
    // frame-sample table: every 2nd frame, featurized bitwise
    val vt = Multimodal.videoFrameTable(Multimodal.synth(spark, 9))
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Int]("frame_id")) -> r).toMap
    // videos are i % 3 = 2 -> m000002 (6 frames), m000005 (4), m000008 (7)
    assert(vt.keySet.map(_._1) == Set("m000002", "m000005", "m000008"))
    assert(vt.keys.forall(_._2 % 2 == 0))
    assert(vt.count(_._1._1 == "m000008") == 4) // frames 0,2,4,6 of 7
    val r52 = vt(("m000005", 2))
    val (w5, h5) = Multimodal.synthVideoDims(5L)
    val expSum = (for (y <- 0 until h5; x <- 0 until w5)
      yield Multimodal.synthVideoGray(5L, 2, x, y).toLong).sum
    assert(r52.getAs[Int]("n_frames") == Multimodal.synthVideoFrames(5L))
    assert(r52.getAs[Double]("mean_gray") == expSum.toDouble / (w5 * h5))
    // malformed inputs fail loudly (salvage path), never return garbage
    intercept[IllegalArgumentException](
      Multimodal.decodeAvi("definitely not an avi".getBytes))
    intercept[IllegalArgumentException](Multimodal.decodeAvi(avi.take(40)))
    intercept[IllegalArgumentException](Multimodal.decodeAvi(
      Multimodal.encodeWav(Array.tabulate(32)(_.toShort), 8000))) // wrong form
    // a crafted strf claiming absurd dimensions must salvage (IAE), never
    // Int-overflow the stride check into a giant/negative allocation —
    // strf width sits at byte 176 of encodeAvi's fixed header layout
    val huge = avi.clone()
    java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(176, 715827883) // * 3 overflows Int
    val e1 = intercept[IllegalArgumentException](Multimodal.decodeAvi(huge))
    assert(e1.getMessage.contains("implausible"))
  }

  test("AVI decoder: movi slack bytes and audio-stream-first files") {
    // 1. trailing slack inside LIST movi (legal padding a tolerant parser
    // skips): bump the movi LIST + RIFF sizes by 4 and append junk — the
    // outer walk must resynchronize at the list end, frames unchanged
    val frames = Array.tabulate(2)(f => Array.tabulate(8 * 4)(p => (p + f) % 256))
    val avi = Multimodal.encodeAvi(8, 4, frames)
    val padded = java.util.Arrays.copyOf(avi, avi.length + 4)
    val bb = java.nio.ByteBuffer.wrap(padded)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, bb.getInt(4) + 4)      // RIFF size
    bb.putInt(216, bb.getInt(216) + 4)  // movi LIST size (offset 212+4)
    val (w1, h1, _, back1) = Multimodal.decodeAvi(padded)
    assert(w1 == 8 && h1 == 4 && back1.length == 2)
    for (f <- 0 until 2) assert(back1(f).sameElements(frames(f)))
    // 2. an audio strl listed BEFORE the video strl: the audio strf (a
    // 16-byte WAVEFORMAT) must not be misread as the video format
    val bos = new java.io.ByteArrayOutputStream()
    def w(bs: Array[Byte]): Unit = bos.write(bs)
    def cc(s: String) = w(s.getBytes("US-ASCII"))
    def le32(v: Int) = w(Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte))
    val vidsStrl = avi.slice(88, 212)   // the complete LIST strl from encodeAvi
    val movi = avi.slice(212, avi.length)
    val audsStrl = {
      val b = new java.io.ByteArrayOutputStream()
      def w2(bs: Array[Byte]): Unit = b.write(bs)
      def cc2(s: String) = w2(s.getBytes("US-ASCII"))
      def le2(v: Int) = w2(Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte))
      cc2("LIST"); le2(4 + (8 + 56) + (8 + 16)); cc2("strl")
      cc2("strh"); le2(56); cc2("auds"); w2(new Array[Byte](52))
      cc2("strf"); le2(16); w2(new Array[Byte](16)) // WAVEFORMAT
      b.toByteArray
    }
    val hdrl = avi.slice(24, 88) ++ audsStrl ++ vidsStrl // avih + both strls
    cc("RIFF"); le32(4 + 8 + 4 + hdrl.length + movi.length); cc("AVI ")
    cc("LIST"); le32(4 + hdrl.length); cc("hdrl"); w(hdrl)
    w(movi)
    val (w2_, h2_, _, back2) = Multimodal.decodeAvi(bos.toByteArray)
    assert(w2_ == 8 && h2_ == 4 && back2.length == 2)
    for (f <- 0 until 2) assert(back2(f).sameElements(frames(f)))
  }

  test("image decoder: crafted huge-dimension PNG header salvages, no OOM") {
    // hand-build a PNG whose IHDR claims 40000x40000 from a ~33-byte
    // payload: the decoder must reject on the header peek (IAE), not
    // allocate the ~4.8 GB raster
    val ihdr = java.nio.ByteBuffer.allocate(17)
    ihdr.put("IHDR".getBytes("US-ASCII"))
    ihdr.putInt(40000).putInt(40000) // width, height (big-endian)
    ihdr.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new java.util.zip.CRC32()
    crc.update(ihdr.array())
    val full = java.nio.ByteBuffer.allocate(8 + 4 + 17 + 4)
    full.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    full.putInt(13).put(ihdr.array()).putInt(crc.getValue.toInt)
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeImage(full.array()))
    assert(e.getMessage.contains("implausible"))
  }

  test("box-filter 2x downsample: block sums, odd-dim remainders") {
    // 5x3 image: odd width AND height -> 3x2 output with 1x2/2x1/1x1 blocks
    val (w, h) = (5, 3)
    val gray = Array.tabulate(w * h)(p => p * 10)
    val (ow, oh, sums, cnts) = Multimodal.downsample2(w, h, gray)
    assert(ow == 3 && oh == 2)
    // block (0,0) = pixels (0,0),(1,0),(0,1),(1,1) = 0+10+50+60
    assert(sums(0) == 120 && cnts(0) == 4)
    // block (2,0) = remainder column x=4, y=0..1 = 40+90
    assert(sums(2) == 130 && cnts(2) == 2)
    // block (2,1) = single corner pixel (4,2) = 140
    assert(sums(5) == 140 && cnts(5) == 1)
    assert(sums.sum == gray.map(_.toLong).sum) // partition of the image
    assert(cnts.sum == w * h)
  }

  test("hash split: deterministic, exhaustive, partition-invariant") {
    import graft.ops.Sampling
    val df = spark.range(2000).toDF("doc_id")
    val once = Sampling.assignSplit(df, col("doc_id")).cache()
    // exhaustive + disjoint: every row gets exactly one split label
    assert(once.count() == 2000)
    val byName = once.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    // uniformity: 900/50/50 per-mille within a loose binomial tolerance
    assert(byName("train") > 1700 && byName("train") < 1900)
    assert(byName("val") > 50 && byName("val") < 150)
    // pure function of the key: same assignment under a different
    // partitioning (rand/randomSplit both fail this)
    val again = Sampling.assignSplit(df.repartition(7), col("doc_id"))
    assert(once.join(again, Seq("doc_id"))
      .filter(once("split") =!= again("split")).count() == 0)
    // sampleMille keeps exactly the keys below the slot threshold
    val kept = Sampling.sampleMille(df, col("doc_id"), 100)
      .select("doc_id").as[Long].collect().toSet
    val slots = once.select(col("doc_id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kept == slots.filter(_._2 < 100).keySet)
    once.unpersist()
  }

  test("temperature mixture: sqrt rates, rarest stratum kept whole, determinism") {
    import graft.ops.Sampling
    // 3 strata with 10:4:1 token mass
    val df = spark.range(1500).toDF("id")
      .withColumn("doc_id", concat(lit("m"), col("id").cast("string")))
      .withColumn("source",
        when(col("id") % 15 < 10, "big")
          .when(col("id") % 15 < 14, "mid").otherwise("rare"))
      .withColumn("n_tok", lit(100))
    val rep = Sampling.mixtureReport(df, col("doc_id")).collect()
      .map(r => r.getString(0) -> r).toMap
    // rarest stratum: rate = floor(1000*sqrt(min/min)) = 1000 -> all kept
    assert(rep("rare").getInt(4) == 1000)
    assert(rep("rare").getLong(5) == 100L, "rare keeps every doc")
    // sqrt scaling: big is 10x rare's mass -> rate floor(1000/sqrt(10))=316
    assert(rep("big").getInt(4) == math.floor(1000.0 / math.sqrt(10.0)).toInt)
    assert(rep("mid").getInt(4) == 500)
    // post-sampling share compresses toward uniform: ordering preserved,
    // spread narrowed
    val before = rep.view.mapValues(_.getDouble(3)).toMap
    val after = rep.view.mapValues(_.getDouble(7)).toMap
    assert(after("big") < before("big") && after("rare") > before("rare"))
    assert(after("big") > after("mid") && after("mid") > after("rare"))
    // deterministic: the kept set is a pure function of keys
    val rates = Sampling.mixtureRates(df)
    val k1 = Sampling.mixtureSample(df, rates, col("doc_id"))
      .select("doc_id").as[String].collect().toSet
    val k2 = Sampling.mixtureSample(df.repartition(13), rates, col("doc_id"))
      .select("doc_id").as[String].collect().toSet
    assert(k1 == k2)
    // sampled counts match the report
    assert(k1.size == rep.values.map(_.getLong(5)).sum)
  }

  test("epoch shuffle: reproducible order, uncorrelated epochs, shard contract") {
    import graft.ops.Sampling
    val df = spark.range(2000).toDF("id")
      .withColumn("doc_id", concat(lit("e"), col("id").cast("string")))
    def order(e: Int, d: org.apache.spark.sql.DataFrame): Seq[String] =
      Sampling.epochShuffle(d, col("doc_id"), e)
        .select("doc_id").as[String].collect().toSeq
    // bit-for-bit reproducible, partitioning-invariant
    assert(order(0, df) == order(0, df.repartition(17)))
    // epochs are permutations of the same corpus but uncorrelated orders
    val o0 = order(0, df); val o1 = order(1, df)
    assert(o0.toSet == o1.toSet && o0 != o1)
    val agree = o0.zip(o1).count { case (a, b) => a == b }
    assert(agree < o0.length / 100, s"epochs should decorrelate: $agree")
    // shards: ids are dense 0..n-1, within-shard keys sorted, shard key
    // ranges are disjoint and ordered => concatenating shards 0..n-1
    // replays the exact global shuffle
    val sh = Sampling.epochShards(df, col("doc_id"), 0, 8)
      .select("shard", "shuffle_key", "doc_id").collect()
    assert(sh.map(_.getInt(0)).toSet == (0 until 8).toSet)
    val byShard = sh.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    byShard.foreach { case (_, rows) =>
      val ks = rows.map(_.getString(1)).toSeq
      assert(ks == ks.sorted, "within-shard order")
    }
    val ranges = byShard.map { case (s, rows) =>
      (s, rows.map(_.getString(1)).min, rows.map(_.getString(1)).max) }
    ranges.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) => assert(hi <= lo, "ordered ranges")
      case _ => ()
    }
    assert(byShard.flatMap(_._2).map(_.getString(2)).toSeq == o0,
      "shards 0..n-1 concatenated == the global shuffle")
  }

  test("hashed linear scorer: feature counts, missing buckets, exact logit") {
    import graft.ops.LinearModel
    val docs = Seq(
      (1L, "aa bb aa"),      // 3 unigrams + 2 bigrams = 5 features
      (2L, "cc"),            // 1 unigram, no bigram
      (3L, ""),              // no words -> absent from output
      (4L, "aa aa aa aa")    // repeats weighted by count
    ).toDF("doc_id", "text")
    val dim = 64
    val w = LinearModel.synthWeights(spark, dim)
    val out = LinearModel.score(docs, w, dim, biasMilli = 100L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(3L), "zero-word doc drops out")
    assert(out(1L).getLong(1) == 5L && out(2L).getLong(1) == 1L
      && out(4L).getLong(1) == 7L)
    // logit recomputed from the emitted exact integers
    out.values.foreach { r =>
      val n = r.getLong(1); val s = r.getLong(2)
      assert(r.getDouble(3) == (100L * n + s).toDouble / (1024.0 * n))
      assert(r.getBoolean(4) == (r.getDouble(3) > 0.0))
    }
    // sparse table: buckets absent from the weight table contribute 0
    val sparse = w.filter(col("bucket") % 2 === 0)
    val outS = LinearModel.score(docs, sparse, dim, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val wMap = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucketsDoc2 = LinearModel.features(docs.filter($"doc_id" === 2L))
      .select(LinearModel.hashBucket(col("feat"), dim)).as[Long].collect()
    val wantS = bucketsDoc2.map(b => if (b % 2 == 0) wMap(b) else 0L).sum
    assert(outS(2L) == wantS)
    // partitioning-invariant (integer sum is order-free)
    val a = LinearModel.score(docs, w, dim, 100L).orderBy("doc_id").collect()
    val b = LinearModel.score(docs.repartition(7), w, dim, 100L)
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
    // the shuffle-free kernel form == the relational form, bitwise —
    // dense weights AND a sparse table (absent buckets scoring 0)
    for (tbl <- Seq(w, sparse)) {
      val rel = LinearModel.score(docs, tbl, dim, 100L)
        .orderBy("doc_id").collect()
      val ker = LinearModel.scoreKernel(docs, tbl, dim, 100L)
        .orderBy("doc_id").collect()
      assert(ker.sameElements(rel), "kernel == relational")
    }
  }

  test("redaction: sequential count-and-mask, rule order, exact witnesses") {
    import graft.ops.Redact
    val docs = Seq(
      (1L, "write to bob.smith@mail0.com or 10.1.0.2 now"),
      (2L, "call +4912345678 and +09 also 999.999.999.9999"),
      (3L, "plain text, nothing to mask"),
      (4L, "a@b.co x@y.code")   // TLD cap: 2-4 chars
    ).toDF("doc_id", "text")
    val out = Redact.redact(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1 && out(1L).getInt(2) == 1
      && out(1L).getInt(3) == 0)
    // +09 is too short for the phone rule; the 4-octet run exceeds \b
    // boundaries only for the first 3-digit groups: 999.999.999.9999 has
    // no match because the final group is 4 digits with no boundary split
    assert(out(2L).getInt(3) == 1, "one valid phone")
    assert(out(3L).getInt(1) == 0 && out(3L).getInt(2) == 0
      && out(3L).getInt(3) == 0)
    assert(out(4L).getInt(1) == 2, "2-char and 4-char TLDs both match")
    // masked text witness: doc 1 fully rewritten
    val masked = "write to <EMAIL> or <IP> now"
    assert(out(1L).getInt(4) == masked.length)
    val mdRef = java.security.MessageDigest.getInstance("MD5")
      .digest(masked.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getString(5) == mdRef)
    // injection determinism: repartition-invariant
    val big = spark.range(300).toDF("doc_id")
      .withColumn("text", lit("filler words"))
    val r1 = Redact.redact(Redact.injectPii(big)).orderBy("doc_id").collect()
    val r2 = Redact.redact(Redact.injectPii(big.repartition(11)))
      .orderBy("doc_id").collect()
    assert(r1.sameElements(r2))
    // every %3 doc got exactly one email masked, etc.
    assert(r1.count(_.getInt(1) == 1) == 100)
    assert(r1.count(_.getInt(2) == 1) == 60)
    assert(r1.count(_.getInt(3) == 1) == java.lang.Math.floorDiv(299, 7) + 1)
  }

  test("length-bucketed batching: fill order, partial tails, waste math") {
    import graft.ops.Batching
    val edges = Seq(100, 200)
    val seqs = spark.range(500).toDF("id")
      .withColumn("doc_id", concat(lit("b"), col("id").cast("string")))
      .withColumn("n_tok", (col("id") % 290 + 10).cast("int"))
      .drop("id")
    val asg = Batching.assign(seqs, col("doc_id"), edges,
      batchSize = 8, nShards = 3)
    val rows = asg.collect()
    // bucket boundaries respected
    rows.foreach { r =>
      val (n, b) = (r.getInt(1), r.getInt(2))
      val want = edges.count(n > _)
      assert(b == want, s"n_tok=$n bucket=$b")
    }
    // per (bucket, shard): slots dense per batch, only the last batch
    // short, batch ids dense from 0
    rows.groupBy(r => (r.getInt(2), r.getInt(3))).foreach {
      case (_, grp) =>
        val byBatch = grp.groupBy(_.getInt(4)).toSeq.sortBy(_._1)
        assert(byBatch.map(_._1) == byBatch.indices)
        byBatch.foreach { case (bid, members) =>
          assert(members.map(_.getInt(5)).sorted.toSeq ==
            members.indices, s"slots dense in batch $bid")
          if (bid < byBatch.length - 1)
            assert(members.length == 8, "only the tail batch may be short")
        }
    }
    // report math + determinism under repartition
    val rep = Batching.report(asg).collect()
    rep.foreach { r =>
      assert(r.getLong(6) ==
        r.getInt(4).toLong * r.getLong(3) - r.getLong(5))
      assert(r.getLong(3) <= 8L)
    }
    val rep2 = Batching.report(Batching.assign(seqs.repartition(13),
      col("doc_id"), edges, 8, 3))
      .orderBy("bucket", "shard", "batch_id").collect()
    assert(rep2.sameElements(
      Batching.report(asg).orderBy("bucket", "shard", "batch_id").collect()))
  }

  test("span dedup: planted shared run found, within-doc repeats excluded") {
    import graft.ops.Dedup
    graft.functions.expressions.register(spark)
    val shared = (0 until 40).map(i => i % 7)        // identical run in 2 docs
    val docs = Seq(
      ("s1", shared ++ Seq(900, 901, 902)),
      ("s2", Seq(800, 801) ++ shared),
      ("s3", (0 until 80).map(_ => 5)),              // self-repeats only
      ("s4", (0 until 50).map(i => 1000 + i))        // unique content
    ).toDF("doc_id", "tokens")
      .withColumn("tokens", col("tokens").cast("array<int>"))
      .withColumn("n_tok", size(col("tokens")))
    val out = Dedup.spanDupStats(docs, winLen = 32, stride = 4)
      .collect().map(r => r.getString(0) -> r).toMap
    // window counts: (n - 32) / 4 + 1
    assert(out("s1").getLong(1) == (43 - 32) / 4 + 1)
    assert(out("s3").getLong(1) == (80 - 32) / 4 + 1)
    // the shared run is 40 tokens: aligned 32-windows inside it exist in
    // both docs, BUT s2's copy starts at offset 2 (stride 4 misaligns it
    // vs s1's offsets 0,4,8) — windows only collide where both docs
    // sample the same INTERNAL offset of the run: s1 samples run offsets
    // 0,4,8; s2 samples 2,6 (s2 pos p covers run offset p-2). So zero
    // collisions — strided span dedup is alignment-sensitive, exactly
    // like the production technique with stride > 1.
    assert(out("s1").getLong(2) == 0 && out("s2").getLong(2) == 0)
    // s3's identical all-5 windows repeat WITHIN the doc only -> not dup
    assert(out("s3").getLong(2) == 0L)
    assert(out("s4").getLong(2) == 0L)
    // aligned copies DO collide: same run, both at offset 0
    val aligned = Seq(
      ("a1", shared ++ Seq(1, 2, 3)),
      ("a2", shared ++ Seq(7, 8, 9))
    ).toDF("doc_id", "tokens")
      .withColumn("tokens", col("tokens").cast("array<int>"))
      .withColumn("n_tok", size(col("tokens")))
    val out2 = Dedup.spanDupStats(aligned, 32, 4)
      .collect().map(r => r.getString(0) -> r).toMap
    // run offsets 0,4,8 of the 40-token run fit a 32-window in both docs
    assert(out2("a1").getLong(2) == 3 && out2("a2").getLong(2) == 3)
    assert(out2("a1").getDouble(3) == 3.0 / out2("a1").getLong(1))
  }

  test("PR curve: decile thresholds + confusion match brute force") {
    import graft.ops.Evaluation
    val rows = (1 to 40).map(i => (((i * 37) % 23).toDouble / 7.0, i % 3 == 0))
    val got = Evaluation.prCurve(rows.toDF("score", "label"),
        "score", "label", 4)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    // brute force: sorted scores, boundary value at each quartile cut
    val sorted = rows.map(_._1).sorted
    val n = rows.size
    val exp = (1 to 3).map { q =>
      // ntile: first (n % b) buckets get ceil(n/b); here n=40, b=4 -> 10 each
      val thr = sorted(q * 10 - 1)
      val tp = rows.count { case (s, l) => l && s > thr }
      val fp = rows.count { case (s, l) => !l && s > thr }
      val fn = rows.count { case (s, l) => l && !(s > thr) }
      val tn = rows.count { case (s, l) => !l && !(s > thr) }
      (q, thr, tp.toLong, fp.toLong, fn.toLong, tn.toLong)
    }
    assert(got.toSeq == exp)
    // precision = tp/(tp+fp) single divide
    val pr = Evaluation.prCurve(rows.toDF("score", "label"),
      "score", "label", 4).orderBy("q").collect()
    assert(pr.forall(r => r.isNullAt(6) ||
      r.getDouble(6) == r.getLong(2).toDouble / (r.getLong(2) + r.getLong(3))))
  }

  test("binary metrics: hand-computed AUC with ties, confusion, null guards") {
    import graft.ops.Evaluation
    // group g: scores/labels chosen so AUC is computable by hand.
    // positives at 0.9, 0.5; negatives at 0.5, -0.1 -> pairs: (0.9 vs 0.5)
    // win, (0.9 vs -0.1) win, (0.5 vs 0.5) tie = 0.5, (0.5 vs -0.1) win
    // AUC = 3.5 / 4 = 0.875
    val df = Seq(
      ("g", 0.9, true), ("g", 0.5, true), ("g", 0.5, false), ("g", -0.1, false),
      ("h", 1.0, true), ("h", 2.0, true),      // all positive -> AUC null
      ("k", -1.0, false), ("k", -2.0, false)   // all negative -> AUC null
    ).toDF("source", "score", "label")
    val out = Evaluation.binaryMetrics(df, "source", "score", "label", 0.0)
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getDouble(8) == 0.875, s"auc ${g.getDouble(8)}")
    // threshold 0.0: tp = both positives, fp = negs above 0 (the 0.5 one)
    assert(g.getLong(4) == 2 && g.getLong(5) == 1
      && g.getLong(6) == 0 && g.getLong(7) == 1)
    assert(g.getDouble(9) == 3.0 / 4)           // accuracy
    assert(g.getDouble(10) == 2.0 / 3)          // precision
    assert(g.getDouble(11) == 1.0)              // recall
    assert(out("h").isNullAt(8) && out("k").isNullAt(8), "degenerate AUC")
    assert(out("k").isNullAt(10), "no predicted positives -> null precision")
    assert(out("k").isNullAt(11), "no actual positives -> null recall")
    // AUC equals brute-force pair counting on a random-ish fixture
    val rnd = (1 to 200).map { i =>
      ("r", ((i * 37) % 23).toDouble / 7.0, i % 3 == 0) }
    val bf = {
      val ps = rnd.filter(_._3).map(_._2); val ns = rnd.filterNot(_._3).map(_._2)
      val wins = (for (p <- ps; q <- ns) yield
        if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
      wins / (ps.size * ns.size)
    }
    val got = Evaluation.binaryMetrics(rnd.toDF("source", "score", "label"),
      "source", "score", "label", 0.0).collect()(0).getDouble(8)
    assert(math.abs(got - bf) < 1e-12, s"$got vs $bf")
  }

  test("curation pipeline: stages compose with their individual semantics") {
    import graft.ops.{Curate, Dedup, Sampling, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val out = Curate.curateSub(spark, dir).cache()
    val n = out.count()
    assert(n > 0)
    // every survivor passed the quality/language gate
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(expr(graft.sources.Seqs.DedupSubPred))
    val qualIds = TextAnalysis.analyze(docs)
      .filter(col("quality_score") >= Curate.MinQuality &&
        col("lang_guess") === "en")
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().forall(qualIds))
    // at most one survivor per near-dup cluster, and it is that cluster's
    // minimum surviving member (canonical choice is deterministic)
    assert(out.groupBy("cluster").count().filter(col("count") > 1).count() == 0)
    // split matches the standalone splitter for the same keys
    val split = Sampling.assignSplit(out.select("doc_id"), col("doc_id"))
    assert(out.select("doc_id", "split")
      .join(split.withColumnRenamed("split", "s2"), Seq("doc_id"))
      .filter(col("split") =!= col("s2")).count() == 0)
    out.unpersist()
  }

  test("canonicalByQuality + dedupImpact: cluster accounting is consistent") {
    import graft.ops.{Curate, Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val canon = Curate.canonicalByQuality(spark, dir).cache()
    val sq = graft.sources.Seqs.fromDocumentsSub(spark, dir)
    val clusters = Dedup.resolveClustersStar(
      sq.select("doc_id"), Dedup.lshCandidates(sq)).cache()
    // one row per cluster; member counts match the cluster table
    val sizes = clusters.groupBy("cluster").count()
    assert(canon.count() == sizes.count())
    assert(canon.join(sizes, Seq("cluster"))
      .filter(col("n_members") =!= col("count")).count() == 0)
    // the kept doc has the cluster's MAX quality (argmax rule)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(expr(graft.sources.Seqs.DedupSubPred))
    val qual = TextAnalysis.analyze(docs)
      .select(concat(lit("d"), lpad(col("doc_id").cast("string"), 6, "0"))
        .as("sid"), col("quality_score"))
    val maxQ = clusters.withColumnRenamed("doc_id", "sid")
      .join(qual, Seq("sid"))
      .groupBy("cluster").agg(max("quality_score").as("mx"))
    assert(canon.join(maxQ, Seq("cluster"))
      .filter(col("kept_quality") =!= col("mx")).count() == 0)
    // impact: per-source drop counts equal docs whose id != cluster label
    val imp = Curate.dedupImpact(spark, dir)
    val expectDrop = sq.join(clusters, Seq("doc_id"))
      .filter(col("doc_id") =!= col("cluster"))
      .groupBy("source").count()
    assert(imp.join(expectDrop, Seq("source"), "left_outer")
      .filter(col("n_dropped") =!= coalesce(col("count"), lit(0L)))
      .count() == 0)
    canon.unpersist(); clusters.unpersist()
  }

  test("fertilityReport: mixed alnum text fragments into more subwords") {
    import graft.ops.TextAnalysis
    // "ab3 cd": words = [ab3, cd] (2); BPE-ish pre-tokens = ab|3| cd (3)
    // "x9y": words = [x9y] (1); pre-tokens = x|9|y (3)
    val docs = Seq(
      (1L, "ab3 cd", "en", "sA", 6L),
      (2L, "x9y", "en", "sA", 3L),
      (3L, "plain words here", "en", "sB", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.fertilityReport(docs).collect()
      .map(row => row.getString(0) -> row).toMap
    assert(r("sA").getAs[Long]("words") == 3L)
    assert(r("sA").getAs[Long]("bpe_tokens") == 6L)
    assert(r("sA").getAs[Double]("tokens_per_word") == 2.0)
    assert(r("sA").getAs[Double]("chars_per_token") == 9.0 / 6.0)
    assert(r("sB").getAs[Double]("tokens_per_word") == 1.0,
      "plain lowercase words keep fertility 1")
  }

  test("stereo WAV mixdown: channel mean with truncation toward zero") {
    val stereo = Array[Short](100, 300, -101, 100, 32767, 32767, -32768, -32768)
    val wav = Multimodal.encodeWav(stereo, 8000, channels = 2)
    val (rate, ch, pcm) = Multimodal.decodeWav(wav)
    assert(rate == 8000 && ch == 2 && pcm.sameElements(stereo))
    val mono = Multimodal.mixdown(pcm, 2)
    assert(mono.toSeq == Seq(200, 0, 32767, -32768)) // (-101+100)/2 -> 0
    // mono passthrough is identity
    assert(Multimodal.mixdown(Array[Short](5, -7), 1).toSeq == Seq(5, -7))
  }

  test("decontamination: trigram overlap vs the eval slice, hand-computed") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),     // eval
      (2L, "zeta alpha beta gamma"),      // train: shares "alpha beta gamma"
      (3L, "beta gamma delta epsilon"),   // train: shares "beta gamma delta"
      (4L, "one two three four"),         // train: no overlap
      (5L, "alpha beta gamma delta five") // train: shares BOTH eval trigrams
    ).toDF("doc_id", "text")
    val out = graft.ops.Contamination.flagContaminated(
        docs.filter(col("doc_id") =!= 1), docs.filter(col("doc_id") === 1),
        n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 1L, 3L -> 1L, 5L -> 2L))
    // per-doc grams are distinct: a repeated trigram counts once
    val rep = Seq((1L, "a b c"), (2L, "a b c x a b c")).toDF("doc_id", "text")
    val out2 = graft.ops.Contamination.flagContaminated(
        rep.filter(col("doc_id") === 2), rep.filter(col("doc_id") === 1), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(2L -> 1L))
  }

  test("repetition stats: dup-word and top-bigram shares, hand-computed") {
    val docs = Seq((1L, "x x x y"), (2L, "a b c d"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.repetitionStats(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4),
          r.getInt(5), r.getInt(6), r.getInt(7), r.getDouble(8))).toMap
    // "x x x y": words 4/2 uniq, top "x"=3, dup 0.5;
    // bigrams ["x x","x x","x y"]: 3/2 uniq, top "x x"=2, share 2/3
    assert(out(1L) == ((4, 2, 3, 0.5, 3, 2, 2, 2.0 / 3.0)))
    // all-distinct doc: zero duplication
    assert(out(2L) == ((4, 4, 1, 0.0, 3, 3, 1, 1.0 / 3.0)))
    // empty doc: guarded zeros, no division blowup
    assert(out(3L) == ((0, 0, 0, 0.0, 0, 0, 0, 0.0)))
  }

  test("bucketed co-located join plans with zero shuffle exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.core.Partitioning
    val a = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("doc_id", "x")
    val b = (1 to 100).map(i => (i.toLong, s"s$i")).toDF("doc_id", "y")
    Partitioning.writeBucketed(a, "bkt_a", "doc_id", 4)
    Partitioning.writeBucketed(b, "bkt_b", "doc_id", 4)
    // force the sort-merge path (tiny test tables would broadcast, which
    // hides exactly the exchange the bucketing is supposed to remove)
    val thrBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.count() // materialize so AQE finalizes the plan
        val p = df.queryExecution.executedPlan match {
          case ad: AdaptiveSparkPlanExec => ad.executedPlan
          case p => p
        }
        p.collect { case e: ShuffleExchangeLike => e }.size
      }
      val j = Partitioning.bucketedJoin(spark, "bkt_a", "bkt_b", "doc_id")
      assert(j.count() == 100)
      assert(shuffles(j) == 0) // co-bucketed: join needs NO exchange
      // control: the same join on raw (unbucketed) frames shuffles both sides
      assert(shuffles(a.join(b, Seq("doc_id"))) == 2)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thrBefore)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("sketch length report within tolerance of the exact rank selection") {
    val docs = (1 to 900).map { i =>
      (i.toLong, Seq("en", "de", "zh")(i % 3), (i * 37) % 1000 + 1)
    }.toDF("doc_id", "lang", "n_chars")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val exact = asMap(graft.ops.TextAnalysis.lengthReport(docs)
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("p50_chars").cast("long"), col("p90_chars").cast("long"),
        col("p99_chars").cast("long")))
    val approx = asMap(graft.ops.TextAnalysis.lengthReportApprox(docs)
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("p50_chars").cast("long"), col("p90_chars").cast("long"),
        col("p99_chars").cast("long")))
    assert(approx.keySet == exact.keySet)
    for (k <- exact.keys) {
      val (e50, e90, e99) = exact(k); val (a50, a90, a99) = approx(k)
      def close(e: Long, a: Long) = math.abs(e - a) <= math.max(1L, e / 20)
      assert(close(e50, a50) && close(e90, a90) && close(e99, a99),
        s"$k exact=($e50,$e90,$e99) approx=($a50,$a90,$a99)")
    }
  }

  test("plantNearDups fails loudly when a real id collides with twin ids") {
    val bad = Seq((graft.ops.Similarity.PlantIdOffset + 7, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      graft.ops.Similarity.plantNearDups(bad, 5).count()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("plantNearDups"))
  }

  test("decodeAviFrames: selective decode keeps ids and total frame count") {
    val (w, h) = (6, 4)
    val nF = 7
    val frames = Array.tabulate(nF) { f =>
      Array.tabulate(w * h)(i => (f * 31 + (i % w) * 7 + (i / w) * 13) & 0xff)
    }
    val avi = Multimodal.encodeAvi(w, h, frames)
    val (dw, dh, _, total, kept) =
      Multimodal.decodeAviFrames(avi, _ % 3 == 0)
    assert(dw == w && dh == h && total == nF)
    assert(kept.map(_._1).toSeq == Seq(0, 3, 6))
    // kept frames are pixel-identical to a full decode
    val (_, _, _, all) = Multimodal.decodeAvi(avi)
    for ((f, px) <- kept) assert(px.sameElements(all(f)))
  }

  test("containment: short doc quoted in a long one scores 1.0 one-way") {
    val long = Seq.tabulate(1000)(i => (i * 13) % 2003 - 1000)
    val short = long.slice(100, 200)
    val seqs = Seq(
      ("a", short, short.length, "s"), ("b", long, long.length, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val pairs = Seq(("a", "b")).toDF("doc_a", "doc_b")
    val r = Dedup.containmentPairs(seqs, pairs).collect()(0)
    assert(r.getAs[Double]("containment_a") == 1.0,
      "every shingle of the quoted doc appears in the host")
    assert(r.getAs[Double]("containment_b") < 0.2,
      "the host is mostly NOT the quote")
    assert(r.getAs[Int]("common") == r.getAs[Int]("na"))
  }

  test("lengthOutliers: lower median + MAD, even-sized group included") {
    // source "a" (5 docs, odd): x = 10,10,11,40,100 -> med 11 (rank 3);
    //   dev = 1,1,0,29,89 -> sorted 0,1,1,29,89 -> mad 1 (rank 3);
    //   outliers (dev > 3*1): 29 and 89 -> 2
    // source "b" (4 docs, EVEN — pins the floor((n+1)/2) rank rule):
    //   x = 5,7,9,1000 -> lower median = rank 2 -> 7;
    //   dev = 2,0,2,993 -> sorted 0,2,2,993 -> mad rank 2 -> 2;
    //   outliers (dev > 6): only 993 -> 1
    val seqs = Seq(
      ("a", "d1", 10), ("a", "d2", 10), ("a", "d3", 11),
      ("a", "d4", 40), ("a", "d5", 100),
      ("b", "e1", 5), ("b", "e2", 7), ("b", "e3", 9), ("b", "e4", 1000))
      .toDF("source", "doc_id", "n_tok")
    val out = graft.ops.TextAnalysis.lengthOutliers(seqs, k = 3).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == ((5L, 11L, 1L, 2L)))
    assert(out("b") == ((4L, 7L, 2L, 1L)))
  }

  test("sourceOverlap: shared-gram counts and Jaccard, zero pairs absent") {
    // 2-grams: s1 = {a b, b c} (the extra "a b" doc collapses by distinct);
    // s2 = {a b, b d}; s3 = {x y}. Pairs: (s1,s2) share {a b} -> jaccard
    // 1/(2+2-1); s3 overlaps nothing -> no rows.
    val docs = Seq(
      ("d1", "s1", "a b c"), ("d2", "s1", "a b"),
      ("d3", "s2", "a b d"), ("d4", "s3", "x y"))
      .toDF("doc_id", "source", "text")
    val rows = graft.ops.Contamination.sourceOverlap(docs, n = 2).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(0) == "s1" && r.getString(1) == "s2")
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getDouble(5) == 1.0 / 3.0)
  }

  test("quantileBin: equal-frequency bins, boundary values stay together") {
    // 9 rows, k=3 -> tiles of 3 under (x, key) order: (1,2,5 | 5,5,8 |
    // 9,9,12); boundaries = {5, 8}. Value-based assignment: ALL 5s -> bin
    // 1 (x <= b1), 8 -> bin 2, 9/9/12 -> bin 3 — equal inputs never split
    // even though raw ntile would split the 5s across tiles.
    val df = Seq(("a", 1), ("b", 2), ("c", 5), ("d", 5), ("e", 5),
      ("f", 8), ("g", 9), ("h", 9), ("i", 12)).toDF("doc_id", "v")
    val bins = graft.ops.Binning.quantileBin(df, "v", "doc_id", 3)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(bins == Map("a" -> 1, "b" -> 1, "c" -> 1, "d" -> 1, "e" -> 1,
      "f" -> 2, "g" -> 3, "h" -> 3, "i" -> 3))
  }

  test("quantileBinApprox: same bin map as exact on a spread-out column") {
    // distinct, evenly spread values: sketch boundaries at relErr 1e-3
    // are exact ranks here, so the two assignments agree row for row
    val df = (1 to 200).map(i => (f"k$i%03d", i * 7)).toDF("doc_id", "v")
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    val exact = m(graft.ops.Binning.quantileBin(df, "v", "doc_id", 10))
    val approx = m(graft.ops.Binning.quantileBinApprox(df, "v", "doc_id", 10))
    assert(exact == approx)
    assert(exact.values.groupBy(identity).forall(_._2.size == 20))
  }

  test("groupSample: exact k per group, rank deterministic, partition-invariant") {
    val df = (1 to 30).map(i => (s"d$i", if (i % 3 == 0) "g0" else "g1"))
      .toDF("doc_id", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.groupSample(d, col("doc_id"), col("source"), 4)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
    val a = run(df)
    assert(a.count(_._2 == "g0") == 4 && a.count(_._2 == "g1") == 4)
    assert(a.groupBy(_._2).forall(_._2.map(_._3) == Set(1, 2, 3, 4)))
    // same picks and ranks under a different physical partitioning
    assert(run(df.repartition(7)) == a)
  }

  test("sourceDrift: 0 for identical mixtures, ln 2 for disjoint vocabularies") {
    def seqs(rows: (String, Seq[Int], String)*) =
      rows.map { case (d, t, s) => (d, t, t.size, s) }
        .toDF("doc_id", "tokens", "n_tok", "source")
    // identical unigram distributions -> every ratio 1 -> jsd exactly 0
    val same = graft.ops.LanguageModel.sourceDrift(seqs(
      ("a", Seq(1, 1, 2), "s1"), ("b", Seq(1, 1, 2), "s2"))).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(same("s1") == 0.0 && same("s2") == 0.0)
    // disjoint vocabularies -> jsd = ln 2 (micro-nat quantized)
    val disj = graft.ops.LanguageModel.sourceDrift(seqs(
      ("a", Seq(1, 1), "s1"), ("b", Seq(2, 2), "s2"))).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(disj("s1") == 0.693147 && disj("s2") == 0.693147)
  }

  test("skewReport: hot keys ranked, skew factor = count over mean") {
    // 4 keys over 12 rows: h=6, a=3, b=2, c=1; mean = 3 -> skews 2, 1,
    // 2/3 (top-3 report drops c)
    val rows = Seq.fill(6)("h") ++ Seq.fill(3)("a") ++ Seq.fill(2)("b") ++
      Seq("c")
    val df = rows.zipWithIndex.map { case (k, i) => (i, k) }.toDF("id", "k")
    val r = graft.core.Partitioning.skewReport(df, "k", 3).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getDouble(5)))
    assert(r.toSeq == Seq((1, "h", 6L, 2.0), (2, "a", 3L, 1.0),
      (3, "b", 2L, 2.0 / 3.0)))
  }

  test("lengthOutliers: randomized parity with a brute-force Scala oracle") {
    val rnd = new scala.util.Random(4242)
    val rows = (1 to 300).map { i =>
      (s"s${rnd.nextInt(7)}", f"d$i%03d", rnd.nextInt(2000)) }
    val df = rows.toDF("source", "doc_id", "n_tok")
    def lowerMed(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val expect = rows.groupBy(_._1).map { case (s, rs) =>
      val xs = rs.map(_._3.toLong)
      val med = lowerMed(xs)
      val devs = rs.sortBy(_._2).map(r => math.abs(r._3.toLong - med))
      val mad = lowerMed(devs)
      s -> ((xs.size.toLong, med, mad, devs.count(_ > 3 * mad).toLong))
    }
    val got = graft.ops.TextAnalysis.lengthOutliers(df, 3).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect)
  }

  test("quantileBin: randomized — monotone in value, near-equal populations") {
    val rnd = new scala.util.Random(777)
    val rows = (1 to 400).map(i => (f"k$i%03d", rnd.nextInt(100000)))
    val k = 8
    val out = graft.ops.Binning.quantileBin(
        rows.toDF("doc_id", "v"), "v", "doc_id", k).collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    // equal values share a bin; bins are monotone in value
    assert(out.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 1))
    val byBin = out.sortBy(_._1).map(_._2)
    assert(byBin.zip(byBin.tail).forall { case (a, b) => a <= b })
    assert(out.map(_._2).forall(b => b >= 1 && b <= k))
    // distinct-heavy input: populations within duplicate slack of n/k
    val pops = out.groupBy(_._2).view.mapValues(_.length)
    val dupSlack = out.length - out.map(_._1).distinct.length
    assert(pops.values.forall(p =>
      math.abs(p - out.length / k) <= 1 + dupSlack))
  }

  test("corrMatrix: +1 / -1 / NULL-on-constant, one pass of integer moments") {
    // y = 2x (corr +1), z = -x (corr -1 with x, -1 with y), w constant
    // (NULL against everything)
    val df = Seq((1, 2, -1, 5), (2, 4, -2, 5), (3, 6, -3, 5), (7, 14, -7, 5))
      .toDF("x", "y", "z", "w")
    val rows = graft.ops.FeatureStats.corrMatrix(df, Seq("x", "y", "z", "w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows.size == 6)
    assert(rows(("x", "y")) == Some(1.0))
    assert(rows(("x", "z")) == Some(-1.0))
    assert(rows(("y", "z")) == Some(-1.0))
    assert(rows(("x", "w")) == None && rows(("y", "w")) == None &&
      rows(("z", "w")) == None)
  }

  test("ksDrift: exact two-sample KS matches brute-force ECDF sweep") {
    // three groups with deliberately different length distributions; one
    // group shares no values with the rest so every pooled value matters
    val rows =
      (1 to 40).map(i => ("a", (i % 7) * 10L)) ++
        (1 to 25).map(i => ("b", (i % 5) * 10L + 5L)) ++
        (1 to 15).map(i => ("c", (i % 3) * 100L))
    val got = graft.ops.FeatureStats
      .ksDrift(rows.toDF("source", "v"), "v", "source")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got.size == 3)
    for ((g, (nG, nR, at, ks)) <- got) {
      val mine = rows.filter(_._1 == g).map(_._2)
      val rest = rows.filter(_._1 != g).map(_._2)
      assert(nG == mine.size && nR == rest.size)
      val vs = (mine ++ rest).distinct.sorted
      // brute force: integer cross-product |cumG*nR - cumR*nG| per value
      val diffs = vs.map { v =>
        v -> math.abs(mine.count(_ <= v).toLong * rest.size
          - rest.count(_ <= v).toLong * mine.size)
      }
      val dMax = diffs.map(_._2).max
      assert(at == diffs.filter(_._2 == dMax).map(_._1).min) // smallest-v tie
      assert(ks == dMax.toDouble / (mine.size.toDouble * rest.size.toDouble))
    }
    // single-group corpus: empty complement -> NULL ks
    val solo = graft.ops.FeatureStats
      .ksDrift(Seq(("x", 1L), ("x", 2L)).toDF("source", "v"), "v", "source")
      .collect()
    assert(solo.length == 1 && solo.head.isNullAt(4))
  }

  test("randomProject: bitwise == scalar left fold; norms roughly preserved") {
    import graft.ops.Similarity
    val dim = 8; val k = 4; val seed = 7L
    val vecs = (0 until 40).map { v =>
      (v.toLong, Array.tabulate(dim)(i => ((v * 31 + i * 17) % 23 - 11) / 7.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df, dim, k, seed).collect()
      .map(r => r.getLong(0) ->
        ((0 until k).map(j => r.getDouble(1 + j)), r.getDouble(1 + k))).toMap
    val sqrtK = math.sqrt(k.toDouble)
    var ratios = List.empty[Double]
    for ((id, xs) <- vecs) {
      // scalar reference: the exact same left-fold order
      val ys = (0 until k).map { j =>
        var a = 0.0
        for (i <- 0 until dim) {
          val t = if (Similarity.rpSign(seed, j, i) == 1) xs(i).toDouble
                  else -xs(i).toDouble
          a += t
        }
        a / sqrtK
      }
      assert(got(id)._1 == ys, s"vec $id")
      var nx = 0.0
      for (i <- 0 until dim) nx += xs(i).toDouble * xs(i).toDouble
      val ny = ys.foldLeft(0.0)((a, y) => a + y * y)
      if (nx > 0) {
        assert(got(id)._2 == ny / nx)
        ratios ::= ny / nx
      }
    }
    // JL sanity: mean norm ratio near 1 (loose — k is small)
    val mean = ratios.sum / ratios.size
    assert(mean > 0.5 && mean < 1.5, s"mean norm ratio $mean")
  }

  test("tokenBudgetFill: greedy fill keeps hash-order prefix, overshoot < 1 doc") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = (1 to 30).map(i => (s"d$i", if (i <= 18) "s1" else "s2",
      100 + (i * 37) % 300))
    val budget = 900L
    val got = graft.ops.Sampling
      .tokenBudgetFill(rows.toDF("doc_id", "source", "n_tok"), budget)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getLong(4)))
    val bySrc = got.groupBy(_._2)
    for ((src, kept) <- bySrc) {
      // brute force: same md5 priority order, keep while before-budget
      val order = rows.filter(_._2 == src)
        .sortBy(t => (md5hex(t._1), t._1)).map(t => (t._1, t._3.toLong))
      var cum = 0L
      val expect = order.takeWhile { case (_, n) =>
        val keep = cum < budget; cum += n; keep }
      assert(kept.sortBy(_._4).map(_._1).toSeq == expect.map(_._1))
      // cum_tok emitted = the running total; overshoot < last doc
      val last = kept.maxBy(_._4)
      assert(last._5 - last._3 < budget && last._5 >= budget ||
        rows.filter(_._2 == src).map(_._3.toLong).sum < budget)
    }
    assert(bySrc("s1").length < 18) // budget actually truncates s1
  }

  test("psiDrift: add-1 smoothed PSI matches brute force over quantile bins") {
    val k = 4
    // group "b" concentrates in the upper tail -> high PSI; "a" tracks the
    // pooled distribution -> low PSI
    // with two groups PSI(a||rest) would mirror PSI(b||rest) exactly
    // (PSI is symmetric in (p, q)) — a third group breaks the mirror
    val rows = (1 to 48).map(i => (i.toLong, "a", (i % 12).toLong)) ++
      (49 to 72).map(i => (i.toLong, "b", 9L + (i % 3).toLong)) ++
      (73 to 108).map(i => (i.toLong, "c", (i % 11).toLong))
    val df = rows.toDF("doc_id", "source", "v")
    val got = graft.ops.FeatureStats.psiDrift(df, "v", "doc_id", "source", k)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // brute force: same quantileBin assignment, add-1 smoothing, micro-nat
    val bins = graft.ops.Binning
      .quantileBin(df.selectExpr("doc_id AS key", "v AS x"), "x", "key", k)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val byDoc = rows.map { case (id, g, _) => (id, g, bins(id)) }
    for ((g, (nG, nR, psi)) <- got) {
      val mine = byDoc.filter(_._2 == g)
      val rest = byDoc.filter(_._2 != g)
      assert(nG == mine.size && nR == rest.size)
      val terms = (1 to k).map { b =>
        val cg = mine.count(_._3 == b).toLong
        val cr = rest.count(_._3 == b).toLong
        val m = (cg + 1) * (nR + k) - (cr + 1) * (nG + k)
        val lam = math.round(math.log(
          ((cg + 1) * (nR + k)).toDouble
            / ((cr + 1) * (nG + k)).toDouble) * 1e6)
        m * lam
      }
      val expect = terms.sum.toDouble /
        ((nG + k).toDouble * (nR + k).toDouble) / 1e6
      assert(psi == expect, s"group $g")
    }
    assert(got("b")._3 > 0.25 && got("a")._3 < got("b")._3)
  }

  test("calibration bins: grid assignment and rates match brute force") {
    import graft.ops.Evaluation
    // scores straddle the grid on both sides so the edge clamps are hit
    val rows = (1 to 60).map { i =>
      (((i * 41) % 29).toDouble / 20.0 - 0.7, i % 4 == 0)
    }
    val lo = -500L; val bw = 100L; val bins = 10
    val got = Evaluation.calibrationBins(
        rows.toDF("score", "label"), "score", "label", lo, bw, bins)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    val brute = rows
      .map { case (s, l) => (math.floor(s * 1000.0 + 0.5).toLong, l) }
      .groupBy { case (sm, _) =>
        math.min((math.max(sm, lo) - lo) / bw, (bins - 1).toLong) }
    assert(got.keySet == brute.keySet)
    brute.foreach { case (bin, members) =>
      val (loM, hiM, n, nPos, mean, frac) = got(bin)
      assert(loM == lo + bin * bw && hiM == lo + (bin + 1) * bw)
      assert(n == members.size && nPos == members.count(_._2))
      assert(mean == members.map(_._1).sum.toDouble / (1000.0 * n))
      assert(frac == nPos.toDouble / n)
    }
    // every doc lands in exactly one bin
    assert(got.values.map(_._3).sum == rows.size)
  }

  test("chi2 select: contingency and ranking match brute force") {
    import graft.ops.FeatureSelect
    // two sources with deliberately skewed token alphabets: 11,12 mark a;
    // 7,8 mark b; 3 is universal; i%5 in [0,4] is shared noise
    val docs = (0 until 40).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val toks =
        if (src == "a") Seq(11, 12, 3, i % 5)
        else Seq(7, 8, 3, i % 5)
      (s"d$i", toks, toks.size, src)
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val out = FeatureSelect.chi2Select(docs, 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getInt(7), r.getDouble(8))).toMap
    // brute force contingency for a perfect marker of source a
    val d = 40L; val dS = 20L
    val aCell = 20L; val dfAll = 20L
    val b = dfAll - aCell; val c = dS - aCell; val dd = d - dS - b
    val det = (aCell * dd - b * c).toDouble
    val chi2 = d.toDouble * det * det /
      (dfAll.toDouble * (d - dfAll).toDouble * dS.toDouble * (d - dS).toDouble)
    assert(chi2 == 40.0) // perfect separation: chi2 == D
    // rank 1 for source a: markers 11,12 tie on chi2, gram asc breaks it
    assert(out(("a", 1)) == ((2059L, 20L, 20L, 20L, 40L, 1, chi2)))
    // and b's markers 7,8 (gram 2055 first)
    assert(out(("b", 1)) == ((2055L, 20L, 20L, 20L, 40L, 1, chi2)))
    // shared gram 3 (in every doc) is filtered as zero-variance, and no
    // chi2 in the output exceeds the perfect-separation bound D
    assert(out.values.forall(_._7 <= 40.0))
    val k3 = FeatureSelect.chi2Select(docs, 3)
    assert(k3.filter(col("gram") === 3 + 2048).count() == 0)
  }

  test("mi select: micro-nat cell sums match brute force; zero-MI noise") {
    import graft.ops.FeatureSelect
    // same fixture as the chi2 test: 11,12 mark a; 7,8 mark b; 3 universal;
    // i%5 spread EVENLY across sources (every cell ratio 1 -> MI exactly 0)
    val docs = (0 until 40).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val toks =
        if (src == "a") Seq(11, 12, 3, i % 5)
        else Seq(7, 8, 3, i % 5)
      (s"d$i", toks, toks.size, src)
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val out = FeatureSelect.miSelect(docs, 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getInt(7), r.getDouble(8))).toMap
    // brute force for a perfect marker: cells a=20,b=0,c=0,dd=20 ->
    // two nonzero terms, each 20 * round(ln(40*20/(20*20)) * 1e6)
    val q = math.round(math.log(2.0) * 1e6)
    val miSum = 2 * 20L * q
    val mi = miSum.toDouble / (40L * 1000000L).toDouble
    assert(out(("a", 1)) == ((2059L, 20L, 20L, 20L, 40L, 1, mi)))
    assert(out(("a", 2)) == ((2060L, 20L, 20L, 20L, 40L, 1, mi)))
    assert(out(("b", 1)) == ((2055L, 20L, 20L, 20L, 40L, 1, mi)))
    // rank 3 is the first zero-MI noise gram by the gram tie-break, and
    // its MI is EXACTLY zero (all four cells have ratio 1)
    assert(out(("a", 3))._1 == 2048L && out(("a", 3))._7 == 0.0)
    // universal gram 3 filtered as zero-variance
    assert(FeatureSelect.miSelect(docs, 5)
      .filter(col("gram") === 3 + 2048).count() == 0)
  }

  test("incrementalScreen: whole-batch verdicts against the frozen index") {
    val base = Seq.tabulate(2000)(i => (i * 37) % 911 - 400)
    val edited = base.updated(1000, 999) // near-dup of c1
    val other = Seq.tabulate(2000)(i => (i * 53) % 701 - 300)
    val fresh = Seq.tabulate(2000)(i => (i * 71) % 997 - 500)
    val corpus = Seq(("c1", base, 2000, "s"), ("c2", other, 2000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val batch = Seq(("b1", edited, 2000, "s"), ("b2", fresh, 2000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val r = Dedup.incrementalScreen(corpus, batch, 0.5).collect()
      .map(row => row.getString(0) -> row).toMap
    assert(r.keySet == Set("b1", "b2"), "verdict covers the WHOLE batch")
    assert(r("b1").getAs[Boolean]("is_dup"))
    assert(r("b1").getAs[String]("best_match") == "c1")
    assert(r("b1").getAs[Double]("best_jaccard") > 0.9)
    assert(!r("b2").getAs[Boolean]("is_dup"))
    assert(r("b2").getAs[Long]("n_matches") == 0L)
    assert(r("b2").isNullAt(r("b2").fieldIndex("best_match")))
  }

  test("incrementalScreen: best match ranks jaccard DESC then doc id ASC") {
    val base = Seq.tabulate(2000)(i => (i * 37) % 911 - 400)
    // two corpus docs tie at jaccard 1.0 -> the SMALLER id must win
    val corpus = Seq(("c9", base, 2000, "s"), ("c1", base, 2000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val batch = Seq(("b1", base, 2000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val r = Dedup.incrementalScreen(corpus, batch, 0.5).collect()(0)
    assert(r.getAs[Long]("n_matches") == 2L)
    assert(r.getAs[String]("best_match") == "c1")
    assert(r.getAs[Double]("best_jaccard") == 1.0)
  }

  test("centroidDrift: hand-computed centroids, orthogonal groups, guards") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0), // centroid (1,0)
      (3L, Seq(0.0f, 1.0f), 1))                           // centroid (0,1)
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidDrift(emb).collect()
      .map(row => row.getInt(0) -> row).toMap
    assert(r(0).getAs[Long]("n_vecs") == 2L)
    assert(r(0).getAs[Double]("centroid_norm") == 1.0) // exact at 2^20
    // rest of label 0 is label 1's centroid (0,1) — orthogonal
    assert(r(0).getAs[Double]("cos_to_rest") == 0.0)
    assert(r(1).getAs[Double]("cos_to_rest") == 0.0)
    // global centroid (2/3, 1/3): cos(label 0, global) = 2/sqrt(5)
    assert(math.abs(r(0).getAs[Double]("cos_to_global") - 2.0 / math.sqrt(5))
      < 1e-6)
    // single-label corpus: empty complement must hit the zero guard
    val solo = Seq((1L, Seq(1.0f, 0.0f), 7), (2L, Seq(0.0f, 1.0f), 7))
      .toDF("vec_id", "embedding", "label")
    val s = Similarity.centroidDrift(solo).collect()(0)
    assert(s.getAs[Double]("cos_to_rest") == 0.0)
    assert(math.abs(s.getAs[Double]("cos_to_global") - 1.0) < 1e-12,
      "the only group IS the global centroid (up to fold rounding)")
  }

  /** Independent brute-force winnowing reference: all O(m·w) window minima
    * over the same packed keys, consecutive-duplicate-deduped. */
  private def winnowRef(toks: Seq[Int], k: Int, w: Int): Seq[Long] = {
    val m = toks.length - k + 1
    if (m <= 0) return Seq.empty
    val keys = (0 until m).map { j =>
      val g = (0 until k).foldLeft(0L)((a, i) => a * 4096L + toks(j + i) + 2048L)
      ((g % 1000000007L) * 999999937L) % 1000000007L * 8192L + (8191L - j)
    }
    val starts = 0 to math.max(m - w, 0)
    val picked = starts.map(j0 => keys.slice(j0, math.min(j0 + w, m)).min)
    picked.foldLeft(Vector.empty[Long])((acc, x) =>
      if (acc.nonEmpty && acc.last == x) acc else acc :+ x)
  }

  private def winnowKernel(toks: Seq[Int], k: Int, w: Int): Seq[Long] = {
    graft.functions.expressions.register(spark)
    Seq(("x", toks)).toDF("doc_id", "tokens")
      .select(expr(s"graft_winnow(tokens, $k, $w)"))
      .as[Seq[Long]].collect()(0)
  }

  test("winnow: kernel matches the brute-force reference on edge shapes") {
    val rng = Seq.tabulate(300)(i => ((i * 193 + 7) % 4096) - 2048)
    for (n <- Seq(0, 1, 3, 4, 5, 10, 11, 12, 50, 300); // m<w, m==w, m>w
         w <- Seq(1, 4, 8)) {
      val toks = rng.take(n)
      assert(winnowKernel(toks, 4, w) == winnowRef(toks, 4, w),
        s"n=$n w=$w")
    }
    // repeated content (equal fps at different positions) and k<4
    val rep = Seq.fill(40)(Seq(5, -9, 77)).flatten
    for (k <- 1 to 4)
      assert(winnowKernel(rep, k, 8) == winnowRef(rep, k, 8), s"k=$k")
  }

  test("winnow: guarantee — shared run of k+w-1 tokens shares a fingerprint") {
    val k = 4; val w = 8
    val shared = Seq.tabulate(k + w - 1)(i => (i * 131) % 1000) // 11 tokens
    val a = Seq.tabulate(200)(i => -(i % 1500) - 1) ++ shared ++
      Seq.tabulate(150)(i => -((i * 7) % 1400) - 2)
    val b = Seq.tabulate(90)(i => ((i * 11) % 900) + 1001) ++ shared ++
      Seq.tabulate(60)(i => ((i * 17) % 800) + 1010)
    def fps(t: Seq[Int]) = winnowKernel(t, k, w).map(_ / 8192L).toSet
    assert((fps(a) intersect fps(b)).nonEmpty,
      "any shared run >= k+w-1 must yield a shared fingerprint")
    // density: ~2/(w+1) of positions, loosely bounded
    val m = a.length - k + 1
    val nSel = winnowKernel(a, k, w).size
    assert(nSel >= m / (w + 1) && nSel <= 4 * m / (w + 1), s"density $nSel/$m")
  }

  test("winnow: dup stats see cross-doc duplication, unique docs none") {
    val shared = Seq.tabulate(64)(i => (i * 131) % 1000)
    val a = ("a", Seq.tabulate(200)(i => -(i % 1500) - 1) ++ shared, 264, "s")
    val b = ("b", shared ++ Seq.tabulate(90)(i => ((i * 11) % 900) + 1001), 154, "s")
    val c = ("c", Seq.tabulate(120)(i => ((i * 29) % 700) + 1201), 120, "s")
    val seqs = Seq(a, b, c).toDF("doc_id", "tokens", "n_tok", "source")
    val dup = Dedup.winnowDupStats(seqs, 4, 8).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_dup")).toMap
    assert(dup("a") > 0 && dup("b") > 0, "shared 64-token run must be seen")
    assert(dup("c") == 0, "unique doc has no duplicated fingerprints")
  }

  /** Textbook O(n·m) reference DP for the edit-distance kernel tests. */
  private def refEdit(a: Seq[Int], b: Seq[Int]): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("edit distance: full kernel matches the reference DP on edge shapes") {
    val cases = Seq(
      (Seq(1, 2, 3, 3, 4, 5), Seq(6, 2, 3, 3, 2, 5, 7)),   // kitten/sitting
      (Seq.empty[Int], Seq(1, 2, 3)),                        // empty vs any
      (Seq(1, 2, 3), Seq(1, 2, 3)),                          // identical
      (Seq(1, 2, 3, 4), Seq(4, 3, 2, 1)),                    // full reversal
      (Seq.tabulate(80)(i => (i * 37) % 23),
        Seq.tabulate(95)(i => (i * 31) % 23)))               // long pseudo-random
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("id", "a", "b")
    graft.functions.expressions.register(spark)
    val got = df.selectExpr("id", "graft_edit_distance(a, b, 0) AS d")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i) == refEdit(a, b), s"case $i") }
  }

  test("edit distance: fuzz — full and banded match the reference DP") {
    val rng = new scala.util.Random(20260820)
    val cases = (0 until 24).map { _ =>
      val n = 1 + rng.nextInt(60); val m = 1 + rng.nextInt(60)
      val alpha = 1 + rng.nextInt(8) // small alphabets force matches
      (Seq.fill(n)(rng.nextInt(alpha)), Seq.fill(m)(rng.nextInt(alpha)),
        1 + rng.nextInt(12))
    }
    val df = cases.zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, c) }.toDF("id", "a", "b", "c")
    graft.functions.expressions.register(spark)
    val full = df.selectExpr("id", "graft_edit_distance(a, b, 0) AS d")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b, _), i) =>
      assert(full(i) == refEdit(a, b), s"full case $i") }
    // per-row caps via the column is not supported (literal cap); check
    // each distinct cap value in one pass over the whole set
    cases.map(_._3).distinct.foreach { cap =>
      val got = df.selectExpr("id", s"graft_edit_distance(a, b, $cap) AS d")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      cases.zipWithIndex.foreach { case ((a, b, _), i) =>
        assert(got(i) == math.min(refEdit(a, b), cap + 1),
          s"cap=$cap case $i") }
    }
  }

  test("edit distance: banded kernel == min(full, cap+1)") {
    val a = Seq.tabulate(120)(i => (i * 37) % 29)
    val variants = Seq(
      a.patch(40, Seq(99, 98), 0),           // 2 inserts -> dist 2
      a.updated(10, 77).updated(60, 88),     // 2 substitutions
      Seq.tabulate(120)(i => (i * 31) % 29), // far apart -> over any small cap
      a.drop(30))                            // 30 deletions
    val df = variants.zipWithIndex.map { case (b, i) => (i, a, b) }
      .toDF("id", "a", "b")
    graft.functions.expressions.register(spark)
    for (cap <- Seq(1, 3, 8, 40)) {
      val got = df.selectExpr("id", s"graft_edit_distance(a, b, $cap) AS d")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      variants.zipWithIndex.foreach { case (b, i) =>
        assert(got(i) == math.min(refEdit(a, b), cap + 1),
          s"cap=$cap variant=$i") }
    }
  }

  test("conformal: perfect model gives qhat 0 and full coverage; planted " +
      "outlier breaks exactly its own row") {
    // y EXACTLY b0 + b1*x1 + b2*x2 with integer betas and tiny counts:
    // every double op in the Cramer solve is exact, so resid == 0.0
    def mkText(e: Int, sp: Int): String = "x" * 3 + "e" * e + " " * sp
    val docs0 = (1L to 100L).map { id =>
      val e = (id % 7).toInt; val sp = (id % 5).toInt
      (id, mkText(e, sp), (10 + 3 * e + 4 * sp).toLong)
    }.toDF("doc_id", "text", "n_chars")
    val spec = graft.ops.Sampling.SplitSpec(train = 500, valid = 300)
    val r0 = graft.ops.Regression.conformalLength(docs0, spec).collect()(0)
    assert(r0.getAs[Double]("qhat") == 0.0)
    assert(r0.getAs[Double]("coverage") == 1.0)
    assert(r0.getAs[Long]("k") ==
      (9 * (r0.getAs[Long]("n_cal") + 1) + 9) / 10)
    // one TEST-split doc pushed off the plane -> exactly one uncovered row
    val testIds = docs0
      .withColumn("b", graft.ops.Sampling.milleSlot(col("doc_id")))
      .filter(col("b") >= 800).select("doc_id")
      .collect().map(_.getLong(0))
    val victim = testIds.min
    val docs1 = docs0.withColumn("n_chars",
      when(col("doc_id") === victim, col("n_chars") + 1000)
        .otherwise(col("n_chars")))
    val r1 = graft.ops.Regression.conformalLength(docs1, spec).collect()(0)
    assert(r1.getAs[Long]("covered") == r1.getAs[Long]("n_test") - 1)
  }

  test("rendezvous: counts conserve mass, keys only move INTO the new shard") {
    val keys = (1L to 200L).toDF("user_id")
    val n = 4
    val rows = graft.core.Partitioning.rendezvousReport(keys, "user_id", n)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    val total = rows.values.head._3
    assert(total == 200L)
    assert(rows.values.map(_._1).sum == 200L, "small-map mass")
    assert(rows.values.map(_._2).sum == 200L, "large-map mass")
    // HRW minimal disruption: existing shards only ever LOSE keys
    (0 until n).foreach { s =>
      assert(rows(s)._2 <= rows(s)._1, s"shard $s gained keys") }
    assert(rows(n)._1 == 0L && rows(n)._2 == rows.values.head._4,
      "moved == the new shard's entire mass")
    val frac = rows.values.head._5
    assert(frac > 0.05 && frac < 0.45,
      s"moved fraction $frac should sit near 1/(n+1) = 0.2")
    // determinism
    val again = graft.core.Partitioning
      .rendezvousReport(keys, "user_id", n).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    (0 to n).foreach(s => assert(again(s) == rows(s)._2))
  }

  test("bm25: self-retrieval, shared-gram candidates only, exact integer score") {
    // queryMod = 1 -> every doc is a query; disjoint-ish vocabularies
    val seqs = Seq(
      ("d1", Seq(1, 1, 2), 3, "s"),
      ("d2", Seq(2, 3, 3), 3, "s"),
      ("d3", Seq(5, 5, 5), 3, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val out = graft.ops.LanguageModel.bm25Retrieve(seqs, 1, 3).collect()
    val byQ = out.groupBy(_.getString(0))
    // d3 shares no gram with anyone: exactly one scored row (itself)
    assert(byQ("d3").map(_.getString(2)).toSeq == Seq("d3"))
    // every query ranks ITSELF first on this fixture
    Seq("d1", "d2", "d3").foreach { q =>
      val top = byQ(q).minBy(_.getInt(1))
      assert(top.getString(2) == q, s"query $q top-1") }
    // d1's candidate set is exactly {d1 (grams 1,2), d2 (gram 2)}
    assert(byQ("d1").map(_.getString(2)).sorted.toSeq == Seq("d1", "d2"))
    // exact integer score of (query d1, candidate d2) on gram 2:
    // N=3, T=9, df(2)=2, idf = ln((3-2+0.5)/(2+0.5)+1)*1e6 rounded;
    // t=1, L=3: q = (22*1*9*4096) div (10*1*9 + 3*9 + 9*3*3) = 4096
    val idf = math.round(math.log((3 - 2 + 0.5) / (2 + 0.5) + 1) * 1e6)
    val expect = idf * ((22L * 9 * 4096) / (10L * 9 + 3 * 9 + 9 * 3 * 3))
    val d1d2 = byQ("d1").find(_.getString(2) == "d2").get
    assert(d1d2.getLong(3) == expect, "hand-computed score_raw")
  }

  test("pca: planted dominant direction is recovered with high var share") {
    // x_d = s_d * u + small orthogonal wiggle, u = (3,4)/5 in dims 0-1
    val vecs = (0L until 60L).map { d =>
      val s = ((d % 5).toInt - 2) * 0.2f // -0.4 .. 0.4
      val wig = ((d % 7).toInt - 3) * 0.01f
      (d, Seq(0.6f * s, 0.8f * s, wig, -wig), (d % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val out = graft.ops.Pca.powerIteration(vecs, 8).collect()
      .sortBy(_.getInt(0))
    val v = out.map(_.getAs[Double]("v_unit"))
    val cosU = math.abs(v(0) * 0.6 + v(1) * 0.8)
    assert(cosU > 0.99, s"top component should align with u, cos=$cosU")
    assert(out.head.getAs[Double]("var_frac") > 0.9,
      "planted direction carries nearly all variance")
    // pure integer rounds: a second run is bitwise identical
    val again = graft.ops.Pca.powerIteration(vecs, 8).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1))
    assert(again.toSeq == out.map(_.getLong(1)).toSeq)
  }

  test("mlm mask: rate ~15%, branch split, checksum pins the rewrite") {
    val toks = Seq.tabulate(4000)(i => (i * 37) % 2048 - 1024)
    val seqs = Seq(("d000042", toks, 4000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val masked = graft.ops.Tokenizer.mlmMask(seqs).collect()(0)
    val arr = masked.getSeq[Int](2)
    val st = masked.getSeq[Long](3)
    val (nMask, nSent, nRand, nKeep, checksum) =
      (st(0), st(1), st(2), st(3), st(4))
    assert(nMask == nSent + nRand + nKeep, "branch counts partition masked")
    val rate = nMask.toDouble / 4000
    assert(rate > 0.12 && rate < 0.18, s"mask rate $rate")
    // sentinel share of masked ~80%
    assert(nSent.toDouble / nMask > 0.7 && nSent.toDouble / nMask < 0.9)
    assert(arr.count(_ == 4096) == nSent, "sentinels in the array")
    // checksum recomputed from the emitted array
    val ck = arr.zipWithIndex.map { case (t, i) => (i + 1L) * t }.sum
    assert(ck == checksum)
    // determinism: same doc id -> same corruption
    val again = graft.ops.Tokenizer.mlmMask(seqs).collect()(0).getSeq[Int](2)
    assert(again == arr)
  }

  test("negsample: w34 is the exact integer fourth root of c^3") {
    val counts = Seq(1L, 2L, 15L, 16L, 81L, 255L, 4097L, 999983L, 2000003L)
    // build a seqs df whose unigram counts we control is awkward; test the
    // operator end-to-end on a tiny corpus, then check the invariant on
    // every emitted row
    val toks = Seq.tabulate(3000)(i => (i * 7) % 50 - 25) // skewed counts
    val seqs = Seq(("d000001", toks, 3000, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val rows = graft.ops.LanguageModel.negSampleTable(seqs).collect()
    assert(rows.nonEmpty)
    var cum = 0L
    rows.sortBy(_.getLong(0)).foreach { r =>
      val c = BigInt(r.getLong(1)); val w = BigInt(r.getLong(2))
      assert(w.pow(4) <= c.pow(3) && c.pow(3) < (w + 1).pow(4),
        s"c=$c w=$w not the floor fourth root of c^3")
      assert(r.getLong(3) == cum, "bucket_start is the running weight sum")
      cum += r.getLong(2)
      assert(r.getLong(5) == rows.map(_.getLong(2)).sum, "total_w")
    }
    // and the pure arithmetic on chosen magnitudes via the same operator:
    // synthesize one doc per count is overkill — check the rule directly
    counts.foreach { c =>
      val ccc = BigInt(c).pow(3)
      val r0 = math.floor(math.sqrt(math.sqrt(ccc.toDouble))).toLong
      val w = (r0 + 2 to r0 - 2 by -1)
        .find(r => r >= 0 && BigInt(r).pow(4) <= ccc).get
      assert(BigInt(w).pow(4) <= ccc && ccc < BigInt(w + 1).pow(4),
        s"guess-correct window misses for c=$c")
    }
  }

  test("bootstrap: model that truly beats the baseline gets a tiny p") {
    // y exactly linear in x1, x2 (integer betas, tiny counts -> exact fit)
    def mkText(e: Int, sp: Int): String = "x" * 3 + "e" * e + " " * sp
    val docs = (1L to 100L).map { id =>
      val e = (id % 7).toInt; val sp = (id % 5).toInt
      (id, mkText(e, sp), (10 + 3 * e + 4 * sp).toLong)
    }.toDF("doc_id", "text", "n_chars")
    val r = graft.ops.Regression.bootstrapLengthModel(docs, 100).collect()(0)
    assert(r.getAs[Int]("b_reps") == 100)
    assert(r.getAs[Long]("n") == 100)
    assert(r.getAs[Long]("d_sum_micro") > 0, "model error strictly smaller")
    assert(r.getAs[Double]("p_boot") <= 0.05,
      s"true improvement should survive resampling, p=${r.getAs[Double]("p_boot")}")
    assert(r.getAs[Long]("ci_lo_micro") <= r.getAs[Long]("ci_hi_micro"))
  }

  test("t5 spans: length identities, grid semantics, checksums pin rewrites") {
    val toks = Seq.tabulate(2003)(i => (i * 37) % 2048 - 1024)
    val seqs = Seq(("d000042", toks, 2003, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val r = graft.ops.Tokenizer.t5Corrupt(seqs).collect()(0)
    val inp = r.getSeq[Int](2); val tgt = r.getSeq[Int](3)
    val st = r.getSeq[Long](4)
    val (nSpans, nCorr, inLen, tgLen) = (st(0), st(1), st(2), st(3))
    assert(inLen == inp.length && tgLen == tgt.length)
    assert(inLen == 2003 - nCorr + nSpans, "input length identity")
    assert(tgLen == nCorr + nSpans, "target length identity")
    val rate = nCorr.toDouble / 2003
    assert(rate > 0.08 && rate < 0.18, s"corruption rate $rate")
    // target structure: sentinels (>= 4200) each followed by 2..4 tokens
    val sentPos = tgt.zipWithIndex.filter(_._1 >= 4200).map(_._2)
    assert(sentPos.length == nSpans)
    val gaps = (sentPos :+ tgt.length).sliding(2)
      .map { case Seq(a, b) => b - a - 1 }.toSeq
    assert(gaps.forall(g => g >= 2 && g <= 4), s"span lengths $gaps")
    // checksums recomputed from the emitted arrays
    def ck(a: Seq[Int]) = a.zipWithIndex.map { case (t, i) => (i + 1L) * t }.sum
    assert(st(4) == ck(inp) && st(5) == ck(tgt))
    // non-fired slots pass through verbatim: the uncorrupted suffix tail
    assert(inp.takeRight(3) == toks.takeRight(3), "verbatim tail")
    // determinism
    val again = graft.ops.Tokenizer.t5Corrupt(seqs).collect()(0).getSeq[Int](2)
    assert(again == inp)
  }

  test("triangles: hand-counted graph, degree-ordered orientation exact") {
    // K4 minus edge (1,4): triangles {1,2,3} and {2,3,4}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L)) // plus an isolated edge: no triangles, clustering 0
      .toDF("u", "v")
    val out = graft.ops.Graph.triangleStats(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L) == ((2L, 1L, Some(1.0))))
    assert(out(2L)._1 == 3L && out(2L)._2 == 2L)
    assert(math.abs(out(2L)._3.get - 2.0 / 3.0) < 1e-12)
    assert(out(4L) == ((2L, 1L, Some(1.0))))
    assert(out(5L) == ((1L, 0L, None)), "degree-1 node: NULL clustering")
    assert(out.values.map(_._2).sum == 6L, "2 triangles x 3 corners")
  }

  test("entropy rate: half-deterministic chain scores exactly half ln 2") {
    def ts(us: Long) = new java.sql.Timestamp(1700000000000L + us / 1000)
    // A alternates to B and C (1 bit each); B and C always return to A
    val types = Seq("A", "B", "A", "C", "A", "B", "A", "C", "A")
    val ev = types.zipWithIndex.map { case (t, i) =>
      (1L, i.toLong, t, ts(i * 1000000L)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val r = graft.ops.Markov.entropyRate(ev, 30L * 60 * 1000000)
      .collect()(0)
    assert(r.getLong(0) == 8L)
    // A-row: 2x ln(4/2) micro-rounded; B/C rows deterministic -> 0
    val expect = 4.0 * math.round(math.log(2.0) * 1e6) / 8.0 / 1e6
    assert(r.getDouble(1) == expect, s"got ${r.getDouble(1)}")
  }

  test("funnel: first-touch order gates each step, exact conversions") {
    def ts(us: Long) = new java.sql.Timestamp(1700000000000L + us / 1000)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, 1L, "signup", 0L), (1L, 2L, "view", 1000000L),
      (1L, 3L, "click", 2000000L),
      // user 2: viewed BEFORE signing up -> stuck at step 1
      (2L, 4L, "view", 0L), (2L, 5L, "signup", 1000000L),
      // user 3: signup only
      (3L, 6L, "signup", 0L))
      .map { case (u, id, t, us) => (u, id, t, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.ops.Markov.funnel(ev, Seq("signup", "view", "click"))
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1) == (("signup", 3L, None, Some(1.0))))
    assert(out(2)._2 == 1L, "only user 1 viewed AFTER signup")
    assert(out(2)._3.contains(1.0 / 3.0))
    assert(out(3) == (("click", 1L, Some(1.0), Some(1.0 / 3.0))))
  }

  test("quantile norm: rank map onto the reference distribution, exact copies") {
    val docs = Seq(
      (1L, "A", 10L), (2L, "A", 20L), (3L, "A", 30L), (4L, "A", 40L),
      (5L, "B", 100L), (6L, "B", 200L),
      (7L, "C", 7L), (8L, "C", 8L), (9L, "C", 9L), (10L, "C", 6L))
      .toDF("doc_id", "source", "n_chars")
    val out = graft.ops.Binning
      .quantileNormalize(docs, "n_chars", "source", "A").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3), r.getLong(4)))
      .toMap
    // reference docs map to themselves
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(out(id)._1 == out(id)._3))
    // B (n=2): rank 1 -> ceil(4/2)=2 -> 20; rank 2 -> 4 -> 40
    assert(out(5L) == ((100L, 1, 20L)))
    assert(out(6L) == ((200L, 2, 40L)))
    // C (n=4 = n_ref): x_norm multiset is EXACTLY the reference values
    val cNorm = Seq(7L, 8L, 9L, 10L).map(out(_)._3).sorted
    assert(cNorm == Seq(10L, 20L, 30L, 40L))
  }

  test("cusum: planted step shift fires upward at the computed delay") {
    graft.functions.expressions.register(spark)
    // flat at mu=100 for 10 steps, then +30 per step; k=10, h=55:
    // excess (x-mu-k)=20/step -> alarm when s>55: after 3 shifted steps
    // (s=60 at index 12), reset, then again at 15, 18
    val xs = Seq.fill(10)(100L) ++ Seq.fill(9)(130L)
    val df = Seq(Tuple1(xs)).toDF("xs")
    val st = df.selectExpr("graft_cusum(xs, 100L, 10L, 55L) AS st")
      .collect()(0).getSeq[Long](0)
    assert(st(0) == 3L, s"three upward alarms, got ${st(0)}")
    assert(st(2) == 12L, "first alarm 3 shifted steps in")
    assert(st(1) == 0L && st(3) == -1L, "no downward alarms")
    // hand recursion for the final state: steps 19 has s = 0 after the
    // alarm at 18... indices 13,14 accumulate 20+20=40 <= 55
    assert(st(4) == 0L, "alarm at the final index resets to 0")
  }

  test("sorted neighborhood: twins adjacent under the offset key, verified by lcp") {
    val shared = Seq.tabulate(300)(i => (i * 37) % 211 - 100)
    def doc(lead: Int, n: Int) =
      Seq.fill(lead)(0) ++ shared.drop(lead).take(n - lead)
    // twins: same content at equal absolute positions, different lead runs
    val seqs = Seq(
      ("a", doc(10, 290), 290, "s"),
      ("b", doc(25, 300), 300, "s"),
      ("c", Seq.tabulate(300)(i => (i * 53) % 199 - 90), 300, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val out = Dedup.sortedNeighborhood(seqs, offset = 128, win = 96,
        minLcp = 48).collect()
      .map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getBoolean(4))).toMap
    // a and b share the window at offset 128 -> same key -> adjacent,
    // full-window lcp -> near_dup; c's key differs -> no flag
    val abPair = out("b")._1.contains("a") || out("a")._1.contains("b")
    assert(abPair, s"twins must sort adjacent: $out")
    assert(out.values.count(_._2) == 1, "exactly the twin adjacency flags")
    val flagged = out.filter(_._2._2).head
    assert(Set("a", "b").contains(flagged._1))
  }

  test("retention cohorts: hand-computed weekly matrix") {
    val wk = 7L * 86400 * 1000 // ms
    def ts(week: Long) = new java.sql.Timestamp(1700000000000L + week * wk)
    val ev = Seq(
      (1L, 10L, "A", ts(0)), (1L, 11L, "A", ts(1)),  // cohort 0, wks 0+1
      (2L, 12L, "B", ts(0)),                          // cohort 0, wk 0
      (3L, 13L, "A", ts(1)))                          // cohort 1, wk 1
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.ops.Markov.retentionCohorts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val c0 = out.keys.map(_._1).min
    assert(out((c0, 0L)) == ((2L, 2L, 1.0)), "cohort week itself")
    assert(out((c0, 1L)) == ((1L, 2L, 0.5)), "half retained at +1 week")
    assert(out((c0 + 1, 0L)) == ((1L, 1L, 1.0)), "second cohort")
    assert(out.size == 3)
  }

  test("knn label agreement: wrong-neighborhood anchor flagged suspect") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 1),
      (1L, Seq(0.9f, 0.1f, 0.0f), 1),   // same label, cos ~.994
      (2L, Seq(0.8f, 0.2f, 0.0f), 2),   // diff label, cos ~.970
      (3L, Seq(0.0f, 1.0f, 0.0f), 1),   // same label, cos 0 (outside k)
      (4L, Seq(0.95f, 0.05f, 0.0f), 2)) // diff label, cos ~.999
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAgreement(e, 1, 3).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 0L && r.getInt(1) == 1)
    assert(r.getLong(2) == 1L, "only vec 1 among the top-3 agrees")
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 1e-12)
    assert(r.getBoolean(5), "minority-label neighborhood -> suspect")
  }

  test("markov transitions: session-scoped pairs, exact row-normalized p") {
    val base = 1700000000000000L
    def ts(us: Long) = new java.sql.Timestamp(base / 1000 + us / 1000)
    // user 1: A->B->A->B in one session, then a cross-session gap to B
    // (excluded); user 2: single event (no transitions)
    val ev = Seq(
      (1L, 1L, "A", 0L), (1L, 2L, "B", 1000000L), (1L, 3L, "A", 2000000L),
      (1L, 4L, "B", 3000000L), (1L, 5L, "B", 10L * 3600 * 1000000),
      (2L, 6L, "C", 0L))
      .map { case (u, id, t, us) => (u, id, t, ts(us)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.ops.Markov.transitions(ev, 30L * 60 * 1000000)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(("A", "B"), ("B", "A")),
      "cross-session and single-event rows contribute nothing")
    assert(out(("A", "B")) == ((2L, 2L, 1.0)), "A always goes to B")
    assert(out(("B", "A")) == ((1L, 1L, 1.0)),
      "the session-final B->B gap pair is excluded")
  }

  test("assortativity: star graph is exactly -1, regular graph is NULL") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("u", "v")
    val r1 = graft.ops.Graph.assortativity(star).collect()(0)
    assert(r1.getLong(0) == 8L, "both orientations of 4 edges")
    assert(math.abs(r1.getDouble(1) + 1.0) < 1e-12, "pure hub-leaf = -1")
    val cycle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val r2 = graft.ops.Graph.assortativity(cycle).collect()(0)
    assert(r2.isNullAt(1), "regular graph: zero degree variance -> NULL")
  }

  test("kcore: pendant peels, cascade respects the fixed round budget") {
    // triangle {1,2,3} + pendant 4: k=2 converges in 2 rounds
    val g1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val c1 = graft.ops.Graph.kCore(g1, 2, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(c1.keySet == Set(1L, 2L, 3L))
    assert(c1.values.forall(_ == ((2L, true))))
    // path 1-..-6, k=2: peels 2 nodes/round; 2 rounds is NOT enough
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("u", "v")
    val c2 = graft.ops.Graph.kCore(path, 2, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(c2.keySet == Set(3L, 4L), "round-2 keep set, no extra peel")
    assert(c2.values.forall(_ == ((1L, false))),
      "post-round degrees reported; unconverged said in-band")
    // with enough rounds the 2-core of a path is empty
    assert(graft.ops.Graph.kCore(path, 2, 4).collect().isEmpty)
  }

  test("edit distance pairs: planted near-copy scores high, shuffled bag low") {
    val base = Seq.tabulate(300)(i => (i * 37) % 211 - 100)
    val nearCopy = base.patch(50, Seq(999, 998, 997), 0) // 3 token inserts
    // same multiset of tokens, order destroyed: set measures call it a
    // dup; edit distance must not
    val shuffled = base.grouped(2).toSeq.reverse.flatten
    val seqs = Seq(
      ("a", base, 300, "s"), ("b", nearCopy, 303, "s"),
      ("c", shuffled, 300, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val pairs = Seq(("a", "b"), ("a", "c")).toDF("doc_a", "doc_b")
    val out = Dedup.editDistancePairs(seqs, pairs, 256).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(4), r.getDouble(5))).toMap
    val (dAb, simAb) = out(("a", "b"))
    val (dAc, simAc) = out(("a", "c"))
    // 3 inserts + the 3 tail tokens they push past the 256-token window
    assert(dAb == 6, "three inserts + three clipped-tail deletes")
    assert(simAb > 0.97)
    assert(simAc < 0.7, s"order-destroyed doc must score low, got $simAc")
    assert(dAc > 50)
  }

  test("hard negatives: label split, rank order, margin semantics") {
    // anchor 0 (label 1): same-label 1 (identical, cos 1), same-label 2
    // (orthogonal-ish), negatives 3/4 with known cosine order
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 1),
      (1L, Seq(1.0f, 0.0f, 0.0f), 1),  // positive, cos 1
      (2L, Seq(0.0f, 1.0f, 0.0f), 1),  // hardest positive, cos 0
      (3L, Seq(0.9f, 0.1f, 0.0f), 2),  // hard negative (high cos)
      (4L, Seq(0.0f, 0.0f, 1.0f), 2),  // easy negative (cos 0)
      (5L, Seq(0.5f, 0.5f, 0.0f), 3))  // unique-label anchor candidate
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(e, 1, 3).collect()
    assert(out.forall(_.getAs[Long]("anchor_id") == 0L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    val byRank = out.sortBy(_.getAs[Int]("rank"))
    // neg order: 3 (0.994) > 5 (0.707) > 4 (0.0); all labels != 1
    assert(byRank.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 5L, 4L))
    assert(byRank.head.getAs[Double]("pos_cos") == 0.0, "hardest positive is vec 2")
    assert(byRank.head.getAs[Double]("margin") ==
      byRank.head.getAs[Double]("neg_cos"))
    // anchor with no same-label peer -> NULL pos_cos / margin
    val solo = Similarity.hardNegatives(e.filter(col("vec_id").isin(5L, 0L, 3L)), 6, 2)
      .filter(col("anchor_id") === 5L).collect()
    assert(solo.nonEmpty && solo.forall(r => r.isNullAt(r.fieldIndex("pos_cos"))))
  }

  test("full-corpus LSH hard negatives: exact ranking on the candidate subgraph") {
    // 24 vectors in 3 label groups with correlated directions so the sign
    // bands produce a dense candidate graph
    val e = (0 until 24).map { i =>
      val g = i % 3
      val v = Seq.tabulate(8)(j =>
        (math.cos(0.4 * g + 0.15 * j + 0.05 * i) +
          0.3 * math.sin(1.7 * i + j)).toFloat)
      (i.toLong, v, g)
    }.toDF("vec_id", "embedding", "label")
    val (bands, bits) = (6, 3)
    val out = Similarity.hardNegativesLsh(e, bands, bits, 3).collect()
    // reference: collected candidate pairs + double-cosine ranking
    val cand = Similarity.embedCandidates(e, bands, bits).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val vecs = (0 until 24).map { i =>
      val g = i % 3
      i.toLong -> (Seq.tabulate(8)(j =>
        (math.cos(0.4 * g + 0.15 * j + 0.05 * i) +
          0.3 * math.sin(1.7 * i + j)).toFloat), g)
    }.toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (j <- a.indices) {
        dot += a(j).toDouble * b(j).toDouble
        na += a(j).toDouble * a(j).toDouble
        nb += b(j).toDouble * b(j).toDouble
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val neigh = (cand ++ cand.map(p => (p._2, p._1))).groupBy(_._1)
    val expect = neigh.flatMap { case (a, ps) =>
      val (av, alabel) = vecs(a)
      val scored = ps.map(_._2).toSeq.map { n =>
        val (nv, nl) = vecs(n); (n, cos(av, nv), nl)
      }
      val negs = scored.filter(_._3 != alabel)
        .sortBy { case (n, c, _) => (-c, n) }.take(3)
      negs.zipWithIndex.map { case ((n, c, _), r) => (a, r + 1) -> (n, c) }
    }
    val gotRows = out.map(r => (r.getAs[Long]("anchor_id"),
      r.getAs[Int]("rank")) -> (r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("neg_cos"))).toMap
    assert(gotRows.keySet == expect.keySet,
      "LSH path must rank exactly the candidate subgraph")
    for ((k, (n, c)) <- expect) {
      assert(gotRows(k)._1 == n, s"neighbor mismatch at $k")
      assert(math.abs(gotRows(k)._2 - c) < 1e-12)
    }
    // agreement screen over the same candidate graph
    val agree = Similarity.knnAgreementLsh(e, bands, bits, 5).collect()
      .map(r => r.getAs[Long]("anchor_id") ->
        (r.getAs[Long]("n_agree"), r.getAs[Long]("n_cand"))).toMap
    val expAgree = neigh.map { case (a, ps) =>
      val (av, alabel) = vecs(a)
      val top = ps.map(_._2).toSeq.map { n =>
        val (nv, nl) = vecs(n); (n, cos(av, nv), nl)
      }.sortBy { case (n, c, _) => (-c, n) }.take(5)
      a -> (top.count(_._3 == alabel).toLong, top.size.toLong)
    }
    assert(agree == expAgree)
  }

  test("gbdt training: monotone loss descent, partition invariance, planted structure") {
    // planted corpus: the label's XOR term needs depth 2; the fit must cut
    // loss every round and be bitwise-stable under repartitioning
    val docs = (0 until 200).map { d =>
      val toks = Seq.tabulate(96) { i =>
        val v = ((d * 37 + i * i * 13 + 7 * i) % 1999) - 999
        if ((d * 3 + i) % 11 == 0) 0 else v
      }
      (s"d$d", toks, toks.length, s"s${d % 4}")
    }
    val seqs = docs.toDF("doc_id", "tokens", "n_tok", "source")
    val rep = graft.ops.GbdtTrain.fitReport(seqs, rounds = 4)
      .orderBy("round").collect()
    assert(rep.length == 5)
    val losses = rep.map(_.getAs[Long]("loss_pre")).toSeq
    assert(losses == losses.sorted.reverse && losses.distinct == losses,
      s"loss must strictly decrease: $losses")
    assert(losses.last < losses.head,
      "boosting must reduce training loss overall")
    // exact reproducibility across partitionings (order-free aggregation)
    val rep2 = graft.ops.GbdtTrain.fitReport(seqs.repartition(13), rounds = 4)
      .orderBy("round").collect()
    assert(rep.map(_.toSeq).toSeq == rep2.map(_.toSeq).toSeq,
      "fit must be bitwise partition-invariant")
    // structural sanity: every non-marker split is a real (feature, bin)
    for (r <- rep.dropRight(1)) {
      assert(r.getAs[Int]("root_f") >= 0 && r.getAs[Int]("root_f") < 4)
      assert(r.getAs[Int]("root_bin") >= 0 && r.getAs[Int]("root_bin") < 16)
    }
    // train -> apply loop closes: the applied ensemble's residual loss is
    // exactly the report's closing row
    val preds = graft.ops.GbdtTrain.fitPredict(seqs, rounds = 4).collect()
    assert(preds.length == 200)
    val applied = preds.map { p =>
      val d = p.getAs[Long]("y") - p.getAs[Long]("pred_micro"); d * d
    }.sum
    assert(applied == losses.last,
      "applied-tree loss must equal the report's final loss")
  }

  test("gbdt fallback: a child with one occupied bin keeps the marker split") {
    // constant tokens per doc: f1/f2/f3 collapse to single bins; only f0
    // (two lengths) can split. After the root split on f0, each child is
    // single-bin on every feature -> no valid candidate -> marker f = -1,
    // all rows left, right sub-leaf value 0 by the empty-leaf convention
    val docs = (0 until 40).map { d =>
      val len = if (d % 2 == 0) 40 else 80
      (s"d$d", Seq.fill(len)(100), len, "s")
    }
    val seqs = docs.toDF("doc_id", "tokens", "n_tok", "source")
    val rep = graft.ops.GbdtTrain.fitReport(seqs, rounds = 1)
      .orderBy("round").collect()
    val r1 = rep.head
    assert(r1.getAs[Int]("root_f") == 0, "only n_tok can split")
    assert(r1.getAs[Int]("l_f") == -1 && r1.getAs[Int]("r_f") == -1,
      "single-bin children must keep the marker split")
    assert(r1.getAs[Long]("v_lr") == 0L && r1.getAs[Long]("v_rr") == 0L,
      "empty right sub-leaves carry the 0 convention")
    // and the applied predictor still reconciles with the closing loss
    val preds = graft.ops.GbdtTrain.fitPredict(seqs, rounds = 1).collect()
    val applied = preds.map { p =>
      val d = p.getAs[Long]("y") - p.getAs[Long]("pred_micro"); d * d
    }.sum
    assert(applied == rep.last.getAs[Long]("loss_pre"))
  }

  test("gbdt bagging: leak-free folds, positive oob loss, Jensen bound") {
    val docs = (0 until 150).map { d =>
      val toks = Seq.tabulate(80) { i =>
        val v = ((d * 53 + i * i * 19 + 11 * i) % 1999) - 999
        if ((d + i) % 9 == 0) 0 else v
      }
      (s"d$d", toks, toks.length, s"s${d % 3}")
    }
    val seqs = docs.toDF("doc_id", "tokens", "n_tok", "source")
    val folds = 3
    val out = graft.ops.GbdtTrain.fitBagged(seqs, folds = folds, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size == 2 * folds + 1)
    for (f <- 0 until folds) {
      assert(out(s"fold${f}_train") > 0 && out(s"fold${f}_oob") > 0)
    }
    // Jensen: loss of the averaged predictor <= mean of the fold
    // predictors' full-corpus losses (slack covers the per-doc +-1-micro
    // flooring of the average)
    val meanFull = (0 until folds)
      .map(f => out(s"fold${f}_train") + out(s"fold${f}_oob")).sum / folds
    assert(out("bagged_full") <= meanFull + 1000000000L,
      s"bagged ${out("bagged_full")} vs mean-of-folds $meanFull")
    // bitwise partition invariance holds through the fold loop too
    val out2 = graft.ops.GbdtTrain
      .fitBagged(seqs.repartition(11), folds = folds, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 == out)
  }

  test("semdedup: in-cell pruning, centroid-rank precedence, cross-cell blind spot") {
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("cell", "cv")
    val e = Seq(
      (0L, Seq(1.0f, 0.01f, 0.0f)), // cell 0, most centroid-similar
      (1L, Seq(1.0f, 0.02f, 0.0f)), // cell 0, near-dup of 0, lower ccos
      (2L, Seq(0.2f, 1.0f, 0.0f)),  // cell 1, no in-cell dup at tau=0.99
      (3L, Seq(0.0f, 1.0f, 0.0f)),  // cell 1
      (4L, Seq(0.9f, 1.0f, 0.0f)),  // cell 1 — cross-cell near-dup of 5
      (5L, Seq(1.0f, 0.9f, 0.0f)))  // cell 0
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedupWith(e, cents, 0.99).collect()
      .map(r => r.getAs[Long]("vec_id") -> ((r.getAs[Long]("cell"),
        r.getAs[Int]("cell_rank"), r.getAs[Boolean]("pruned")))).toMap
    assert(Seq(0L, 1L, 5L).forall(out(_)._1 == 0L))
    assert(Seq(2L, 3L, 4L).forall(out(_)._1 == 1L))
    // rank ASC by centroid cosine: least-centroid-similar ranks first
    assert(out(5L)._2 == 1 && out(1L)._2 == 2 && out(0L)._2 == 3)
    // 0 pruned by earlier-ranked near-dup 1; 1 survives (5 not similar)
    assert(out(0L)._3 && !out(1L)._3 && !out(5L)._3)
    // cross-cell near-dup (4,5): the documented blind spot — both survive
    assert(!out(4L)._3 && !out(2L)._3 && !out(3L)._3)
  }

  test("coreset greedy: submodular gains, tie-breaks, covered-cluster zero") {
    // duplicate cluster {0,1} on x, singletons 2 (y) and 3 (z): round 1
    // covers the cluster (gain 2e6, tie -> lowest id), rounds 2-3 the
    // axes, round 4 the now-worthless duplicate (gain 0)
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.coresetGreedy(e, 4).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("gain_micro"), r.getAs[Long]("coverage_micro")))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, 0L, 2000000L, 2000000L),
      (2, 2L, 1000000L, 3000000L),
      (3, 3L, 1000000L, 4000000L),
      (4, 1L, 0L, 4000000L)))
  }

  private def coresetPicks(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Int]("step"), r.getAs[Long]("vec_id"),
      r.getAs[Long]("gain_micro"), r.getAs[Long]("coverage_micro")))
      .sortBy(_._1).toSeq

  test("coreset per-cell: single cell reproduces the exact greedy bitwise") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f)),
      (4L, Seq(0.7f, 0.7f, 0.0f)))
      .toDF("vec_id", "embedding")
    val oneCent = Seq((0L, Seq(1.0, 0.0, 0.0))).toDF("cell", "cv")
    val perCell = Similarity.coresetGreedyPerCell(e, oneCent, 4)
    assert(perCell.select("cell").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    assert(coresetPicks(perCell.drop("cell")) ==
      coresetPicks(Similarity.coresetGreedy(e, 4)))
  }

  test("coreset per-cell: well-separated clusters == exact greedy per cluster") {
    // two orthogonal-subspace clusters; each vector's dominant component
    // lies in its own cluster's subspace, so assignment is unambiguous
    val a = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), // dup of 0
      (2L, Seq(0.6f, 0.8f, 0.0f, 0.0f)),
      (3L, Seq(0.9f, 0.4f, 0.0f, 0.0f)))
    val b = Seq(
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.05f)),
      (6L, Seq(0.0f, 0.0f, 0.7f, 0.7f)),
      (7L, Seq(0.0f, 0.0f, 0.95f, 0.2f)))
    val e = (a ++ b).toDF("vec_id", "embedding")
    val cents = Seq((10L, Seq(1.0, 0.0, 0.0, 0.0)),
      (20L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("cell", "cv")
    val perCell = Similarity.coresetGreedyPerCell(e, cents, 3)
    assert(coresetPicks(perCell.filter(col("cell") === 10L).drop("cell")) ==
      coresetPicks(Similarity.coresetGreedy(a.toDF("vec_id", "embedding"), 3)))
    assert(coresetPicks(perCell.filter(col("cell") === 20L).drop("cell")) ==
      coresetPicks(Similarity.coresetGreedy(b.toDF("vec_id", "embedding"), 3)))
  }

  test("coreset per-cell: an m-member cell yields min(k, m) picks") {
    val e = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cell", "cv")
    val perCell = Similarity.coresetGreedyPerCell(e, cents, 5)
    assert(coresetPicks(perCell.drop("cell")) ==
      coresetPicks(Similarity.coresetGreedy(e, 2)))
  }

  test("ols fit: exact recovery of a noiseless plane, r2=1, rmse~0") {
    val xy = Seq((0L, 0L, 2L), (1L, 0L, 5L), (0L, 1L, 7L), (2L, 1L, 13L),
        (3L, 4L, 31L))
      .toDF("x1", "x2", "y")
    val r = graft.ops.Regression.fit(xy).collect()(0)
    assert(r.getAs[Long]("n") == 5L)
    assert(math.abs(r.getAs[Double]("b0") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("b1") - 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("b2") - 5.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
    assert(r.getAs[Double]("rmse") < 1e-6)
  }

  test("unigram diversity: entropy and KL-to-corpus match closed forms") {
    val seqs = Seq(
      ("a", Seq(1, 1, 1, 1, 1)),       // zero entropy
      ("b", Seq(1, 2, 3, 4)))          // uniform over 4 tokens
      .toDF("doc_id", "tokens")
    val out = graft.ops.LanguageModel.unigramDiversity(seqs).collect()
      .map(r => r.getAs[String]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Double]("entropy"),
          r.getAs[Double]("kl_corpus")))).toMap
    assert(out("a")._1 == 5L && out("b")._1 == 4L)
    assert(out("a")._2 == 0.0)
    assert(math.abs(out("b")._2 - math.log(4)) < 1e-5)
    // corpus: t1 x6, t2/t3/t4 x1 each, N=9
    val klA = math.log(9.0 / 6.0)
    val klB = 0.25 * math.log((0.25 * 9) / 6) + 0.75 * math.log(0.25 * 9)
    assert(math.abs(out("a")._3 - klA) < 1e-5)
    assert(math.abs(out("b")._3 - klB) < 1e-5)
  }

  test("grouped cv folds: clusters never straddle folds, stable hash") {
    val clusters = Seq(("a", "a"), ("b", "a"), ("c", "c"), ("d", "d"))
      .toDF("doc_id", "cluster")
    val out = graft.ops.Sampling.groupedFolds(clusters, 5).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Int]("fold")).toMap
    assert(out("a") == out("b"), "same cluster -> same fold")
    assert(out.values.forall(f => f >= 0 && f < 5))
    val again = graft.ops.Sampling.groupedFolds(clusters, 5).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Int]("fold")).toMap
    assert(again == out, "assignment is deterministic")
  }

  test("kneser-ney bigram nll matches the hand-computed exact form") {
    val seqs = Seq(("d1", Seq(1, 2, 1, 2)), ("d2", Seq(1, 3)))
      .toDF("doc_id", "tokens")
    val out = graft.ops.LanguageModel.scoreBigramKn(seqs).collect()
      .map(r => r.getAs[String]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll_kn")))).toMap
    // grams: (1,2)x2 (2,1)x1 (1,3)x1; c1(1)=3 c1(2)=1; n1w(1)=2 n1w(2)=1;
    // ncont(1)=ncont(2)=ncont(3)=1; N11=3
    // P(2|1)=21/36, P(1|2)=6/12, P(3|1)=9/36
    val d1 = (2 * math.log(36.0 / 21) + math.log(2)) / 3
    val d2 = math.log(4)
    assert(out("d1")._1 == 3L && out("d2")._1 == 1L)
    assert(math.abs(out("d1")._2 - d1) < 1e-5)
    assert(math.abs(out("d2")._2 - d2) < 1e-5)
  }

  test("zipf fit: per-source power-law slope and fit quality") {
    // source zA: token i repeated 32/i times (Zipf, slope ~ -1);
    // zB: uniform counts (slope ~ 0 on the log-log line)
    val za = (1 to 8).flatMap(i => Seq.fill(32 / i)(i))
    val zb = (1 to 6).flatMap(i => Seq.fill(7)(i))
    val seqs = Seq(("d1", za, "zA"), ("d2", zb, "zB"))
      .toDF("doc_id", "tokens", "source")
    val out = graft.ops.Regression.zipfFit(seqs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("b1"),
          r.getAs[Double]("r2")))).toMap
    assert(out("zA")._1 == 8L && out("zB")._1 == 6L)
    assert(out("zA")._2 < -0.7 && out("zA")._2 > -1.3,
      s"Zipf slope ~ -1, got ${out("zA")._2}")
    assert(out("zA")._3 > 0.95)
    assert(math.abs(out("zB")._2) < 0.2, "uniform source has ~flat slope")
  }

  test("ols influence: hat-trace = p, residuals sum 0, outlier max cooks") {
    val xy = Seq((1L, 0L, 0L, 2L), (2L, 1L, 0L, 5L), (3L, 0L, 1L, 7L),
        (4L, 2L, 1L, 13L), (5L, 3L, 4L, 31L), (6L, 5L, 6L, 147L))
      .toDF("id", "x1", "x2", "y")
    val out = graft.ops.Regression.influence(xy, "id").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("resid"), r.getAs[Double]("leverage"),
          r.getAs[Double]("cooks_d")))).toMap
    assert(math.abs(out.values.map(_._2).sum - 3.0) < 1e-9,
      "trace of the hat matrix equals the parameter count")
    assert(math.abs(out.values.map(_._1).sum) < 1e-6,
      "residuals of an intercept model sum to zero")
    assert(out.values.forall(v => v._2 > 0 && v._2 < 1))
    // row 6 is plane value 47 + 100 at a leverage-extreme x — the
    // planted influence outlier (wrong AND far out in x-space)
    assert(out(6L)._3 == out.values.map(_._3).max)
  }

  test("pagerank hubs: exact one-round values, hub ordering, isolated floor") {
    val docs = Seq("a", "b", "c", "d", "e").toDF("doc_id")
    val pairs = Seq(("a", "b"), ("a", "c"), ("a", "d"))
      .toDF("doc_a", "doc_b")
    val r1 = graft.ops.Dedup.pagerankHubs(docs, pairs, 1).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("pr_micro")).toMap
    // hand-computed round 1: hub a gets 3x(85e4); leaves get 85e6 div 300
    assert(r1("a") == 2700000L)
    assert(r1("b") == 433333L && r1("c") == 433333L && r1("d") == 433333L)
    assert(r1("e") == 150000L, "isolated node sits at the teleport floor")
    val r5 = graft.ops.Dedup.pagerankHubs(docs, pairs, 5).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("pr_micro")).toMap
    assert(r5("a") > r5("b") && r5("b") == r5("c") && r5("c") == r5("d"))
    assert(r5("b") > r5("e") && r5("e") == 150000L)
  }

  test("span remove: owner keeps, non-owner excised, short docs untouched") {
    val seqs = Seq(
      ("a", Seq(1, 2, 3, 4, 9, 9), 6),
      ("b", Seq(5, 6, 1, 2, 3, 4, 7, 8), 8),
      ("c", Seq(1, 2, 3), 3))
      .toDF("doc_id", "tokens", "n_tok")
    val out = graft.ops.Dedup.spanRemove(seqs, winLen = 4, stride = 2)
      .collect()
      .map(r => r.getAs[String]("doc_id") ->
        ((r.getAs[Int]("n_kept"),
          r.getAs[scala.collection.Seq[Int]]("tokens_clean").toSeq))).toMap
    // shared window (1,2,3,4): owner 'a' keeps it; 'b' drops [2,6)
    assert(out("a") == ((6, Seq(1, 2, 3, 4, 9, 9))))
    assert(out("b") == ((4, Seq(5, 6, 7, 8))))
    // below-window-length doc has no windows, nothing to remove
    assert(out("c") == ((3, Seq(1, 2, 3))))
  }

  test("decoded audio flows through the real feature pipeline") {
    val seqs = Multimodal.audioToSeqs(Multimodal.synth(spark, 9))
    val ll = graft.features.Pipeline.featuresLl(seqs).cache()
    assert(ll.count() == 3) // kinds cycle image/audio/video
    assert(ll.filter(col("status") === "succeeded").count() == 3)
    assert(ll.select("n_frames").as[Int].collect().forall(_ >= 1))
    // tokens are on the engine scale after the >>4 map
    val toks = ll.select("tokens").as[Array[Int]].collect().flatten
    assert(toks.forall(t => t >= -2048 && t < 2048))
    ll.unpersist()
  }

  // ---- product quantization ----

  /** Two well-separated clusters in R^8 (even ids ~ center A, odd ~ B),
    * within-cluster offset growing with id so the exact top-k of the two
    * probe queries is unambiguous. Seed stride (% 13 = 3) picks id 3 (B)
    * and id 16 (A) — one seed codeword lands in each cluster. */
  private def pqFixture = {
    val cA = Array(10.0, 0.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0)
    val cB = Array(0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 10.0)
    Seq.tabulate(20) { i =>
      val c = if (i % 2 == 0) cA else cB
      (i.toLong, c.zipWithIndex.map { case (v, j) =>
        (v + i * 0.01 * (j % 3 - 1)).toFloat }, i % 2)
    }.toDF("vec_id", "embedding", "label")
  }

  test("pq: codes are cluster-consistent, in range, partition-invariant") {
    val emb = pqFixture
    val codes = Similarity.pqCodes(emb, m = 2, dsub = 4, ksub = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.size == 40) // 20 vectors x 2 subspaces
    assert(codes.values.forall(c => c >= 0 && c < 2))
    // every even id shares codes with vec 0; every odd with vec 1; the
    // clusters use different codewords in each subspace
    for (sub <- 0 to 1) {
      val a = codes((0L, sub)); val b = codes((1L, sub))
      assert(a != b)
      for (i <- 0 until 20)
        assert(codes((i.toLong, sub)) == (if (i % 2 == 0) a else b))
    }
    // partition invariance: quantized-BIGINT means + deterministic ties
    val re = Similarity.pqCodes(emb.repartition(7), 2, 4, 2, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(re == codes)
  }

  test("pq: ARRAY<DOUBLE> embeddings train the same codebook and codes as floats") {
    val emb = pqFixture
    val dbl = emb.withColumn("embedding", col("embedding").cast("array<double>"))
    def table(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTrainTable(df, m = 2, dsub = 4, ksub = 2, iters = 2)
        .collect().map(_.toString).sorted.toSeq
    def codes(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqCodes(df, 2, 4, 2, 2).collect().map(_.toString).sorted.toSeq
    // floats widen to doubles exactly, so both element types agree bitwise
    assert(table(dbl) == table(emb))
    assert(codes(dbl) == codes(emb))
  }

  test("pq: trained codewords sit at the cluster subspace centroids") {
    val emb = pqFixture
    val cb = Similarity.pqTrainTable(emb, m = 2, dsub = 4, ksub = 2, iters = 2)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    assert(cb.size == 16) // 2 subs x 2 codes x 4 dims
    // exact subspace centroids of the two planted clusters
    val evens = (0 until 20 by 2).map(_.toDouble)
    val odds = (1 until 20 by 2).map(_.toDouble)
    def centroid(c: Array[Double], ids: Seq[Double], j: Int) =
      ids.map(i => c(j) + i * 0.01 * (j % 3 - 1).toDouble)
        .map(v => v.toFloat.toDouble).sum / ids.size
    val cA = Array(10.0, 0.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0)
    val cB = Array(0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 10.0)
    // codeword identity per cluster from the codes table
    val codes = Similarity.pqCodes(emb, 2, 4, 2, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    for (sub <- 0 to 1; pos <- 0 to 3) {
      val j = sub * 4 + pos
      val gotA = cb((sub, codes((0L, sub)), pos))
      val gotB = cb((sub, codes((1L, sub)), pos))
      assert(math.abs(gotA - centroid(cA, evens, j)) < 2e-5,
        s"sub=$sub pos=$pos A: $gotA vs ${centroid(cA, evens, j)}")
      assert(math.abs(gotB - centroid(cB, odds, j)) < 2e-5,
        s"sub=$sub pos=$pos B: $gotB vs ${centroid(cB, odds, j)}")
    }
  }

  test("pq: ADC recall is perfect on the separated fixture") {
    val emb = pqFixture
    val rec = Similarity.pqAdcRecall(emb, nQueries = 2, k = 3,
      m = 2, dsub = 4, ksub = 2, iters = 2).collect()
    assert(rec.length == 2)
    for (r <- rec)
      assert(r.getAs[Double]("recall_at_k") == 1.0,
        s"query ${r.getLong(0)}: ${r.getAs[Double]("recall_at_k")}")
  }

  test("ivf-pq: composed coarse-cell + ADC recall is perfect on the separated fixture") {
    val emb = pqFixture
    // the % 37 = 3 IVF seed stride yields one cell over 20 ids -> every
    // vector is a candidate; ranking must then reduce to the PQ ADC path
    val rec = Similarity.ivfPqRecall(emb, nQueries = 2, k = 3, nCells = 4,
      nProbe = 1, m = 2, dsub = 4, ksub = 2, iters = 2).collect()
    assert(rec.length == 2)
    for (r <- rec) {
      assert(r.getAs[Long]("n_cand") == 19L)
      assert(r.getAs[Double]("recall_at_k") == 1.0,
        s"query ${r.getLong(0)}: ${r.getAs[Double]("recall_at_k")}")
    }
  }

  test("hybrid rrf: doc top-ranked in both arms fuses above single-arm docs") {
    // d0/d1 identical in both token and embedding space; d2/d3 disjoint.
    // queryMod = 1 -> every doc is a query. For query d000000: lex ties
    // (d0, d1) -> ranks 1,2; dense excludes self -> d1 rank 1, zero-cos
    // ties d2, d3 -> ranks 2, 3. RRF (C = 60): d1 = 10^6 div 62 + 10^6
    // div 61 = 32522 beats d0 = 16393 and d2 = 16129.
    val seqs = Seq(
      ("d000000", Seq(1, 1, 2, 3), 4, "s"), ("d000001", Seq(1, 1, 2, 3), 4, "s"),
      ("d000002", Seq(50, 60), 2, "s"), ("d000003", Seq(70, 80, 90), 3, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = graft.ops.LanguageModel.hybridRrf(seqs, emb, queryMod = 1, k = 3)
      .filter(col("q_id") === "d000000").orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getAs[Long]("rrf_micro"),
        r.getInt(4), r.getInt(5)))
    assert(out.toSeq == Seq(
      (1, "d000001", 32522L, 2, 1),
      (2, "d000000", 16393L, 1, 0),
      (3, "d000002", 16129L, 0, 2)))
  }

  test("matryoshka recall: full width is exact; tail-only signal dies under truncation") {
    // neighbors distinguished ONLY in components 2..3: the width-2 prefix
    // ranking ties everywhere (resolved by vec_id) while width-4 is exact
    val emb = Seq(
      (0L, Array(1.0f, 1.0f, 0.9f, 0.1f), 0),
      (1L, Array(1.0f, 1.0f, 0.9f, 0.1f), 0),  // true top-1 of query 0
      (2L, Array(1.0f, 1.0f, -0.5f, 0.8f), 1),
      (3L, Array(1.0f, 1.0f, -0.5f, 0.79f), 1)) // q2's true tail-space twin
      .toDF("vec_id", "embedding", "label")
    val rec = Similarity.matryoshkaRecall(emb, nQueries = 1, k = 1,
        dims = Seq(2, 4)).collect()
      .map(r => r.getInt(0) -> r.getAs[Double]("recall_at_k")).toMap
    assert(rec(4) == 1.0)
    // width 2: all cosines tie at 1.0 -> lowest vec_id (1) wins, which IS
    // the exact neighbor here; use k=1 on query 0 then a harder probe
    assert(rec(2) == 1.0)
    // harder: query 2's true top-1 under full cosine differs from the
    // prefix tie-break winner
    val rec2 = Similarity.matryoshkaRecall(emb, nQueries = 3, k = 1,
        dims = Seq(2, 4)).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Double]("recall_at_k"))
      .toMap
    assert(rec2((4, 2L)) == 1.0)
    assert(rec2((2, 2L)) == 0.0,
      "width-2 prefix cannot rank query 2's tail-space neighbor first")
  }

  test("bitext mining: planted twins dominate the margin ranking") {
    // 12 base vectors, twins planted for ids 0,3,6,9 -> 4 ground-truth
    // "translations"; candidates from the 3x8 sign-LSH bands
    // one moderately-spread cluster: every cross pair is an LSH
    // candidate, so the kNN denominators see real neighborhoods and the
    // ratio margin separates twins (cos ~0.97) from neighbors (~0.9)
    val emb = Seq.tabulate(12) { i =>
      (i.toLong, Array.tabulate(16)(j =>
        (0.5 + 1.5 * math.sin(i * 1.3 + j * 0.7)).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val mined = Similarity.bitextMine(emb, plantMod = 3, nBands = 8,
      bitsPerBand = 4, k = 4, topM = 30).collect()
    assert(mined.nonEmpty)
    val planted = mined.filter(_.getAs[Boolean]("is_planted"))
    assert(planted.length == 4, s"all 4 planted twins mined: ${mined.length}")
    // margin is a RATIO score: every planted pair sits above the ~1000
    // neighborhood-average line
    val minPlanted = planted.map(_.getAs[Long]("margin_milli")).min
    assert(minPlanted > 1000L, s"planted margin $minPlanted")
    // aggregate dominance: the planted pairs average a higher margin than
    // the non-planted candidates (strict per-pair dominance is not a
    // property of the criterion — a near-parallel non-twin neighbor with
    // a sparse candidate neighborhood can legitimately outrank one twin)
    val others = mined.filterNot(_.getAs[Boolean]("is_planted"))
      .map(_.getAs[Long]("margin_milli"))
    if (others.nonEmpty) {
      val mp = planted.map(_.getAs[Long]("margin_milli")).sum.toDouble / 4
      val mo = others.sum.toDouble / others.length
      assert(mp > mo, s"planted mean $mp vs non-planted mean $mo")
    }
  }
}
