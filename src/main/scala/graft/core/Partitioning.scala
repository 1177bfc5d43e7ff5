package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Partitioning utilities — the explicit partition/shuffle/skew decisions
  * the north rule calls out.
  *
  * [[balance]]: CPU-heavy narrow pipelines need at least as many input
  * splits as cores. The sandbox parquet files are single row groups (one
  * split), which would serialize per-row kernels onto one core; a real
  * 10^12-row table has thousands of splits and skips this. The exchange
  * moves only the small pre-expansion rows.
  *
  * [[saltKey]]: composite key for skew-prone aggregations — append a salt
  * derived from a secondary column so one hot key (e.g. a dominant
  * `source`) spreads over `buckets` reducers; aggregate per (key, salt)
  * then re-aggregate per key (two-stage combine). AQE's skew-join split
  * covers joins; this covers hot groupBy keys.
  */
object Partitioning {

  def balance(df: DataFrame, key: String): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    // Split-count estimate WITHOUT forcing an RDD conversion (df.rdd plans
    // the whole query per call): file count is a lower bound on scan splits
    // (Spark splits large files further by maxPartitionBytes, so a table
    // with >= `parts` files never repartitions here — the real-scale path).
    // inputFiles is EMPTY for non-file-backed plans (in-memory test frames,
    // frames whose scan the estimator can't trace) — there the heuristic is
    // uninformative, so leave the frame alone rather than force an exchange
    // the old getNumPartitions check would have skipped.
    val estSplits = df.inputFiles.length
    if (estSplits > 0 && estSplits < parts) df.repartition(parts, col(key))
    else df
  }

  /** Balanced parquet read of one testdata table. */
  def readBalanced(spark: SparkSession, dir: String, table: String,
                   key: String): DataFrame =
    balance(readTable(spark, dir, table), key)

  /** `dir/table.parquet` read with [[footerSchema]]: building the frame
    * starts no Spark job (parquet schema inference is one job per read). */
  def readTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers with `mergeSchema` off,
    * read on the driver from the one footer inference reads: the file at
    * `path`, or the first data file of a flat directory in path order
    * (names starting `_` or `.` skipped). It is converted as inference
    * converts it: Spark's row-metadata key if present, else
    * `ParquetToSparkSchemaConverter`. None where inference reads more
    * than one footer or adds partition columns: a directory with a
    * `_common_metadata` summary or with subdirectories. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val top = fs.getFileStatus(root)
    val file =
      if (!top.isDirectory) Some(top)
      else {
        val entries = fs.listStatus(root)
        if (entries.exists(e => e.isDirectory ||
            e.getPath.getName == "_common_metadata")) None
        else entries.filter { e =>
          val n = e.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
        }.sortBy(_.getPath.toString).headOption
      }
    file.map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Salt expression: `pmod(hash(saltCol), buckets)`. */
  def saltKey(saltCol: String, buckets: Int) =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(col(saltCol)),
      org.apache.spark.sql.functions.lit(buckets))

  /** Two-stage salted aggregation for a skew-prone `collect_list`-class
    * agg (one where map-side partial aggregation does NOT bound reducer
    * state — counts/sums don't need this, Spark combines them map-side):
    * stage 1 aggregates per (key, salt) so a hot key spreads over
    * `buckets` reducers; stage 2 merges the per-salt partials per key.
    * `partial` and `merge` must be associative-compatible
    * (merge ∘ partial == direct agg — OpsSpec pins the equivalence). */
  def saltedAgg(df: DataFrame, key: String, saltCol: String, buckets: Int,
                partial: Seq[org.apache.spark.sql.Column],
                merge: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("__salt", saltKey(saltCol, buckets))
      .groupBy(col(key), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col(key))
      .agg(merge.head, merge.tail: _*)

  /** Bucketed persistent write: pre-shuffles ONCE at write time so every
    * later equi-join or aggregation on `key` against a co-bucketed table
    * runs with ZERO exchange — the standing-layout answer to the north
    * rule's repeated feature↔probe joins (Iceberg: a `bucket(N, key)`
    * partition transform; no Iceberg jars in this sandbox, so the same
    * contract via the session catalog's bucketed parquet). At 100 TB the
    * one-time write shuffle is amortized over every downstream run that
    * would otherwise re-shuffle both sides. `sortBy(key)` additionally
    * lets sort-merge joins skip the per-task sort when Spark can prove
    * per-bucket file order. Both tables MUST use the same `buckets` count
    * (bucket alignment is what removes the exchange; PartitioningSpec
    * pins the exchange-free plan). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Equi-join of two co-bucketed catalog tables on `key` — plans as a
    * sort-merge join with NO ShuffleExchange on either side. */
  def bucketedJoin(spark: SparkSession, tableA: String, tableB: String,
                   key: String): DataFrame =
    spark.table(tableA).join(spark.table(tableB), Seq(key))

  /** Key-skew diagnostics: the top-`topK` hottest values of `key` with
    * their row counts and skew factor (count ÷ mean count per key) — the
    * report an operator reads BEFORE choosing [[saltKey]] buckets or
    * trusting AQE's skew split (a skew factor near the reducer count
    * means one task carries a reducer's worth of a single key).
    *
    * Scale shape: one count exchange with map-side partials (the same
    * shuffle the skewed job itself would run — measuring costs nothing
    * extra), a TakeOrdered top-k (no global sort materialization), and a
    * 1-row broadcast of the totals. Skew = one IEEE divide of exact
    * int64s (`n_rows · n_keys / total_rows`) — bitwise across engines. */
  def skewReport(df: DataFrame, key: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum(col("n_rows")).as("total_rows"),
      count(lit(1)).cast("long").as("n_keys"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_rows").desc, col(key).asc)
    counts.orderBy(col("n_rows").desc, col(key).asc).limit(topK)
      .withColumn("rank", row_number().over(w).cast("int"))
      .crossJoin(broadcast(totals))
      .select(col("rank"), col(key), col("n_rows"), col("total_rows"),
        col("n_keys"),
        ((col("n_rows") * col("n_keys")).cast("double") /
          col("total_rows").cast("double")).as("skew"))
  }

  /** DuckDB mirror of [[skewReport]] over catalog table `table`. */
  def duckSkewSql(table: String, key: String, topK: Int): String =
    s"""WITH c AS (
       |  SELECT $key, count(*) AS n_rows FROM $table GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
       |    CAST(count(*) AS BIGINT) AS n_keys FROM c)
       |SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, $key)
       |    AS INTEGER) AS rank,
       |  $key, CAST(n_rows AS BIGINT) AS n_rows, total_rows, n_keys,
       |  CAST(n_rows * n_keys AS DOUBLE) / CAST(total_rows AS DOUBLE)
       |    AS skew
       |FROM c CROSS JOIN t
       |ORDER BY n_rows DESC, $key LIMIT $topK""".stripMargin

  /** The ONE argmax-shard CASE fragment shared by [[rendezvousReport]]
    * and its Duck mirror: smallest shard id whose weight equals the
    * running maximum (weights are 32-bit md5 prefixes — ties are
    * astronomically unlikely but the rule is still total). `w` maps a
    * shard id to its weight COLUMN name (weights are projected once —
    * the CASE never recomputes a hash). */
  private def shardArgmax(n: Int, w: Int => String): String = {
    val gmax = (0 until n).map(w).mkString("greatest(", ", ", ")")
    (0 until n).map(s => s"WHEN ${w(s)} = $gmax THEN $s")
      .mkString("CASE ", " ", " END")
  }

  /** Rendezvous / highest-random-weight sharding report (Thaler &
    * Ravishankar 1998 — the consistent-hashing scheme behind Iceberg
    * commit fan-out, cache rings, and shard routers): every key goes to
    * the shard with the highest hash weight `h(key, shard)`, so adding a
    * shard moves ONLY the keys whose new weight wins — an expected
    * `1/(n+1)` of the corpus, against `n/(n+1)` for mod-n assignment.
    * This report measures exactly that on the real key set: per-shard
    * counts under `n` and `n+1` shards plus the moved-key mass, the
    * re-layout cost estimate read BEFORE growing a bucketed table's
    * bucket count ([[writeBucketed]]).
    *
    * Exactness/scale: weights are 32-bit md5-prefix integers (the
    * [[graft.ops.Sampling.md5Slot]] convention, no modulus); both
    * assignments come from ONE narrow projection (n+2 hash columns, no
    * HOF, no explode — the n+1 assignment reuses the n-shard running max:
    * a key moves iff the NEW shard's weight strictly beats it, the HRW
    * minimal-disruption property in closed form). The only exchange is
    * the (n+1)-row count aggregation with map-side partials. */
  def rendezvousReport(df: DataFrame, key: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nShards >= 2, s"need >= 2 shards, got $nShards")
    def wCol(s: Int) = s"w$s"
    val weights = df.select(
      (0 to nShards).map(s => expr(
        s"CAST(conv(substring(md5(concat(CAST($key AS STRING), '#$s')), 1, 8)," +
          s" 16, 10) AS BIGINT)").as(wCol(s))): _*)
    val gmaxSmall = (0 until nShards).map(wCol)
      .mkString("greatest(", ", ", ")")
    val assigned = weights.selectExpr(
      s"${shardArgmax(nShards, wCol)} AS shard_small",
      s"CASE WHEN ${wCol(nShards)} > $gmaxSmall THEN $nShards" +
        s" ELSE ${shardArgmax(nShards, wCol)} END AS shard_large")
    val small = assigned.groupBy(col("shard_small").as("shard"))
      .agg(count(lit(1)).as("cnt_small"))
    val large = assigned.groupBy(col("shard_large").as("shard"))
      .agg(count(lit(1)).as("cnt_large"))
    val totals = assigned.agg(count(lit(1)).as("total"),
      sum(expr("IF(shard_large <> shard_small, 1L, 0L)")).as("moved"))
    small.join(large, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("cnt_small"), lit(0L)).as("cnt_small"),
        coalesce(col("cnt_large"), lit(0L)).as("cnt_large"))
      .crossJoin(broadcast(totals))
      .selectExpr("shard", "cnt_small", "cnt_large", "total", "moved",
        "CAST(moved AS DOUBLE) / total AS moved_frac")
  }

  /** DuckDB mirror of [[rendezvousReport]] — same md5-prefix weights,
    * the same generated argmax fragment, same full-outer count merge. */
  def duckRendezvousSql(table: String, key: String, nShards: Int): String = {
    def wCol(s: Int) = s"w$s"
    val ws = (0 to nShards).map(s =>
      s"(('0x' || substr(md5(CAST($key AS VARCHAR) || '#$s'), 1, 8))::BIGINT)" +
        s" AS ${wCol(s)}").mkString(",\n    ")
    val gmaxSmall = (0 until nShards).map(wCol)
      .mkString("greatest(", ", ", ")")
    s"""WITH weights AS (
       |  SELECT $ws
       |  FROM $table),
       |assigned AS (
       |  SELECT ${shardArgmax(nShards, wCol)} AS shard_small,
       |    CASE WHEN ${wCol(nShards)} > $gmaxSmall THEN $nShards
       |         ELSE ${shardArgmax(nShards, wCol)} END AS shard_large
       |  FROM weights),
       |small AS (
       |  SELECT shard_small AS shard, count(*) AS cnt_small
       |  FROM assigned GROUP BY 1),
       |large AS (
       |  SELECT shard_large AS shard, count(*) AS cnt_large
       |  FROM assigned GROUP BY 1),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total,
       |    CAST(sum(CASE WHEN shard_large <> shard_small THEN 1 ELSE 0 END)
       |      AS BIGINT) AS moved
       |  FROM assigned)
       |SELECT CAST(coalesce(s.shard, l.shard) AS INTEGER) AS shard,
       |  CAST(coalesce(s.cnt_small, 0) AS BIGINT) AS cnt_small,
       |  CAST(coalesce(l.cnt_large, 0) AS BIGINT) AS cnt_large,
       |  t.total, t.moved,
       |  CAST(t.moved AS DOUBLE) / t.total AS moved_frac
       |FROM small s FULL OUTER JOIN large l ON l.shard = s.shard
       |CROSS JOIN t""".stripMargin
  }
}
