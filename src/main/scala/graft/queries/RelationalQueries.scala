package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Partitioning.readTable

/** Relational coverage over the TPC-H-ish tables: multi-way joins with
  * broadcast dims, anti/semi joins, group-top-k. Money sums are computed in
  * exact integer cents so DuckDB parity is bitwise. */
object RelationalQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 3-way join + aggregation (Q3-flavor): revenue per order for a segment
    "q3_join" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("rev_micros",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000)
            .cast("long"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("rev_micros")).as("revenue_micros"),
          count(lit(1)).as("n_items"))
    }),

    // anti join: customers with no open ('O') orders (change-list
    // delete-side shape, Crawler.cpp:956-997)
    "anti_join" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderstatus") === "O")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    }),

    // group-top-k via rank window: 3 priciest parts per brand
    "topk_window" -> ((s, dir) => {
      val part = s.read.parquet(s"$dir/part.parquet")
        .withColumn("price_cents", round(col("p_retailprice") * 100).cast("long"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("price_cents").desc, col("p_partkey").asc)
      part.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("p_brand"), col("rnk"), col("p_partkey"), col("price_cents"))
    }),

    // path/string normalization (SqliteSampleDescriptorPool.cpp:1164-1210):
    // separator rewrite, base-strip (storage form), base-prepend (resolve
    // form) over synthesized per-doc paths — exact string ops, bitwise
    "path_norm" -> ((s, dir) => {
      import graft.sources.{Paths => P}
      val docs = readTable(s, dir, "documents")
      val raw = concat(lit("C:\\corpus\\"), col("source"), lit("\\d"),
        lpad(col("doc_id").cast("string"), 6, "0"), lit(".tok"))
      docs.select(col("doc_id"),
        raw.as("raw_path"),
        P.relativePath(raw, "C:/corpus/").as("rel_path"),
        P.absPath(P.relativePath(raw, "C:/corpus/"), "/data/corpus/")
          .as("abs_path"))
    }),

    // broadcast dim chain: nation -> region rollup of supplier balances
    "dim_rollup" -> ((s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .withColumn("bal_cents", round(col("s_acctbal") * 100).cast("long"))
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
      sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("bal_cents")).as("total_bal_cents"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q3_join" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000)
        |    AS BIGINT)) AS BIGINT) AS revenue_micros,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey""".stripMargin,

    "anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin,

    "topk_window" ->
      """WITH p AS (
        |  SELECT *, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        |  FROM part)
        |SELECT p_brand, CAST(rnk AS INTEGER) AS rnk, p_partkey, price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |        ORDER BY price_cents DESC, p_partkey ASC) AS rnk FROM p)
        |WHERE rnk <= 3""".stripMargin,

    "path_norm" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'C:' || chr(92) || 'corpus' || chr(92) || source || chr(92)
        |      || 'd' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.tok' AS raw_path
        |  FROM documents),
        |n AS (SELECT doc_id, raw_path,
        |             replace(raw_path, chr(92), '/') AS norm FROM p),
        |r AS (SELECT doc_id, raw_path,
        |        CASE WHEN starts_with(norm, 'C:/corpus/')
        |             THEN substring(norm, len('C:/corpus/') + 1)
        |             ELSE norm END AS rel_path
        |      FROM n)
        |SELECT doc_id, raw_path, rel_path,
        |  CASE WHEN starts_with(rel_path, '/data/corpus/') THEN rel_path
        |       ELSE '/data/corpus/' || rel_path END AS abs_path
        |FROM r""".stripMargin,

    "dim_rollup" ->
      """SELECT r_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS total_bal_cents
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin
  )
}
