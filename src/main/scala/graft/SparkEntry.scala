package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog._

/** Driver contract — see SURVEY.md §7. The queries and their DuckDB
  * oracles are the rows of the families under `graft/catalog/`; this
  * object only names the families and derives the two maps the drivers
  * read. Every row covers one operator or capability from SURVEY.md §2
  * (the reference's SPJU surface, `RPC/RPC/RPC.cs:20-28`) or §2.7/§7.2
  * (the extended surface). */
object SparkEntry {

  /** Flagship query on sf=0.001 — the reference's headline shape
    * (SPJ over fragmented tables, `QueryService.asmx.cs:51-89`) extended
    * with aggregation, run through the Engine facade so plan JSON +
    * statistics are exercised too. */
  def entry(spark: SparkSession): DataFrame = {
    val eng = new Engine(spark, "/root/testdata/sf0.001")
    eng.query(
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |       sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0D
        |         AS total_price
        |FROM customer_f c JOIN orders_f o ON c.c_custkey = o.o_custkey
        |WHERE c.c_acctbal > 0
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin).df
  }

  /** Every family's rows, in declaration order. */
  private[graft] lazy val rows: Seq[Query] =
    Seq(ParityQueries, SqlQueries, TpchQueries, AnalyticsQueries,
      SourceQueries, TextQueries, DedupQueries, SimilarityQueries,
      GraphQueries, StreamQueries).flatMap(_.rows)

  /** Each query's builder, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  /** Each query's DuckDB oracle, by name, built now. A model-capturing
    * query that has not run yet has no entry. */
  def oracleSql: Map[String, String] =
    rows.flatMap(r => r.oracleSql.map(r.name -> _)).toMap
}
