package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One catalog row: a query's name, the builder that plans it over a
  * corpus directory, and the DuckDB oracle its rows are checked
  * against (same tables, same column names, same total order). The
  * family object a row is declared in is its family.
  *
  * Determinism rules every row follows, so that Spark and DuckDB
  * hash-match:
  *  - every query ends in a total-order ORDER BY (unique key included);
  *  - no raw double SUM/AVG over non-integral values: per-row values are
  *    scaled to integer cents/micros with ROUND (per-row IEEE ops are
  *    identical in both engines), summed exactly as BIGINT, and divided
  *    once at the end;
  *  - oracle aggregate types are CAST to Spark's output types
  *    (DuckDB sum(BIGINT) is HUGEINT, count/length are BIGINT, ...).
  */
final class Query private[catalog] (
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracle: () => Option[String],
    /** Whether the oracle embeds a model the builder trains. */
    val captured: Boolean) {

  /** The oracle text, built when asked for. A model-capturing row has
    * none until its builder has run. */
  def oracleSql: Option[String] = oracle()
}

object Query {

  /** Where a model-capturing builder records its oracle: the oracle
    * embeds the model (IVF centroids, PQ codebooks, k-means centroids,
    * logistic coefficients) that the latest run trained. `Verify` runs
    * every query before it reads the oracles, so each oracle embeds
    * exactly the model its run used. Volatile because `Verify` runs
    * queries on several threads. */
  final class Capture private[catalog] () {
    @volatile private var latest: Option[() => String] = None
    def apply(oracle: => String): Unit = latest = Some(() => oracle)
    private[catalog] def sql: Option[String] = latest.map(_())
  }
}

/** A family of catalog rows. A family object declares its rows in its
  * body, the way a test suite declares its tests:
  *
  * {{{
  *   query(name) { (s, dir) =>
  *     Tables.load(s, dir, "lineitem").filter(...)
  *   }.oracle(
  *     """SELECT ... FROM lineitem WHERE ...""")
  * }}}
  *
  * `captured` declares a row whose oracle embeds the model its run
  * trained. A family references only [[Shared]], never another family,
  * so families can initialize on different threads without waiting on
  * each other. */
abstract class Family {
  private val declared = ArrayBuffer.empty[Query]

  /** The rows in declaration order. */
  final lazy val rows: Seq[Query] = declared.toVector

  protected final def query(name: String)(
      build: (SparkSession, String) => DataFrame): Declared =
    new Declared(name, build)

  protected final class Declared private[Family] (name: String,
      build: (SparkSession, String) => DataFrame) {
    /** Declares the row; `sql` is built each time the oracle is read. */
    def oracle(sql: => String): Unit =
      declared += new Query(name, build, () => Some(sql), captured = false)
  }

  protected final def captured(name: String)(
      build: (SparkSession, String, Query.Capture) => DataFrame): Unit = {
    val capture = new Query.Capture
    declared += new Query(name, (s, dir) => build(s, dir, capture),
      () => capture.sql, captured = true)
  }
}
