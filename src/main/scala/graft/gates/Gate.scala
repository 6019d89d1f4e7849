package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a Spark query over a fixture directory, declared next to
  * the DuckDB SQL whose result it must reproduce. The oracle is taken
  * by name and built on first read, so listing or running the queries
  * never builds oracle text.
  *
  * Conventions keeping the result-hash compare robust:
  *  - every computed column is aliased identically in the Spark query and
  *    the oracle SQL (the checker sorts columns by name before hashing);
  *  - floating-point aggregates are `round(..., k)`-ed on BOTH sides so
  *    accumulation-order ulp differences between engines can't flip the
  *    hash;
  *  - per-row results are restricted to a deterministic slice and ordered
  *    by an explicit key;
  *  - oracle outputs are CAST to the Spark result's type (BIGINT/DOUBLE)
  *    so schema compare sees the same shape. */
final class Gate(val name: String,
    val query: (SparkSession, String) => DataFrame, oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object Gate {
  def apply(name: String)(query: (SparkSession, String) => DataFrame)(
      oracle: => String): Gate = new Gate(name, query, oracle)

  /** The gates keyed by name. A repeated name is rejected: in a map
    * literal the later entry would silently replace the earlier gate. */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate name(s): ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
