package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named operator of the engine's query surface.
  *
  * @param fn     Spark implementation: (session, fixture dir) => result
  * @param oracle equivalent DuckDB SQL over the same parquet tables
  *               (None for ops not expressible in portable SQL — those get
  *               the driver's weaker rows-only check plus ScalaTest specs).
  *               Built on first use, not at registration: an oracle that
  *               needs an input (g12's needs the DDL script) fails only
  *               where it is read, never the registry's initialisation.
  * @param memo   true when repeat invocations serve a per-(session, dir)
  *               memoized / cross-run-artifact RESULT (or equivalently a
  *               one-shot stream execution) — i.e. the query's WARM bench
  *               number measures a readout, not the pipeline. Bench emits
  *               the flag into bench_detail.json and tools/benchcmp.py
  *               grades the flagged queries' COLD (= honest build) for
  *               regressions, so a memoized build path can never hide
  *               behind a 0.05 s warm (round-15 verdict #2).
  *
  * Contract (see SparkEntry): result column names match the oracle's
  * aliases exactly; every query ends in a deterministic total ORDER BY;
  * derived floats go through exact decimal arithmetic and a single final
  * cast so both engines produce bit-identical values.
  */
final class QueryDef(
    val fn: (SparkSession, String) => DataFrame,
    buildOracle: => Option[String],
    val memo: Boolean) {
  lazy val oracle: Option[String] = buildOracle

  def withMemo(m: Boolean): QueryDef = new QueryDef(fn, oracle, m)
}

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: => Option[String]): QueryDef =
    new QueryDef(fn, oracle, false)

  def apply(fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    new QueryDef(fn, Some(oracle), false)

  def apply(fn: (SparkSession, String) => DataFrame, oracle: String,
      memo: Boolean): QueryDef =
    new QueryDef(fn, Some(oracle), memo)
}
