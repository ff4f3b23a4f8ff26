package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked gate: `build` runs an operator over the parquet
  * tables in a testdata dir, and `oracleSql` is the DuckDB SQL that must
  * return the same rows over the same tables. Cross-engine determinism
  * rules used throughout:
  *  - sums/avgs over doubles go through DECIMAL(18,6) (compact-long
  *    Decimal path; DuckDB side uses DECIMAL(38,6) — both exact):
  *    integer arithmetic independent of partitioning / addition order;
  *    final CAST to DOUBLE is correctly rounded in both engines →
  *    bit-identical values;
  *  - `events.ts` is nanosecond parquet (Spark truncates to micros,
  *    DuckDB keeps ns) → compared as epoch milliseconds;
  *  - every computed column is explicitly aliased identically in the
  *    Spark plan and the oracle SQL.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)
