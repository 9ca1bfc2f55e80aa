package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: `run` is the Spark implementation of one
  * operator from SURVEY.md §2 (or a training-data-pipeline operator),
  * and `oracle` is the equivalent ANSI SQL that DuckDB runs over the
  * same parquet tables (`graft.Verify` dumps both; `scripts/check.py`
  * compares them).
  *
  * Column-name contract: every computed column is aliased identically in
  * both the Spark plan and the oracle SQL (the compare sorts columns by
  * name before hashing values).
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)
