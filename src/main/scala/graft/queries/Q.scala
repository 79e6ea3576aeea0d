package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark side `run(session,
  * dataDir)`, and the DuckDB `oracle` text that recomputes the same
  * rows (identical column names and ordering) over the same parquet
  * directory. Sketch and ANN rows carry envelope oracles: the exact
  * side hashed plus guarantee verdicts pinned TRUE.
  */
final case class Q(name: String, run: (SparkSession, String) => DataFrame,
                   oracle: String)
