package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.Repurpose
import graft.queries.{AnalyticsQueries, CurationQueries, DedupQueries, GraphQlQueries, KgQueries, MediaQueries, Q, RelationalQueries, SelfCheck, StorageQueries, StreamingQueries, TextQueries, VectorQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator row of SURVEY.md §2 (plus the north-star LLM-data-
  * pipeline extensions) is one [[graft.queries.Q]] record: its name,
  * its Spark query and its DuckDB oracle twin with IDENTICAL column
  * names and ordering, written side by side in the family file under
  * `graft/queries/`. `queries` and `oracleSql` are views of that one
  * record list, so a row cannot have an oracle without a query.
  * Sketch/ANN rows carry envelope oracles (the DuckDB-exact side
  * hashed + guarantee verdicts pinned TRUE); the iterative learners
  * re-run their training loops inside DuckDB as unrolled CTE layers.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The §3.1 candidate-drugs algebra: scan + search + threshold
    * filter + two fan-out joins + anti-join + dedup in one DAG.
    */
  def entry(spark: SparkSession): DataFrame =
    // HOUSEHOLD is the segment with candidates at sf0.001 (BUILDING's
    // candidate set is empty at that scale; q22 uses it at sf0.01+).
    Repurpose.candidateParts(spark, "/root/testdata/sf0.001", segment = "HOUSEHOLD")

  /** Every registered query, one record each, grouped by family. */
  val records: Seq[Q] =
    RelationalQueries.all ++ KgQueries.all ++ GraphQlQueries.all ++
      TextQueries.all ++ CurationQueries.all ++ DedupQueries.all ++
      VectorQueries.all ++ StreamingQueries.all ++ AnalyticsQueries.all ++
      MediaQueries.all ++ StorageQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    records.map(q => q.name -> q.oracle).toMap

  /** Evidence trail of every in-query invariant this JVM has run —
    * (check key, passed, measured values, error). Verify serializes it
    * to `invariants.json` so CORRECTNESS consumers can distinguish
    * "unverifiable by DuckDB" from "unverified".
    */
  def invariantEvidence: Seq[(String, Boolean, String, String)] =
    SelfCheck.evidence.map(e =>
      (e.key, e.passed, e.measured.mkString("; "), e.error.getOrElse("")))
}
