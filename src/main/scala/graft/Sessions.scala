package graft

import org.apache.spark.sql.SparkSession

/** The engine's tuned SparkSession posture — ONE place both driver
  * mains (Bench, Verify) and any library consumer apply it from, so
  * the measured configuration is the ENGINE's, not a harness local
  * (round-17 verdict: a consumer building its own session silently
  * lost the cached-plan coalescing win when the flag lived only in
  * the mains).
  */
object Sessions {

  /** Apply the engine defaults to a builder. Every entry is
    * scale-adaptive or scale-neutral — nothing here is tuned to the
    * bench host's core count:
    *
    *  - `spark.sql.adaptive.enabled`: AQE on (default since 3.2,
    *    pinned for clarity) — partition coalescing and skew handling
    *    derive widths from runtime sizes.
    *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`:
    *    AQE may re-coalesce plans that feed a cache. Multi-consumer
    *    persisted relations (materializedOnce, incremental-dedup
    *    probe sides) otherwise pin the session shuffle width into the
    *    cache and every downstream job launches session-width
    *    near-empty tasks over a tiny cached relation. Scale-neutral:
    *    at 100 TB cached relations are large and AQE's advisory size
    *    keeps them wide. (The r15 measurement that rejected this flag
    *    predates the generation-write sizing in StreamOps — it was
    *    re-measured as a win in round 17; see OPTIMIZATION_r17.md.)
    *    Fixed on; an A/B probe overrides the key on its own
    *    `SparkSession.Builder` after `tuned`.
    *  - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet has
    *    shipped as TIMESTAMP(NANOS) in some generations; keep the
    *    nanos form readable (Tables.events normalizes every encoding
    *    variant to TimestampType).
    *  - `spark.cleaner.periodicGC.interval=60s`: the ContextCleaner
    *    frees broadcast/checkpoint blocks only when the driver GCs;
    *    the 30 min default is longer than a whole bench run, so
    *    hundreds of query executions' broadcasts otherwise pile up in
    *    unified memory and late queries pay the eviction storm. At
    *    cluster scale a long-lived driver wants the same bound.
    *
    * Codegen-cache posture. A serving driver answers a loop of small
    * parameterized requests, so its floor is per-query set-up, not
    * data. A Janino compile costs ~12 ms on a 4-core host, and each
    * plan shape should pay it once per process, not once per request
    * or trigger:
    *
    *  - `spark.sql.artifact.isolation.enabled=false`: Spark's codegen
    *    cache is keyed on (context classloader, generated source).
    *    With isolation on, every streaming query runs on a cloned
    *    session with a fresh session UUID, executors build a fresh
    *    classloader per UUID, and each `Trigger.AvailableNow` run
    *    recompiles source it has already compiled. Isolation exists
    *    to give each session its own added JARs and files (Spark
    *    Connect clients); graft adds no per-session artifacts, so
    *    turning it off loses nothing and makes the cache hit.
    *    StreamOpsSpec pins it: a second AvailableNow run over a batch
    *    of the same shape compiles no class.
    *  - `spark.sql.codegen.cache.maxEntries=1000`: the 100-entry
    *    default is smaller than one serving working set. A
    *    perfbench `kg_lookup` run (GraphQL, ClientApi and star-join
    *    requests over the KG index) needs ~195 keys — 141 distinct
    *    bodies, whole-stage classes counted once under the driver's
    *    loader and once under the executor's — so the default
    *    churns and recompiles ~12 classes per request. 1000 holds
    *    five such working sets; an entry (generated class plus its
    *    loader and bytecode stats) costs ~40 KB of heap, so a full
    *    cache is ~40 MB. The cache is JVM-wide and sized when the
    *    first class compiles, so the setting counts only if the
    *    process's first session carries it.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.cleaner.periodicGC.interval", "60s")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "1000")
}
