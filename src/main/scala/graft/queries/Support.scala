package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.KnowledgeGraph
import graft.operators.{Artifact, Dedup}

/** Fixtures, persisted corpus artifacts and expression helpers that
  * more than one query family reads. A helper one family alone uses
  * lives in that family's object, next to its records.
  */
private[graft] object Support {

  def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Derived on-disk artifacts (CSV checkpoint, endpoint shards, IVF
    * index) live in tmpdir under a tag of the SOURCE table's size and
    * mtime, so regenerated testdata or two dirs with colliding
    * hashCodes can never serve stale or cross-wired fixtures — the
    * path changes with the data and the artifact is rebuilt.
    */
  def fixturePath(prefix: String, dir: String, sourceTables: String*): String = {
    def stat(f: java.io.File): (Long, Long) =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty).map(stat)
        (kids.map(_._1).sum, (f.lastModified() +: kids.map(_._2)).max)
      } else (f.length(), f.lastModified())
    // fold EVERY source table into the tag: an artifact built from
    // three tables keyed on one would survive regeneration of the
    // other two and serve stale rows against a fresh oracle
    val tag0 = sourceTables.foldLeft(dir.hashCode.toLong << 32) { (acc, tbl) =>
      val (len, mtime) = stat(new java.io.File(dir, s"$tbl.parquet"))
      (acc * 1000003L) ^ (len * 1000003L) ^ mtime
    }
    val tag = java.lang.Long.toHexString(tag0)
    val tmpdir = System.getProperty("java.io.tmpdir")
    val path = s"$tmpdir/graft_${prefix}_$tag"
    // Retention: regenerated source data changes the tag, stranding
    // the previous generation's directories forever (the round-6
    // audit found three full generations under /tmp). Every path this
    // process has handed out stays protected; any OTHER same-family
    // dir that has also been mtime-quiet for the sweep window is a
    // superseded generation — reclaim it. Deterministic artifacts
    // make a mistaken delete self-healing (the next ensure rebuilds).
    val live = Option(liveFixtures.putIfAbsent(prefix,
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()))
      .getOrElse(liveFixtures.get(prefix))
    live.add(path)
    import scala.jdk.CollectionConverters._
    Artifact.sweep(tmpdir, s"graft_${prefix}_", live.asScala.toSet)
    path
  }

  /** Every fixture path handed out by this JVM, per family prefix —
    * the sweep's keep-set, so concurrently-used corpora (the bench
    * warms sf0.001 then times sf0.1) never reclaim each other.
    */
  private val liveFixtures =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.Set[String]]()

  /** THE pinned shingle width for the whole n-gram jaccard family:
    * one constant threads through the ensureShingleSets build AND
    * every consumer. Dedup additionally enforces the width at runtime
    * (field metadata on the relation + a parameter sidecar on the
    * persisted artifact — see the contract on Dedup.jaccardPairs), so
    * a drifted constant would throw rather than corrupt results.
    */
  val JaccardShingleN = 3

  /** Shared hashed-shingle relation (id, sh) for the n-gram family:
    * q30's pair join, the q69/q90/q125 label build, and both
    * decontamination consumers (q65, q125) all read ONE persisted
    * shingling of the corpus instead of re-tokenizing it per query —
    * the first checkpoint a 100 TB text pipeline would materialize.
    * n is pinned to 3 here so every consumer shares the same artifact.
    */
  def sharedShingles(s: SparkSession, dir: String): DataFrame =
    Dedup.ensureShingleSets(t(s, dir).documents, "doc_id", "text",
      n = JaccardShingleN, fixturePath("shingles", dir, "documents"))

  /** Shared jaccard-cluster label relation for the dedup family (q69
    * reports it, q90 prunes with it): built once per input dir via the
    * persisted-artifact path, so the expensive prefix-join + connected
    * components runs a single time per corpus instead of once per
    * consumer. Parameters are pinned here so every consumer sees the
    * same relation.
    */
  def jaccardLabels(s: SparkSession, dir: String): DataFrame =
    Dedup.ensureClusterLabels(t(s, dir).documents, "doc_id", "text",
      n = JaccardShingleN, threshold = 0.6, maxShingleFreq = Long.MaxValue,
      fixturePath("jacclabels", dir, "documents"),
      shingles = Some(sharedShingles(s, dir)))

  /** Persisted exact-pair relation at the corpus's standard dedup
    * threshold — standing pipeline state like the shingle and label
    * artifacts, shared by every consumer that KEYS on the exact pair
    * set (q31's envelope, q183's oracle side, q191's batch fold).
    * q30 deliberately does NOT read it: that row benches the live
    * PPJoin that BUILDS this artifact.
    */
  def sharedPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ensureJaccardPairs(t(s, dir).documents, "doc_id", "text",
      n = JaccardShingleN, threshold = 0.6, maxShingleFreq = Long.MaxValue,
      fixturePath("jacpairs", dir, "documents"),
      shingles = Some(sharedShingles(s, dir)))

  /** KG whose association edges read the per-corpus persisted index
    * (the reference server's own shape: scores are precomputed by an
    * ETL, the API scans them) — shared by every KG query.
    */
  def kgIndexed(s: SparkSession, dir: String): KnowledgeGraph =
    KnowledgeGraph(s, dir,
      fixturePath("kgidx", dir, "lineitem", "orders", "customer"))

  /** One-row (subset_of_exact, recall_ok) verdict over pair relations
    * keyed (id_a, id_b): `got` emits nothing outside `exKeys` and
    * recovers at least `floor` of it (vacuously true on an empty
    * exact set). Plan-fused — the envelope oracles pin these booleans
    * TRUE, so the check must ride the query, never a count-require
    * job. Shared by the near-dup envelopes (q31, q199).
    */
  def subsetRecallVerdict(got: DataFrame, exKeys: DataFrame,
                                  floor: Double): DataFrame =
    got.join(exKeys, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__fp"))
      .crossJoin(got.join(exKeys, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__hit")))
      .crossJoin(exKeys.agg(count(lit(1)).as("__n")))
      .select((col("__fp") === 0L).as("subset_of_exact"),
        (col("__n") === 0L || col("__hit") >= col("__n") * floor)
          .as("recall_ok"))

  /** Materialize a multi-consumer relation once, passing through when
    * an EQUIVALENT plan is already cached (`storageLevel` consults the
    * CacheManager with plan matching): the no-op re-persist logs a
    * `CacheManager: Asked to cache already cached data` WARN per call,
    * and the bench tail is pinned WARN-free (ProbeWarnScan machine-
    * checks it). The collision is real, not hypothetical — the
    * SelfCheck fixture blocks run against [[SelfCheck.FixtureDir]]
    * (sf0.001), so any run AT sf0.001 sees the main body re-derive
    * plans the fixture block already cached.
    */
  def materializedOnce(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }

  /** Order-independent money sum: casting each term to DECIMAL before
    * summing makes the aggregate exact (no fp accumulation), so Spark's
    * parallel sum and DuckDB's sequential sum agree bit-for-bit at the
    * round(2) boundary. The oracle twin is
    * `CAST(round(sum(CAST(x AS DECIMAL(18,4))),2) AS DOUBLE)`.
    */
  def moneySum(term: Column): Column =
    round(sum(term.cast("decimal(18,4)")), 2).cast("double")

  /** q200's dictionary: shared between the Spark query and the
    * oracle text (both sides must list patterns identically).
    */
  val DictPatterns = Seq(
    "data", "data data", "the join", "spark", "query query", "window scan")

  /** The binary two-stage serve replayed (thresholds + bits + Hamming
    * cut + cosine re-rank) — shared by q217 (ad-hoc), q218 (persisted
    * index, spec-pinned bit-identical) and q225 (the streamed code
    * table, bit-identical under the same frozen thresholds).
    */
  val SqlBinaryTwoStage =
    """WITH d AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         t AS (SELECT dim, (min(x) + max(x)) / 2 AS thr FROM d GROUP BY dim),
         b AS (SELECT vec_id, d.dim,
                 CASE WHEN x > thr THEN 1 ELSE 0 END AS bit
               FROM d JOIN t ON d.dim = t.dim),
         q AS (SELECT dim, bit AS qb FROM b WHERE vec_id = 0),
         h AS (SELECT b.vec_id,
                 CAST(sum(CASE WHEN b.bit <> q.qb THEN 1 ELSE 0 END) AS BIGINT)
                   AS hamming
               FROM b JOIN q ON b.dim = q.dim
               WHERE b.vec_id <> 0
               GROUP BY b.vec_id
               ORDER BY hamming ASC, b.vec_id LIMIT 50),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT h.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(qv.qe AS DOUBLE[])), 6) AS cosine,
           h.hamming
         FROM h JOIN embeddings e ON e.vec_id = h.vec_id CROSS JOIN qv
         ORDER BY cosine DESC, h.vec_id LIMIT 10"""

  /** SQ8 top-k replayed bit-exactly (quantization + integer dot) —
    * shared by q197 (the persisted batch index) and q212 (the
    * streamed code table, bit-identical under the same frozen
    * scales).
    */
  val SqlSq8TopK =
    """WITH d AS (
         SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings),
       m AS (SELECT dim, max(abs(x)) AS mx FROM d GROUP BY dim),
       c AS (
         SELECT vec_id, d.dim,
           CASE WHEN mx > 0 THEN CAST(round(x * 127.0 / mx) AS BIGINT)
                ELSE 0 END AS code
         FROM d JOIN m ON d.dim = m.dim),
       q AS (SELECT dim, code AS qc FROM c WHERE vec_id = 0)
       SELECT c.vec_id, CAST(sum(c.code * q.qc) AS BIGINT) AS qscore
       FROM c JOIN q ON c.dim = q.dim
       WHERE c.vec_id <> 0
       GROUP BY c.vec_id
       ORDER BY qscore DESC, c.vec_id LIMIT 10"""

  /** Near-dup envelope: the exact Jaccard >= 0.6 pair relation (q30's)
    * with the LSH verdicts pinned TRUE — shared by q31 (batch MinHash)
    * and q199 (streamed near-dup maintenance).
    */
  val SqlNearDupEnvelope =
    """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g AND l.doc_id < r.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(s) AS n FROM sh)
         SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard,
           TRUE AS subset_of_exact, TRUE AS recall_ok
         FROM inter
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
         ORDER BY id_a, id_b"""

  /** BM25 top-10 for the fixed three-term query — shared by q137
    * (scored in-query), q194 (appended index) and q195 (streamed
    * index). Fractional literals carry e0 so DuckDB types them DOUBLE
    * (bare 2.2 is DECIMAL, and tf*DECIMAL is exact decimal math — NOT
    * the IEEE product Spark computes); the fixed-point floors then
    * make both engines' sums exact integer math.
    */
  val SqlBm25TopK =
    """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         post AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         stats AS (SELECT count(*) AS nd,
             CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
         idf AS (SELECT term, avgdl,
             CAST(floor(ln((nd - df + 0.5e0)/(df + 0.5e0) + 1.0e0)*1e4 + 0.5e0)
               AS BIGINT) AS idf4
           FROM (SELECT term, count(*) AS df FROM post
                 WHERE term IN ('dup','spark','window') GROUP BY 1)
           CROSS JOIN stats),
         contrib AS (
           SELECT p.doc_id,
             i.idf4 * CAST(floor(p.tf*2.2e0/(p.tf + 1.2e0*(0.25e0 + 0.75e0*d.dl/i.avgdl))
               *1e6 + 0.5e0) AS BIGINT) AS c
           FROM post p JOIN dl d USING (doc_id) JOIN idf i USING (term)
           WHERE p.term IN ('dup','spark','window'))
         SELECT doc_id, count(*) AS n_terms, CAST(sum(c) AS DOUBLE)/1e10 AS bm25
         FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""

  /** Hourly event counts and money sums — shared by q20 (batch) and
    * q131 (its streamed twin: a tumbling hour window starts at
    * date_trunc hour).
    */
  val SqlHourlyEvents =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         event_type, count(*) AS n,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type"""
}
