package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Artifact, InvertedIndex, Quality, Upsert}
import graft.sources.{CsvIO, JsonlIO}

import Support._

/** Storage and table maintenance: format round-trips, manifests,
  * schema evolution, snapshot merge, CDC, SCD-2, compaction and table
  * profiling.
  */
private[graft] object StorageQueries {

  /** Per-source document count and character sum, recomputed from the
    * parquet source — shared by the JSONL (q97) and ORC (q224)
    * round-trips.
    */
  private val SqlSourceChars =
    """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE n_chars > 200
         GROUP BY source ORDER BY source"""

  val all: Seq[Q] = Seq(
    // ---------------- S6/S7 CSV checkpoint round-trip ----------------
    // The reference checkpoints every step to CSV and reloads it
    // (reference x2.2.py:361-405). Write a real step with
    // CsvIO, read it back with an explicit schema, aggregate — the
    // oracle is the same aggregation over the direct (un-checkpointed)
    // query, so the round-trip must be lossless.
    Q("q57_csv_roundtrip", (s, dir) => {
      val step = t(s, dir).orders.filter(col("o_totalprice") > 40000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val path = fixturePath("csv_step", dir, "orders")
      CsvIO.write(step, path)
      val back = CsvIO.read(s, path, Some(org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING")))
      back.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n,
           count(DISTINCT o_custkey) AS n_cust
         FROM orders WHERE o_totalprice > 40000
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // ---------------- JSONL checkpoint round-trip (S6/S7 in LLM interchange form) ----------------
    Q("q97_jsonl_roundtrip", (s, dir) => {
      val step = t(s, dir).documents.filter(col("n_chars") > 200)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val path = fixturePath("jsonl_step", dir, "documents")
      JsonlIO.write(step, path)
      val back = JsonlIO.read(s, path, org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, source STRING, n_chars BIGINT"))
      back.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }, SqlSourceChars),

    // ---------------- SCD-1 snapshot merge (MERGE/upsert) ----------------
    Q("q101_snapshot_merge", (s, dir) => {
      val docs = t(s, dir).documents
      val base = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val delta = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), lit("delta").as("source"),
          (col("n_chars") + 1000L).as("n_chars"))
      Upsert.scd1(base, delta, "doc_id").orderBy("doc_id")
    },
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id % 3 <> 0),
         delta AS (SELECT doc_id, 'delta' AS source, n_chars + 1000 AS n_chars
           FROM documents WHERE doc_id % 2 = 0)
         SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
           CASE WHEN d.doc_id IS NOT NULL THEN d.source ELSE b.source END AS source,
           CASE WHEN d.doc_id IS NOT NULL THEN d.n_chars ELSE b.n_chars END AS n_chars
         FROM base b FULL JOIN delta d ON b.doc_id = d.doc_id
         ORDER BY doc_id"""),

    // ---------------- CDC diff of two snapshots ----------------
    Q("q102_cdc_diff", (s, dir) => {
      val prev = t(s, dir).documents.select(col("doc_id"), col("source"), col("n_chars"))
      val next = prev.filter(col("doc_id") % 10 =!= 0)
        .withColumn("n_chars",
          when(col("doc_id") % 7 === 0, col("n_chars") + 1L).otherwise(col("n_chars")))
        .unionByName(prev.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("n_chars")))
      Upsert.cdcDiff(prev, next, "doc_id").orderBy("doc_id")
    },
      """WITH prev AS (SELECT doc_id, source, n_chars FROM documents),
         next AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
           FROM prev WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000, source, n_chars FROM prev WHERE doc_id % 11 = 0)
         SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'insert'
                WHEN n.doc_id IS NULL THEN 'delete'
                WHEN p.source IS NOT DISTINCT FROM n.source
                 AND p.n_chars IS NOT DISTINCT FROM n.n_chars THEN 'unchanged'
                ELSE 'update' END AS op
         FROM prev p FULL JOIN next n ON p.doc_id = n.doc_id
         ORDER BY doc_id"""),

    // ---------------- small-file compaction round-trip ----------------
    Q("q106_compaction_roundtrip", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("lang"), col("n_chars"))
      val frag = fixturePath("frag", dir, "documents")
      val comp = fixturePath("compact", dir, "documents")
      if (!new java.io.File(comp).isDirectory) {
        docs.repartition(16).write.mode("overwrite").parquet(frag)
        graft.sources.Compaction.compact(s, frag, comp, 512L * 1024 * 1024)
      }
      s.read.parquet(comp).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- SCD-2 validity-versioned history ----------------
    // History at v100 (one closed generation at v50-100 for the %5
    // keys, current rows for the %3≠0 keys) advanced to the v200
    // snapshot (%10≠0 survives, %7 keys change, %11 keys re-key as
    // inserts) — updates, deletes, inserts, and re-inserts all occur.
    Q("q141_scd2_history", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("source"), col("n_chars"))
      val hist = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("valid_from", lit(100L))
        .withColumn("valid_to", lit(null).cast("long"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") - 7L)
          .withColumn("valid_from", lit(50L))
          .withColumn("valid_to", lit(100L)))
      val snap = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("n_chars",
          when(col("doc_id") % 7 === 0, col("n_chars") + 1L).otherwise(col("n_chars")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("n_chars")))
      Upsert.scd2Apply(hist, snap, "doc_id", asOf = 200L)
        .orderBy(col("doc_id"), col("valid_from"))
    },
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
         hist AS (
           SELECT doc_id, source, n_chars,
             CAST(100 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
           FROM docs WHERE doc_id % 3 <> 0
           UNION ALL
           SELECT doc_id, source, n_chars - 7,
             CAST(50 AS BIGINT), CAST(100 AS BIGINT)
           FROM docs WHERE doc_id % 5 = 0),
         snap AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
           FROM docs WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000, source, n_chars FROM docs WHERE doc_id % 11 = 0),
         cur AS (SELECT * FROM hist WHERE valid_to IS NULL),
         closed AS (SELECT * FROM hist WHERE valid_to IS NOT NULL),
         j AS (SELECT coalesce(c.doc_id, s.doc_id) AS doc_id,
             c.doc_id IS NOT NULL AS cp, s.doc_id IS NOT NULL AS sp,
             c.source AS c_source, c.n_chars AS c_chars, c.valid_from AS c_from,
             s.source AS s_source, s.n_chars AS s_chars,
             (c.source IS NOT DISTINCT FROM s.source
              AND c.n_chars IS NOT DISTINCT FROM s.n_chars) AS same
           FROM cur c FULL JOIN snap s ON c.doc_id = s.doc_id)
         SELECT doc_id, source, n_chars, valid_from, valid_to FROM closed
         UNION ALL
         SELECT doc_id, c_source, c_chars, c_from, CAST(NULL AS BIGINT)
         FROM j WHERE cp AND sp AND same
         UNION ALL
         SELECT doc_id, c_source, c_chars, c_from, CAST(200 AS BIGINT)
         FROM j WHERE cp AND (NOT sp OR NOT same)
         UNION ALL
         SELECT doc_id, s_source, s_chars, CAST(200 AS BIGINT), CAST(NULL AS BIGINT)
         FROM j WHERE sp AND (NOT cp OR NOT same)
         ORDER BY doc_id, valid_from"""),

    // ---------------- incremental aggregate-table maintenance ----------------
    // The ORACLE here is the algebraic property itself: folding the
    // delta batch's partial aggregates into the base rollup must
    // equal a full recompute over the whole corpus (the base split at
    // doc_id 50 leaves several (lang, source) cells delta-only, so
    // the null arms of the fold are exercised).
    Q("q146_incremental_agg", (s, dir) => {
      val docs = t(s, dir).documents
      def rollup(df: DataFrame) = df.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      Upsert.incrementalAggMerge(
        rollup(docs.filter(col("doc_id") < 50)),
        rollup(docs.filter(col("doc_id") >= 50)),
        keys = Seq("lang", "source"),
        counts = Seq("n_docs"), sums = Seq("sum_chars"),
        mins = Seq("min_chars"), maxs = Seq("max_chars"))
        .orderBy("lang", "source")
    },
      // the oracle IS the recompute: incremental fold ≡ full GROUP BY
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source"""),

    // ---------------- ORC storage roundtrip ----------------
    // second columnar format next to parquet (q106/q97 cover
    // compaction/JSONL): write-once ORC artifact, read back with
    // predicates — the plan audit asserts they reach the ORC scan
    Q("q160_orc_roundtrip", (s, dir) => {
      val path = fixturePath("orc", dir, "documents")
      Artifact.ensure(path) { tmp =>
        t(s, dir).documents.write.mode("overwrite").orc(tmp)
      }
      s.read.orc(path)
        .filter(col("lang") === "en" && col("n_chars") > 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
      // the roundtrip IS the check: ORC-written rows must read back
      // byte-identical to the parquet the oracle scans
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE lang = 'en' AND n_chars > 500
         ORDER BY doc_id"""),

    // ---------------- file-stats manifest + skip scan ----------------
    // The table-format data-skipping discipline: a range-clustered
    // layout gives each file a tight n_chars interval, the manifest
    // records per-file min/max, and the scan reads ONLY admitted
    // files. Oracle = the plain filter (skipping must be invisible in
    // the result); the in-query invariant asserts files were actually
    // skipped and the pruned result equals the unpruned one.
    Q("q161_manifest_skip", (s, dir) => {
      import graft.sources.FileManifest
      val path = fixturePath("rangeclust", dir, "documents")
      Artifact.ensure(path) { tmp =>
        t(s, dir).documents
          .repartitionByRange(8, col("n_chars"))
          .sortWithinPartitions(col("n_chars"))
          .write.mode("overwrite").parquet(tmp)
      }
      // the manifest is itself a persisted artifact (built once,
      // source-tagged sidecar): the scan below resolves it instead of
      // re-aggregating per-file stats on every query
      val manifest =
        FileManifest.ensureManifest(s, path, Seq("n_chars"), s"$path-manifest")
      SelfCheck.every(s"q161/$dir") {
        val total = manifest.count()
        val admitted = FileManifest.admittedCount(manifest, "n_chars", 200, 260)
        require(admitted < total && admitted >= 1,
          s"q161 no skipping: admitted $admitted of $total files")
        val pruned = FileManifest
          .prunedScan(s, path, manifest, "n_chars", 200, 260).count()
        val full = s.read.parquet(path)
          .filter(col("n_chars").between(200, 260)).count()
        require(pruned == full, s"q161 pruned $pruned != full $full")
        SelfCheck.note(s"skip scan read $admitted of $total files; " +
          s"pruned rows == unpruned rows ($full)")
      }
      // prune with the manifest already resolved above — calling
      // FileManifest.scan here would resolve the artifact a second
      // time per query (scan() is the one-call form for callers that
      // don't hold the manifest; CompactionSpec covers it)
      FileManifest.prunedScan(s, path, manifest, "n_chars", 200, 260)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
      // skipping must be invisible in the result: the oracle is the
      // plain unpruned filter
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE n_chars BETWEEN 200 AND 260
         ORDER BY doc_id"""),

    // ---------------- metadata count (manifest fast path) ----------------
    // count(*) WHERE range answered FROM the manifest: fully-contained
    // files contribute n_rows without being opened; only the (≤2 on a
    // range tiling) boundary files are scanned. This is a metadata
    // operation by design — the count resolves at planning time like
    // SHOW STATS, and the oracle proves it exact against the full scan.
    Q("q162_manifest_count", (s, dir) => {
      import graft.sources.FileManifest
      val path = fixturePath("rangeclust", dir, "documents")
      Artifact.ensure(path) { tmp =>
        t(s, dir).documents
          .repartitionByRange(8, col("n_chars"))
          .sortWithinPartitions(col("n_chars"))
          .write.mode("overwrite").parquet(tmp)
      }
      val manifest =
        FileManifest.ensureManifest(s, path, Seq("n_chars"), s"$path-manifest")
      val (n, boundary) = FileManifest
        .prunedCount(s, path, manifest, "n_chars", 100, 400)
      SelfCheck.every(s"q162/$dir") {
        require(boundary <= 2,
          s"q162 boundary files $boundary > 2 on a range tiling")
        SelfCheck.note(s"metadata count scanned only $boundary boundary " +
          s"file(s) of 8; n=$n")
      }
      s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(n)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType))))
    },
      // the metadata count must equal the full scan's count exactly
      """SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents
         WHERE n_chars BETWEEN 100 AND 400"""),

    // ---------------- exact column profiler ----------------
    // ANALYZE-TABLE in one aggregation job: all four columns' exact
    // null/distinct/min/max ride a single 1-row agg (Catalyst's
    // Expand multi-distinct rewrite — one scan) exploded to long form.
    Q("q170_profile", (s, dir) =>
      Quality.profile(t(s, dir).orders,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column_name"),
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val
         FROM orders
         UNION ALL
         SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
           count(DISTINCT o_orderkey),
           CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
         FROM orders
         ORDER BY column_name"""),

    // ---------------- approx column profiler (envelope) ----------------
    // The data-scale twin of q170: HLL distinct estimates in ONE
    // un-replicated scan (no Expand — PlanAuditSpec pins the shape)
    // where the exact profiler's multi-distinct replicates the scan
    // 5×. Envelope oracle (the q87 gate): the hashed rows are the
    // EXACT profile plus a verdict that each estimate sits within the
    // documented 3·rsd band (rsd 0.05 → 15%, floor of ±1 for the
    // tiny-cardinality columns where HLL is exact anyway).
    Q("q179_profile_approx", (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val exact = Quality.profile(t(s, dir).orders, cols)
      val approx = Quality.profileApprox(t(s, dir).orders, cols, rsd = 0.05)
        .select(col("column_name"), col("n_distinct_approx"))
      exact.join(broadcast(approx), "column_name")
        .select(col("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_val"), col("max_val"),
          (abs(col("n_distinct_approx") - col("n_distinct")).cast("double") <=
            greatest(col("n_distinct") * 0.15, lit(1.0)))
            .as("approx_within_3rsd"))
        .orderBy("column_name")
    },
      // HLL-profile envelope: the exact profile recomputed, the
      // estimate-in-band verdict pinned TRUE on every column row
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val,
           TRUE AS approx_within_3rsd
         FROM orders
         UNION ALL
         SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
           count(DISTINCT o_orderkey),
           CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR),
           TRUE
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority), TRUE
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus), TRUE
         FROM orders
         ORDER BY column_name"""),

    // ---------------- schema-evolution merged read ----------------
    // A 100 TB lake has generations of writers: the fixture holds two
    // parquet generations of the documents table IN ONE DIRECTORY —
    // gen-1 (even doc_ids) written before `n_chars` existed, gen-2
    // (odd) with it. `mergeSchema` reconciles the file schemas at
    // scan time; gen-1 rows surface NULL n_chars, and the per-lang
    // audit must equal the oracle's recompute from the unsplit source
    // (null-aware counts/sums prove the union semantics exact).
    Q("q177_schema_evolution", (s, dir) => {
      val src = fixturePath("schemaevo", dir, "documents")
      Artifact.ensure(src) { tmp =>
        val d = t(s, dir).documents
        def writeGen(df: DataFrame, name: String): Unit = {
          val part = s"$tmp/_$name"
          df.coalesce(1).write.mode("overwrite").parquet(part)
          val f = new java.io.File(part).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(f.toPath,
            new java.io.File(tmp, s"$name.parquet").toPath)
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(part))
        }
        writeGen(d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang")), "gen1")
        writeGen(d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars")), "gen2")
      }
      s.read.option("mergeSchema", "true").parquet(src)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), count(col("n_chars")).as("n_with"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
      // the oracle recomputes the two-generation union from the
      // UNSPLIT source: merged-read rows missing n_chars are exactly
      // the even doc_ids
      """SELECT lang, count(*) AS n,
           count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS n_with,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- ORC source/sink round-trip ----------------
    // The q97 JSONL device on Spark's OTHER native columnar format:
    // write a filtered projection as ORC, read it back, aggregate —
    // the oracle recomputes from the parquet source, so the row
    // values prove the ORC write+read preserved every row and value.
    Q("q224_orc_roundtrip", (s, dir) => {
      val step = t(s, dir).documents.filter(col("n_chars") > 200)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val path = fixturePath("orc_step", dir, "documents")
      graft.sources.OrcIO.write(step, path)
      graft.sources.OrcIO.read(s, path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    },
      // the q97 device on the ORC round-trip: the oracle recomputes
      // from the parquet source
      SqlSourceChars),

    // ---------------- flat-append compaction (fold path on the board) ----------------
    // The round-17 small-file fold (`Compaction.compactAppends`) under
    // a full oracle: a postings base + three appendPostings
    // generations (the flat mode("append") layout the incremental
    // family accumulates) fold in place, then the FOLDED directory
    // serves q194's ranked BM25 answer — so the oracle hash-checks
    // the fold's row fidelity end-to-end, and the envelope pins the
    // fold's two contracts in-plan: row-identity (symmetric exceptAll
    // against the pre-fold relation, counted to zero) and file-count
    // collapse.
    Q("q254_compact_fold", (s, dir) => {
      // half-corpus fixture: the fold contract (row identity + file
      // collapse over a base + three append generations) is
      // corpus-size-independent; halving bounds the per-rep rebuild
      val docs = t(s, dir).documents.filter(col("doc_id") % 2 === 0)
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_q254").toString
      val idx = s"$scratch/idx"
      InvertedIndex.build(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", col("text"))
        .write.mode("overwrite").parquet(idx)
      InvertedIndex.appendPostings(idx,
        docs.filter(col("doc_id") % 4 === 1), "doc_id", col("text"))
      InvertedIndex.appendPostings(idx,
        docs.filter(col("doc_id") % 4 === 2), "doc_id", col("text"))
      InvertedIndex.appendPostings(idx,
        docs.filter(col("doc_id") % 4 === 3), "doc_id", col("text"))
      val before = s.read.parquet(idx).localCheckpoint(true)
      val nBefore = graft.sources.Compaction.parquetFiles(idx).size
      graft.sources.Compaction.compactAppends(s, idx,
        targetBytes = 64L << 20)
      val nAfter = graft.sources.Compaction.parquetFiles(idx).size
      val after = s.read.parquet(idx)
      val verdict = before.exceptAll(after).agg(count(lit(1)).as("__a"))
        .crossJoin(after.exceptAll(before).agg(count(lit(1)).as("__b")))
        .select(((col("__a") === 0L) && (col("__b") === 0L))
            .as("folded_identical"),
          lit(nAfter < nBefore).as("files_collapsed"))
      InvertedIndex.bm25TopKIndexed(after, "doc_id",
          Seq("dup", "spark", "window"), k = 10)
        .crossJoin(broadcast(verdict))
    },
      // the q194 full-corpus BM25 relation (the fold must not change a
      // single posting row), plus the fold contracts pinned TRUE
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents WHERE doc_id % 2 = 0),
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
         SELECT doc_id, count(*) AS n_terms, CAST(sum(c) AS DOUBLE)/1e10 AS bm25,
           TRUE AS folded_identical, TRUE AS files_collapsed
         FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""),

    // ---------------- table profiling (ingest gate) ----------------
    // One-pass per-column profile of the documents corpus: null
    // counts, EXACT distincts (one Expand + one shuffle — never a
    // per-column pass), native-typed min/max rendered to string.
    // The first operator of a trustworthy ingest DAG; `exact=false`
    // is the HLL scale knob (no oracle there — this row checks the
    // exact contract).
    Q("q255_profile_table", (s, dir) =>
      graft.operators.Profiling.profileTable(t(s, dir).documents,
        Seq("doc_id", "lang", "n_chars", "source", "text")),
      // per-column profile re-derived column by column (the engine does
      // it in ONE aggregation; the oracle's 5-way union is the check,
      // not the plan)
      """SELECT * FROM (
           SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM documents
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM documents)
         ORDER BY col_name"""),

    // the profile as a GATE: reference profile vs a corrupted
    // candidate ingest (10% nulled lang, range-capped n_chars) —
    // the two corrupted columns must flag `drifted`, the other three
    // must pass clean; catalog-cost diff over two one-pass profiles
    Q("q256_profile_drift_gate", (s, dir) => {
      val docs = t(s, dir).documents
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      val a = graft.operators.Profiling.profileTable(docs, cols)
      val corrupted = docs
        .withColumn("lang", when(col("doc_id") % 10 === 0,
          lit(null).cast("string")).otherwise(col("lang")))
        .withColumn("n_chars", least(col("n_chars"), lit(100L)))
      val b = graft.operators.Profiling.profileTable(corrupted, cols)
      graft.operators.Profiling.profileDiff(a, b)
    },
      // both profiles replayed column by column, then the gate's
      // rounded-rate / ratio / range arithmetic verbatim
      """WITH corr AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang,
             least(n_chars, 100) AS n_chars, source, text
           FROM documents),
         pa AS (
           SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM documents
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM documents),
         pb AS (
           SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM corr
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM corr
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM corr
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM corr
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM corr),
         d AS (
           SELECT pa.col_name, 'common' AS status,
             round(CAST(pa.n_null AS DOUBLE)/pa.n_rows, 6) AS null_rate_a,
             round(CAST(pb.n_null AS DOUBLE)/pb.n_rows, 6) AS null_rate_b,
             round(CAST(pb.n_distinct AS DOUBLE)/pa.n_distinct, 6)
               AS distinct_ratio,
             (pa.min_s IS DISTINCT FROM pb.min_s)
               OR (pa.max_s IS DISTINCT FROM pb.max_s) AS range_changed
           FROM pa JOIN pb USING (col_name))
         SELECT col_name, status, null_rate_a, null_rate_b,
           distinct_ratio, range_changed,
           (abs(null_rate_b - null_rate_a) > 0.01
             OR distinct_ratio > 2.0 OR distinct_ratio < 0.5
             OR range_changed) AS drifted
         FROM d ORDER BY col_name"""),
  )
}
