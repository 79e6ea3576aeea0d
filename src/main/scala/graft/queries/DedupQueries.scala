package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VecFns}
import graft.operators.{Bloom, Chunking, Dedup, SegmentOps, Similarity}

import Support._

/** Deduplication: exact, n-gram Jaccard, MinHash, SimHash, embedding,
  * edit-distance, span and content-defined-chunk dedup, their incremental
  * (batch against archive) twins, and decontamination.
  */
private[graft] object DedupQueries {

  /** Exact cluster labels: connected components of the exact
    * Jaccard >= 0.6 pair graph as a recursive CTE — shared by q69
    * (batch labels) and q191 (incremental resolution, which must land
    * on the same labels).
    */
  private val SqlDupClusters =
    """WITH RECURSIVE toks AS (
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
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst)
         SELECT id, min(lbl) AS canonical_id FROM reach
         GROUP BY id ORDER BY id"""

  val all: Seq[Q] = Seq(
    // ---------------- dedup: exact groups ----------------
    Q("q29_exact_dedup", (s, dir) => {
      Dedup.exactDupGroups(t(s, dir).documents, col("doc_id"), col("text"))
        .select(col("fp"), col("canonical_id"), col("n_dups"))
        .orderBy("canonical_id")
    },
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
         min(doc_id) AS canonical_id, count(*) AS n_dups
         FROM documents GROUP BY fp ORDER BY canonical_id"""),

    // ---------------- dedup: exact n-gram Jaccard pairs ----------------
    Q("q30_jaccard_pairs", (s, dir) => {
      Dedup.jaccardPairs(t(s, dir).documents, "doc_id", "text",
        n = JaccardShingleN, threshold = 0.6, maxShingleFreq = Long.MaxValue,
        shingles = Some(sharedShingles(s, dir)))
        .orderBy("id_a", "id_b")
    },
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
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
         ORDER BY id_a, id_b"""),

    // ---------------- dedup: MinHash + LSH (FULL-oracle envelope) ----------------
    // The q91/q105 envelope pattern: the hashed rows are the EXACT
    // Jaccard>=t pair set (DuckDB-recomputable — the q30 relation,
    // same shared-shingle artifact) plus two verdict booleans the
    // oracle pins TRUE: subset_of_exact (every LSH-emitted pair is a
    // true pair — candidate verification is exact, so false positives
    // are impossible) and recall_ok (LSH recovered >= 80% of the
    // exact pairs). Both verdicts are distributed anti-/semi-join
    // counts over the FULL corpus at every SF — not fixture-limited.
    // The sf0.001 brute-force fixture SelfCheck stays as independent
    // ground truth for the exact side itself.
    Q("q31_minhash_neardups", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q31/fixture") {
        val docs = t(s, SelfCheck.FixtureDir).documents
        val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6, Long.MaxValue)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val mh = Dedup.minhashNearDups(docs, "doc_id", "text", 0.6)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        require((mh diff exact).isEmpty,
          s"q31 false positives: ${(mh diff exact).take(5)}")
        require(exact.isEmpty || (mh intersect exact).size >= exact.size * 0.8,
          s"q31 recall ${(mh intersect exact).size}/${exact.size} below 0.8")
        SelfCheck.note(s"subset of exact holds (0 false positives); " +
          s"recall ${(mh intersect exact).size}/${exact.size} (floor 0.8)")
      }
      // the LSH pair relation is near-dup-sized but feeds three
      // consumers — materialize once so the banded join kernel runs a
      // single time, not per consumer; the exact side reads the
      // persisted pair artifact (standing pipeline state — its three
      // consumers are three scans of a tiny parquet)
      def mat(df: DataFrame): DataFrame = materializedOnce(df)
      val exact = sharedPairs(s, dir)
      val mh = mat(Dedup.minhashNearDups(t(s, dir).documents, "doc_id", "text",
          threshold = 0.6, shingleN = JaccardShingleN,
          shingles = Some(sharedShingles(s, dir)))
        .select(col("id_a"), col("id_b")))
      val exKeys = exact.select(col("id_a"), col("id_b"))
      val verdict = subsetRecallVerdict(mh, exKeys, floor = 0.8)
      exact.crossJoin(broadcast(verdict))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("id_a", "id_b")
    },
      // LSH envelope (the q91/q105 pattern): the exact Jaccard>=0.6
      // pair set recomputed (the q30 relation) keyed-hash-identical,
      // with the LSH guarantees — subset-of-exact (verification
      // exactness) and the 0.8 recall floor — pinned TRUE
      SqlNearDupEnvelope),

    // ---------------- dedup: SimHash (FULL-oracle envelope) ----------------
    // SimHash values are engine hashes (not SQL-recomputable), so the
    // envelope hashes the GUARANTEES: one verdict row whose n_docs the
    // oracle recomputes and whose booleans it pins TRUE —
    // subset_of_ham8 (every emitted pair's hamming, RE-derived from
    // the per-doc simhash relation, matches the emitted value and is
    // <= 8: verification exactness) and complete_ham3 (no hamming<=3
    // pair is missed, cross-checked against an INDEPENDENT 8×8-bit
    // band decomposition of the same hashes, which the banding
    // theorem makes complete for hamming<=7 ⊇ 3). Both checks are
    // distributed joins over the FULL corpus at every SF; the
    // sf0.001 brute-force fixture SelfCheck stays as the
    // decomposition-independent ground truth.
    Q("q32_simhash_neardups", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q32/fixture") {
        val docs = t(s, SelfCheck.FixtureDir).documents
        val sh = Dedup.simhash64(docs, "doc_id", col("text"))
        val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
        val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("hb"))
        def brute(maxHam: Int) = a.join(b, col("id_a") < col("id_b"))
          .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHam)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val banded = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val b8 = brute(8); val b3 = brute(3)
        require((banded diff b8).isEmpty, "q32 banded pairs beyond hamming 8")
        require((b3 diff banded).isEmpty, "q32 banding missed a hamming<=3 pair")
        SelfCheck.note(s"banded ${banded.size} pairs ⊆ brute hamming≤8 " +
          s"(${b8.size}); all ${b3.size} hamming≤3 pairs recovered (banding theorem)")
      }
      val docs = t(s, dir).documents
      // ONE simhash pass (the token-explode aggregation is the
      // query's dominant scan) shared by the banded run, the recheck
      // join, and the independent 8-band completeness run
      val sh = materializedOnce(Dedup.simhash64(docs, "doc_id", col("text")))
      // the banded pair relation feeds two consumers (recheck +
      // completeness anti-join) — materialize so the band join runs once
      val banded = materializedOnce(
        Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8,
          hashes = Some(sh)))
      // subset/exactness: re-derive each emitted pair's hamming from
      // the per-doc hash relation and demand agreement and the <= 8
      // bound (empty output ⇒ vacuously true via coalesce)
      val rechecked = banded
        .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("ha")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("hb")), "id_b")
        .agg(coalesce(every(
          bit_count(col("ha").bitwiseXOR(col("hb"))) === col("hamming") &&
            col("hamming") <= 8), lit(true)).as("subset_of_ham8"))
      // completeness: the independent 8-band decomposition is complete
      // for hamming<=7; none of its hamming<=3 pairs may be missing
      // from the 4-band output
      val missed = Dedup.simhashNearDups(docs, "doc_id", "text",
          maxHamming = 3, bands = 8, hashes = Some(sh))
        .select(col("id_a"), col("id_b"))
        .join(banded.select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")
        .agg((count(lit(1)) === 0L).as("complete_ham3"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(rechecked))
        .crossJoin(broadcast(missed))
        .select(col("n_docs"), col("subset_of_ham8"), col("complete_ham3"))
    },
      // SimHash envelope: hashes are engine-internal, so the oracle pins
      // the GUARANTEES — verification exactness (subset of hamming<=8,
      // re-derived values agree) and banding-theorem completeness for
      // hamming<=3 (cross-checked against the independent 8×8-bit
      // decomposition) — plus the corpus size it audited
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS subset_of_ham8, TRUE AS complete_ham3
         FROM documents"""),

    // ---------------- embedding-cosine near-dup pairs (exact baseline) ----------------
    // O(n²) broadcast nested-loop BY DESIGN: this is the exact oracle
    // baseline for the scale path, q36 (Similarity.knnJoin — banded
    // LSH, near-linear). The row-count guard makes it impossible to
    // run the quadratic form on corpus-scale data by accident.
    Q("q44_embedding_neardups", (s, dir) => {
      // deterministic third-slice: this is the exact all-pairs BASELINE
      // (the production path is q36's banded knnJoin) — registering it
      // over a capped slice keeps the quadratic oracle honest without
      // the quadratic dominating the bench (pair count drops 9×)
      val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 3 === 0)
      val n = emb.count()
      require(n <= 100000,
        s"q44 is the exact O(n²) baseline (n=$n): at corpus scale use " +
          "Similarity.knnJoin (q36_knn_join), the banded-LSH production path")
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine", round(VecFns.cosine(col("ea"), col("eb")), 6))
        .filter(col("cosine") >= 0.35)
        .select(col("id_a"), col("id_b"), col("cosine"))
        .orderBy("id_a", "id_b")
    },
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id % 3 = 0 AND b.vec_id % 3 = 0
           AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
         ORDER BY id_a, id_b"""),

    // ---------------- decontamination: corpus × benchmark n-gram overlap ----------------
    // The training-pipeline gate that keeps evaluation data out of the
    // corpus: every (doc, benchmark doc) pair sharing >= 3 distinct
    // 3-gram shingles. Benchmark side broadcast — one linear scan of
    // the corpus, no self-join.
    Q("q65_contamination", (s, dir) => {
      val docs = t(s, dir).documents
      val bench = docs.filter(col("doc_id") % 50 === 0)
      // the benchmark is drawn from the corpus, so BOTH sides read the
      // shared shingle artifact — the bench side is a filter over it
      val sh = sharedShingles(s, dir)
      Dedup.contamination(docs, bench, "doc_id", "text",
        n = JaccardShingleN, minShared = 3,
        docShingles = Some(sh),
        benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .orderBy("doc_id", "bench_id")
    },
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0)
         SELECT e.doc_id, b.bench_id, count(*) AS n_shared
         FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY doc_id, bench_id"""),

    // ---------------- dedup-cluster resolution (connected components) ----------------
    // Near-dup pairs → components → canonical doc per cluster: the
    // step that turns "A≈B, B≈C" into "keep A". Iterative min-label
    // propagation (two shuffles per round, no driver-side graph); the
    // oracle recomputes the same components with a recursive CTE.
    Q("q69_dup_clusters", (s, dir) => {
      // contracted CC: components over cluster representatives, labels
      // expanded to members — never materializes the O(m²) member-pair
      // relation the oracle's recursive CTE walks. Built once and
      // persisted: q90 (corpus pruning) consumes the same relation.
      jaccardLabels(s, dir).orderBy("id")
    }, SqlDupClusters),

    // ---------------- near-dup-pruned corpus: keep one doc per cluster ----------------
    // The consuming end of the dedup family: resolve near-dup
    // clusters, drop every non-canonical member, report the surviving
    // corpus per language. At scale this is the step that actually
    // shrinks the training set (the cluster labels are the q69
    // relation; pruning is one anti-join).
    Q("q90_neardup_prune", (s, dir) => {
      val docs = t(s, dir).documents
      val labels = jaccardLabels(s, dir)
      val drop = labels.filter(col("id") =!= col("canonical_id"))
        .select(col("id").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy("lang")
    },
      """WITH RECURSIVE toks AS (
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
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         labels AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id),
         dropped AS (SELECT id FROM labels WHERE id <> canonical_id)
         SELECT lang, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
         FROM documents d ANTI JOIN dropped x ON d.doc_id = x.id
         GROUP BY lang ORDER BY lang"""),

    // ---------------- incremental dedup: new batch vs archive fingerprints ----------------
    // Even doc_ids play the archive (only their fingerprint column
    // crosses the boundary), odd ids the incoming batch.
    Q("q89_incremental_dedup", (s, dir) => {
      val docs = t(s, dir).documents
      val seen = docs.filter(col("doc_id") % 2 === 0)
        .select(TextFns.fingerprint(col("text")).as("fp")).distinct()
      Dedup.dedupIncremental(docs.filter(col("doc_id") % 2 =!= 0), seen,
          "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("fp"))
        .orderBy("doc_id")
    },
      """WITH fp AS (
           SELECT doc_id, lang, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
         batch AS (SELECT * FROM fp WHERE doc_id % 2 <> 0)
         SELECT doc_id, lang, fp FROM (
           SELECT b.doc_id, b.lang, b.fp, row_number() OVER
             (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
           FROM batch b ANTI JOIN seen s ON b.fp = s.fp)
         WHERE rn = 1 ORDER BY doc_id"""),

    // ---------------- SemDeDup: cluster-bounded semantic dedup ----------------
    // Prune near-identical embeddings without an all-pairs scan: the
    // coarse quantizer bounds the quadratic sweep to within-cluster
    // pairs (k-means is not SQL-expressible → rows-only; the greedy
    // keep-lowest-id invariant is checked in-query instead).
    Q("q92_semantic_dedup", (s, dir) => {
      // Self-check (sf0.001 fixture): (a) survivors are a subset that
      // partitions the corpus with the dropped set; (b) the invariant
      // — no two SURVIVORS of one cluster within tau — holds exactly.
      if (SelfCheck.fixtureExists) SelfCheck.once("q92/fixture") {
        val emb = t(s, SelfCheck.FixtureDir).embeddings
        val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
          tau = 0.35, nlist = 8)
        val nAll = emb.count(); val nKept = kept.count()
        require(nKept >= 1 && nKept <= nAll, "q92 survivor count out of range")
        require(kept.join(emb, Seq("vec_id"), "left_anti").count() == 0,
          "q92 survivors contain ids not in the corpus")
        val kv = kept.join(emb, Seq("vec_id"))
          .select(col("cid"), col("vec_id"), col("embedding"))
        val close = kv.select(col("cid"), col("vec_id").as("id_a"), col("embedding").as("ea"))
          .join(kv.select(col("cid"), col("vec_id").as("id_b"), col("embedding").as("eb")),
            Seq("cid"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(VecFns.cosine(col("ea"), col("eb")), 6) >= 0.35)
          .count()
        require(close == 0, s"q92 $close surviving same-cluster pairs within tau")
        SelfCheck.note(s"$nKept/$nAll survivors, all drawn from the corpus; " +
          "no surviving same-cluster pair within tau=0.35")
      }
      // FULL-oracle envelope (the q32 pattern): cluster ids and the
      // survivor set depend on engine-float k-means centroids (not
      // SQL-recomputable), so the hashed row carries the corpus size
      // the oracle recomputes plus the GUARANTEES pinned TRUE — both
      // fixture invariants, re-proved as distributed joins over the
      // FULL corpus at every SF: survivors ⊆ corpus with a sane
      // count, and no two survivors of one cluster within tau (the
      // SemDeDup contract). The sf0.001 fixture block above stays as
      // the decomposition-independent ground truth.
      val emb = t(s, dir).embeddings
      val kept = materializedOnce(Similarity.semanticDedup(
        emb, "vec_id", "embedding", tau = 0.35, nlist = 16))
      val kv = kept.join(emb, Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("embedding"))
      kept.join(emb.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("__alien"))
        .crossJoin(kept.agg(count(lit(1)).as("__k")))
        .crossJoin(emb.agg(count(lit(1)).as("__n")))
        .crossJoin(kv.select(col("cid"), col("vec_id").as("id_a"),
            col("embedding").as("ea"))
          .join(kv.select(col("cid"), col("vec_id").as("id_b"),
            col("embedding").as("eb")), Seq("cid"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(VecFns.cosine(col("ea"), col("eb")), 6) >= 0.35)
          .agg(count(lit(1)).as("__close")))
        .select(col("__n").as("n_vecs"),
          (col("__alien") === 0L && col("__k") >= 1L &&
            col("__k") <= col("__n")).as("survivors_in_corpus"),
          (col("__close") === 0L).as("no_close_survivors"))
    },
      // SemDeDup envelope: cluster ids / survivors ride engine-float
      // k-means centroids, so the oracle pins the GUARANTEES — survivors
      // drawn from the corpus with a sane count, and no two survivors of
      // one cluster within tau — plus the corpus size it audited
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           TRUE AS survivors_in_corpus, TRUE AS no_close_survivors
         FROM embeddings"""),

    // ---------------- sub-document dedup: corpus-wide duplicate segments ----------------
    Q("q98_segment_dedup", (s, dir) => {
      SegmentOps.dedupSegments(t(s, dir).documents, "doc_id", col("text"), segTokens = 3)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         t AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS ord, toks FROM d),
         tok AS (SELECT doc_id, ord, toks[ord] AS tok FROM t),
         segs AS (SELECT doc_id, (ord-1)//3 AS seg,
             string_agg(tok, ' ' ORDER BY ord) AS seg_text
           FROM tok GROUP BY doc_id, (ord-1)//3),
         mk AS (SELECT doc_id, seg, seg_text, row_number() OVER
             (PARTITION BY seg_text ORDER BY doc_id, seg) AS rn FROM segs),
         rb AS (SELECT doc_id,
             sum(CASE WHEN rn=1 THEN 1 ELSE 0 END) AS n_kept,
             sum(CASE WHEN rn<>1 THEN 1 ELSE 0 END) AS n_dropped,
             string_agg(CASE WHEN rn=1 THEN seg_text END, ' ' ORDER BY seg)
               AS clean_text
           FROM mk GROUP BY doc_id)
         SELECT d2.doc_id, CAST(coalesce(n_kept,0) AS BIGINT) AS n_kept,
           CAST(coalesce(n_dropped,0) AS BIGINT) AS n_dropped,
           md5(coalesce(clean_text, '')) AS clean_md5
         FROM documents d2 LEFT JOIN rb ON d2.doc_id = rb.doc_id
         ORDER BY d2.doc_id"""),

    // ---------------- Bloom-prefiltered incremental dedup ----------------
    Q("q113_bloom_prefilter", (s, dir) => {
      // Same archive/batch split as q89; the Bloom pre-filter must be
      // output-invisible (no false negatives), so the full DuckDB
      // oracle is the PLAIN anti-join — the strongest possible check
      // of the bloom path.
      val docs = t(s, dir).documents
      val archive = docs.filter(col("doc_id") % 2 === 0)
        .select(TextFns.fingerprint(col("text")).as("fp")).distinct()
      val batch = docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      Bloom.prefilteredAntiJoin(batch, "fp", archive, "fp",
          mBits = 1L << 20, k = 5)
        .select(col("doc_id"), col("fp")).orderBy("doc_id")
    },
      """WITH fp AS (
           SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         archive AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
         batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 2 <> 0)
         SELECT doc_id, fp FROM batch b ANTI JOIN archive a ON b.fp = a.fp
         ORDER BY doc_id"""),

    // ---------------- edit-distance similarity join ----------------
    Q("q115_edit_neardups", (s, dir) => {
      // length-blocked exact Levenshtein join on a bounded slice
      // (p_size = 1); oracle is the NAIVE all-pairs join — proves the
      // blocking lossless end-to-end
      val names = t(s, dir).part.filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_name"))
      graft.operators.EditJoin.editSimilarityJoin(names, "p_partkey", "p_name", 3)
        .orderBy("id_a", "id_b")
    },
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_size = 1)
         SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM p a JOIN p b ON a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 3
         ORDER BY id_a, id_b"""),

    // ---------------- entity resolution capstone ----------------
    Q("q121_entity_resolution", (s, dir) => {
      // fuzzy blocking (lossless length-binned edit join) → connected
      // components → min-id canonical entity + its name: the
      // record-linkage pipeline as a composition of three registered
      // operators, oracle-checked end-to-end
      val names = t(s, dir).part.filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_name"))
      val pairs = graft.operators.EditJoin
        .editSimilarityJoin(names, "p_partkey", "p_name", 3)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.dupClusters(pairs)
      names.join(labels, names("p_partkey") === labels("id"), "left")
        .select(col("p_partkey"),
          coalesce(col("canonical_id"), col("p_partkey")).as("entity_id"))
        .join(names.select(col("p_partkey").as("entity_id"),
          col("p_name").as("canonical_name")), Seq("entity_id"))
        .select(col("p_partkey"), col("entity_id"), col("canonical_name"))
        .orderBy("p_partkey")
    },
      """WITH RECURSIVE p AS (
           SELECT p_partkey, p_name FROM part WHERE p_size = 1),
         pairs AS (
           SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
           FROM p a JOIN p b ON a.p_partkey < b.p_partkey
           WHERE levenshtein(a.p_name, b.p_name) <= 3),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         labels AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id)
         SELECT p.p_partkey,
           coalesce(l.canonical_id, p.p_partkey) AS entity_id,
           c.p_name AS canonical_name
         FROM p LEFT JOIN labels l ON l.id = p.p_partkey
         JOIN p c ON c.p_partkey = coalesce(l.canonical_id, p.p_partkey)
         ORDER BY p.p_partkey"""),

    // ---------------- fuzzy dimension linkage (Jaro-Winkler) ----------------
    // Probe × small-dimension linkage: every customer scored against
    // the broadcast supplier names, best match kept via one partial-
    // aggregable min(struct) — no per-customer window shuffle. The
    // (1-jw, s_name) struct ordering IS (jw desc, s_name asc):
    // 1-x is monotone and the jw grid (1e-6 after rounding) is 10
    // orders coarser than double rounding error.
    Q("q140_jaro_linkage", (s, dir) => {
      // the broadcast cross join inherits the PROBE side's
      // partitioning, and a dimension-sized parquet file is one
      // partition — which would run all |C|×|S| scorings on one core
      // (measured 43 s at sf0.1). Spread the probe first; at cluster
      // scale the probe is already many-partitioned and this is a
      // no-op-sized shuffle either way.
      val c = t(s, dir).customer.select(col("c_custkey"), col("c_name"))
        .repartition(s.sparkContext.defaultParallelism)
      val sup = t(s, dir).supplier.select(col("s_name"))
      val best = c.crossJoin(broadcast(sup))
        .withColumn("jw", round(TextFns.jaroWinkler(col("c_name"), col("s_name")), 6))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(min(struct((lit(1.0) - col("jw")).as("ljw"),
          col("s_name").as("sn"), col("jw").as("j"))).as("b"))
        .select(col("c_custkey"), col("c_name"),
          col("b.sn").as("best_supplier"), col("b.j").as("jw"))
      best.orderBy("c_custkey")
    },
      """WITH scored AS (
           SELECT c.c_custkey, c.c_name, s.s_name,
             round(jaro_winkler_similarity(c.c_name, s.s_name), 6) AS jw
           FROM customer c CROSS JOIN supplier s),
         best AS (
           SELECT c_custkey, c_name, s_name, jw,
             row_number() OVER (PARTITION BY c_custkey
               ORDER BY jw DESC, s_name) AS rn
           FROM scored)
         SELECT c_custkey, c_name, s_name AS best_supplier, jw
         FROM best WHERE rn = 1 ORDER BY c_custkey"""),

    // ---------------- duplicated-span removal (exact substring dedup) ----------------
    // Lee et al. 2022's span-dedup semantics as relational algebra
    // (no suffix array): every 8-word span occurring more than once
    // in the corpus is removed everywhere but its globally first
    // occurrence (keep-first min (doc_id, pos)); contiguous removals
    // merge into maximal regions (RangeJoin.mergeIntervals). FULL
    // oracle: DuckDB replays span hashing (md5 of the space-joined
    // words), the keep-first window, the island fold, and the
    // cleaned-text md5 — every emitted number and fingerprint is
    // engine-exact.
    Q("q180_span_dedup", (s, dir) => {
      Dedup.spanDedup(t(s, dir).documents, "doc_id", "text", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // the oracle replays the whole span-dedup pipeline: md5 8-gram
      // span keys, keep-first via a (doc_id, pos) window rank per key,
      // the q168-style island fold (maxGap=1: touching spans are one
      // region), and the cleaned-text md5 rebuilt by dropping words
      // whose position falls in a removed region
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                      md5(array_to_string(ws[i:i+7], ' ')) AS h
               FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
         m AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY h) AS n_occ,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
               FROM g),
         iv AS (SELECT doc_id, pos AS s, pos + 7 AS e
                FROM m WHERE n_occ > 1 AND rn > 1),
         op AS (SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                              ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            CAST(-2 AS BIGINT)) + 1 THEN 1 ELSE 0 END AS opens
                FROM iv),
         reg AS (SELECT doc_id, min(s) AS rs, max(e) AS re
                 FROM (SELECT doc_id, s, e,
                              sum(opens) OVER (PARTITION BY doc_id
                                ORDER BY s, e) AS isl
                       FROM op)
                 GROUP BY doc_id, isl),
         agg AS (SELECT doc_id, count(*) AS nreg, sum(re - rs + 1) AS ndup,
                        list({'s': rs, 'e': re} ORDER BY rs, re) AS ivs
                 FROM reg GROUP BY doc_id)
         SELECT w.doc_id,
           CAST(len(w.ws) AS BIGINT) AS total_words,
           CAST(coalesce(a.nreg, 0) AS BIGINT) AS dup_regions,
           CAST(coalesce(a.ndup, 0) AS BIGINT) AS dup_words,
           CAST(coalesce(a.ndup, 0) * 1000000 // len(w.ws) AS BIGINT) AS dup_ppm,
           md5(coalesce(array_to_string(
             list_transform(
               list_filter(range(1, len(w.ws) + 1),
                 i -> len(list_filter(coalesce(a.ivs, []),
                        v -> i >= v.s AND i <= v.e)) = 0),
               i -> w.ws[CAST(i AS INT)]),
             ' '), '')) AS clean_fp
         FROM w LEFT JOIN agg a USING (doc_id)
         ORDER BY w.doc_id"""),

    // ---------------- incremental span dedup (batch vs archive) ----------------
    // The continuous-pipeline form: 3/4 of the corpus is history
    // whose spans live in a compact hash archive; the remaining
    // quarter arrives as a batch. Archived span content is removed
    // outright (history is canonical), archive-fresh content
    // keep-firsts within the batch. Full oracle: DuckDB replays the
    // archive probe (NOT EXISTS), the fresh-rank window, and the
    // same island fold + cleaned-md5 tail as q180.
    Q("q181_span_dedup_incremental", (s, dir) => {
      val docs = t(s, dir).documents
      val history = docs.filter(col("doc_id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      Dedup.spanDedupIncremental(batch,
          Dedup.spanArchive(history, "doc_id", "text", k = 8),
          "doc_id", "text", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // q180's pipeline with the archive probe spliced in: history
      // spans (doc_id % 4 <> 3) form the hash archive; batch
      // occurrences in the archive are removed outright, the rest
      // keep-first within the batch
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                      md5(array_to_string(ws[i:i+7], ' ')) AS h
               FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
         arch AS (SELECT DISTINCT h FROM g WHERE doc_id % 4 <> 3),
         b AS (SELECT * FROM g WHERE doc_id % 4 = 3),
         hits AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM b
                  WHERE EXISTS (SELECT 1 FROM arch a WHERE a.h = b.h)),
         fresh AS (SELECT * FROM b
                   WHERE NOT EXISTS (SELECT 1 FROM arch a WHERE a.h = b.h)),
         f2 AS (SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY h) AS n_occ,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
                FROM fresh),
         iv AS (SELECT * FROM hits
                UNION ALL
                SELECT doc_id, pos, pos + 7 FROM f2 WHERE n_occ > 1 AND rn > 1),
         op AS (SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                              ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            CAST(-2 AS BIGINT)) + 1 THEN 1 ELSE 0 END AS opens
                FROM iv),
         reg AS (SELECT doc_id, min(s) AS rs, max(e) AS re
                 FROM (SELECT doc_id, s, e,
                              sum(opens) OVER (PARTITION BY doc_id
                                ORDER BY s, e) AS isl
                       FROM op)
                 GROUP BY doc_id, isl),
         agg AS (SELECT doc_id, count(*) AS nreg, sum(re - rs + 1) AS ndup,
                        list({'s': rs, 'e': re} ORDER BY rs, re) AS ivs
                 FROM reg GROUP BY doc_id)
         SELECT w.doc_id,
           CAST(len(w.ws) AS BIGINT) AS total_words,
           CAST(coalesce(a.nreg, 0) AS BIGINT) AS dup_regions,
           CAST(coalesce(a.ndup, 0) AS BIGINT) AS dup_words,
           CAST(coalesce(a.ndup, 0) * 1000000 // len(w.ws) AS BIGINT) AS dup_ppm,
           md5(coalesce(array_to_string(
             list_transform(
               list_filter(range(1, len(w.ws) + 1),
                 i -> len(list_filter(coalesce(a.ivs, []),
                        v -> i >= v.s AND i <= v.e)) = 0),
               i -> w.ws[CAST(i AS INT)]),
             ' '), '')) AS clean_fp
         FROM w LEFT JOIN agg a USING (doc_id)
         WHERE w.doc_id % 4 = 3
         ORDER BY w.doc_id"""),

    // ---------------- fuzzy decontamination (containment gate) ----------------
    // The normalized-overlap complement of q65's absolute shared-count
    // gate: exact shingle-set Jaccard AND containment |A∩B|/|B| per
    // (doc, benchmark) pair, flagging on containment — the metric
    // that catches a long document embedding a short benchmark item
    // verbatim (containment 1.0, Jaccard ≈ 0). Benchmark drawn from
    // the corpus, so both sides filter the one persisted shingle
    // artifact; the benchmark side broadcasts — one linear corpus
    // scan, exact answer, no LSH recall loss. FULL oracle: DuckDB
    // recomputes raw-string shingle sets and both ratios. Threshold
    // 0.05 is set for the synthetic corpus's overlap profile (10
    // flagged pairs at sf0.01, nearest below-cut value 0.047619 —
    // no boundary-tie risk); real pipelines run 0.5+.
    Q("q182_fuzzy_contamination", (s, dir) => {
      val docs = t(s, dir).documents
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val sh = sharedShingles(s, dir)
      Dedup.contaminationFuzzy(docs, bench, "doc_id", "text",
        n = JaccardShingleN, minContainment = 0.05,
        docShingles = Some(sh),
        benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .orderBy("doc_id", "bench_id")
    },
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0),
         inter AS (
           SELECT e.doc_id, b.bench_id, count(*) AS ic
           FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
           GROUP BY 1, 2)
         SELECT i.doc_id, i.bench_id, CAST(i.ic AS BIGINT) AS n_shared,
           round(CAST(i.ic AS DOUBLE) / (sa.n + sb.n - i.ic), 6) AS jaccard,
           round(CAST(i.ic AS DOUBLE) / sb.n, 6) AS containment
         FROM inter i
         JOIN sz sa ON sa.doc_id = i.doc_id
         JOIN sz sb ON sb.doc_id = i.bench_id
         WHERE round(CAST(i.ic AS DOUBLE) / sb.n, 6) >= 0.05
         ORDER BY i.doc_id, i.bench_id"""),

    // ---------------- incremental near-dup (batch vs archive LSH) ----------------
    // The continuous-pipeline member of the minhash family (q89 exact
    // / q181 spans / this fuzzy): 3/4 of the corpus is history whose
    // state is two persisted relations — the shingle artifact and a
    // compact banded-signature table — and the batch quarter is
    // banded against that state, never re-banding or self-joining the
    // archive. Envelope oracle (the q31 pattern): rows are keyed on
    // the DuckDB-recomputable EXACT batch-touching pair set with its
    // jaccard and partner class, and the LSH guarantees ride as
    // booleans the oracle pins TRUE — subset-of-exact on (keys,
    // jaccard, vs) (exact verification: zero false positives, exact
    // values, correct classification) and the 0.8 recall floor.
    Q("q183_incremental_neardups", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      val shHist = sh.filter(col("id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      val archBands = Dedup.minhashBands(
        Dedup.minhashSignaturesFromShingles(shHist, k = 32,
          shingleN = JaccardShingleN))
      def mat(df: DataFrame): DataFrame = materializedOnce(df)
      val shBatch = sh.filter(col("id") % 4 === 3)
      val inc = mat(Dedup.minhashNearDupsIncremental(batch, "doc_id", "text",
          archiveShingles = shHist, archiveBands = archBands,
          threshold = 0.6, k = 32, bands = 8, shingleN = JaccardShingleN,
          batchShingles = Some(shBatch))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          col("jaccard"), col("vs")))
      // exact side: the persisted pair artifact filtered to
      // batch-touching pairs (standing pipeline state). When it was
      // computed live, ONE filtered self-PPJoin beat the split form
      // (jaccardJoin(batch, hist) + jaccardPairs(batch)): 7 s vs
      // 9-11 s at sf0.1 — two PPJoin pipelines pay two freq tables
      // and four ranked-prefix aggregations (SCALING.md)
      val exact = mat(sharedPairs(s, dir)
        .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
        .withColumn("vs", when(col("id_a") % 4 === 3 && col("id_b") % 4 === 3,
          lit("batch")).otherwise(lit("archive"))))
      val verdict = inc
        .join(exact, Seq("id_a", "id_b", "jaccard", "vs"), "left_anti")
        .agg(count(lit(1)).as("__fp"))
        .crossJoin(inc.join(exact.select("id_a", "id_b"),
            Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("__hit")))
        .crossJoin(exact.agg(count(lit(1)).as("__n")))
        .select((col("__fp") === 0L).as("subset_of_exact"),
          (col("__n") === 0L || col("__hit") >= col("__n") * 0.8).as("recall_ok"))
      exact.crossJoin(broadcast(verdict))
        .select(col("id_a"), col("id_b"), col("jaccard"), col("vs"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("id_a", "id_b")
    },
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
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         sel AS (
           SELECT id_a, id_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
             AND (id_a % 4 = 3 OR id_b % 4 = 3))
         SELECT id_a, id_b, jaccard,
           CASE WHEN id_a % 4 = 3 AND id_b % 4 = 3
                THEN 'batch' ELSE 'archive' END AS vs,
           TRUE AS subset_of_exact, TRUE AS recall_ok
         FROM sel ORDER BY id_a, id_b"""),

    // ---------------- content-defined chunking (gear-style CDC) ----------------
    // Shift-robust chunk boundaries from word VALUES (md5 bucket <
    // 32/256 ⇒ expected ~8-word chunks): an insertion re-chunks only
    // its own chunk, so chunk identity — and therefore chunk-level
    // dedup — survives edits that shift every downstream position.
    // Output marks each chunk occurrence whose content already
    // appeared earlier in global (doc, chunk) order, the keep-first
    // rule chunk-store dedup applies. FULL oracle: DuckDB replays the
    // boundary flags, the prefix-count window, the ordered chunk
    // re-assembly, and the first-occurrence window.
    Q("q185_cdc_chunks", (s, dir) => {
      val ch = Chunking.cdcChunks(t(s, dir).documents, "doc_id",
        col("text"), boundary256 = 32)
      val firstW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk_md5")).orderBy(col("id"), col("chunk_idx"))
      ch.withColumn("is_dup", row_number().over(firstW) > 1)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("start_pos"), col("n_words"), col("chunk_md5"), col("is_dup"))
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         wds0 AS (
           SELECT doc_id, unnest(range(1, len(ts)+1)) AS pos, ts FROM toks),
         wds AS (
           SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS w FROM wds0),
         flg AS (
           SELECT doc_id, pos, w,
             CASE WHEN ('0x' || substr(md5(w), 1, 2))::BIGINT < 32
                  THEN 1 ELSE 0 END AS b
           FROM wds),
         cid AS (
           SELECT doc_id, pos, w,
             COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           FROM flg),
         ch AS (
           SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
             CAST(min(pos) AS BIGINT) AS start_pos,
             CAST(count(*) AS BIGINT) AS n_words,
             md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
           FROM cid GROUP BY doc_id, ci)
         SELECT doc_id, chunk_idx, start_pos, n_words, chunk_md5,
           row_number() OVER (PARTITION BY chunk_md5
             ORDER BY doc_id, chunk_idx) > 1 AS is_dup
         FROM ch ORDER BY doc_id, chunk_idx"""),

    // ---------------- two-relation jaccard join (cross-corpus) ----------------
    // The exact set-similarity JOIN: batch quarter × history
    // three-quarters at Jaccard ≥ 0.5, prefix/length/positional
    // filtered under ONE shared (df, shingle) order — neither side is
    // self-joined, so the archive costs its prefix scan, never its
    // quadratic interior (the cross-corpus sweep: new crawl ×
    // curated corpus, plagiarism detection). Both sides filter the
    // one persisted shingle artifact. FULL oracle: DuckDB recomputes
    // the cross pair set from raw-string shingles.
    Q("q187_jaccard_join", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      Dedup.jaccardJoin(docs.filter(col("doc_id") % 4 === 3),
          docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text",
          n = JaccardShingleN, threshold = 0.5,
          maxShingleFreq = Long.MaxValue,
          leftShingles = Some(sh.filter(col("id") % 4 === 3)),
          rightShingles = Some(sh.filter(col("id") % 4 =!= 3)))
        .orderBy("id_l", "id_r")
    },
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         inter AS (
           SELECT l.doc_id AS id_l, r.doc_id AS id_r, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g
             AND l.doc_id % 4 = 3 AND r.doc_id % 4 <> 3
           GROUP BY 1, 2)
         SELECT id_l, id_r,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = id_l
         JOIN sz sb ON sb.doc_id = id_r
         WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
         ORDER BY id_l, id_r"""),

    // ---------------- incremental cluster resolution ----------------
    // The last step of continuous dedup: the archive's PERSISTED
    // label table (its standing state — an ensureClusterLabels
    // artifact over the history three-quarters) folds in the batch's
    // new pair relation via Dedup.dupClustersIncremental: archived
    // components contract to star edges, so the update graph is
    // archive-members + new-pairs, never the historical pair
    // relation. FULL oracle: the updated labels must equal the
    // from-scratch connected components over the ENTIRE corpus's
    // exact pair set (the q69 recursive-CTE oracle at t=0.6).
    Q("q191_incremental_clusters", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      val oldLabels = Dedup.ensureClusterLabels(
        docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text",
        n = JaccardShingleN, threshold = 0.6,
        maxShingleFreq = Long.MaxValue,
        fixturePath("archlabels", dir, "documents"),
        shingles = Some(sh.filter(col("id") % 4 =!= 3)))
      // batch-touching exact pairs from the persisted pair artifact
      // (when computed live, one filtered self-PPJoin beat the split
      // jaccardJoin+jaccardPairs form 8-8.5 s vs 11-12 s at sf0.1 —
      // SCALING.md has both experiments)
      val newPairs = sharedPairs(s, dir)
        .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
      Dedup.dupClustersIncremental(newPairs, oldLabels).orderBy("id")
    }, SqlDupClusters),

    // ---------------- near-dup point-serve lookup (FULL-oracle envelope) ----------------
    // The online-QUERY member of the near-dup family — "find THIS
    // document's near-dups" against the standing archive, what a
    // dedup service answers per request (self-join q31 / incremental
    // q183 / streaming q199 cover the batch forms). Bounded probe
    // batch banded under the archive's own parameters, ONE broadcast
    // band join (the archive is never re-banded or self-joined),
    // exact-Jaccard verification. Envelope: rows are the EXACT
    // (probe, neighbor) pairs off the persisted pair artifact
    // (both orientations — a probe can be either end), verdicts
    // pinned TRUE: the lookup output is a SUBSET of exact (the
    // verify stage is exact) with the q31 recall floor.
    Q("q230_neardup_lookup", (s, dir) => {
      val docs = t(s, dir).documents
      // stride 40: a probe set that intersects the pair relation at
      // BOTH driver scales (sf0.01: 13 probes, >= 1 hit; sf0.1: 125
      // probes — under the serving cap — with 12 hits)
      val probes = docs.filter(col("doc_id") % 40 === 0)
      val sh = sharedShingles(s, dir)
      val archBands = materializedOnce(Dedup.minhashBands(
        Dedup.minhashSignaturesFromShingles(sh, k = 32,
          shingleN = JaccardShingleN)))
      val got = materializedOnce(Dedup.nearDupLookup(probes, "doc_id", "text",
        sh, archBands, threshold = 0.6, shingleN = JaccardShingleN))
      val exact = sharedPairs(s, dir)
      val pid = probes.select(col("doc_id").as("__p"))
      val exLookup = materializedOnce(
        exact.join(pid, col("id_a") === col("__p"), "left_semi")
          .select(col("id_a").as("probe_id"), col("id_b").as("doc_id"),
            col("jaccard"))
        .unionByName(
          exact.join(pid, col("id_b") === col("__p"), "left_semi")
            .select(col("id_b").as("probe_id"), col("id_a").as("doc_id"),
              col("jaccard"))))
      val verdict = subsetRecallVerdict(
        got.select(col("probe_id").as("id_a"), col("doc_id").as("id_b")),
        exLookup.select(col("probe_id").as("id_a"), col("doc_id").as("id_b")),
        floor = 0.8)
      exLookup.crossJoin(broadcast(verdict))
        .select(col("probe_id"), col("doc_id"), col("jaccard"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("probe_id", "doc_id")
    },
      // point-serve lookup envelope: the exact pair relation (q31's
      // device) restricted to probe ends, both orientations; the
      // lookup's subset/recall verdicts ride pinned TRUE
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
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         pr AS (SELECT doc_id AS p FROM documents WHERE doc_id % 40 = 0)
         SELECT u.probe_id, u.doc_id, u.jaccard,
           TRUE AS subset_of_exact, TRUE AS recall_ok
         FROM (SELECT id_a AS probe_id, id_b AS doc_id, jaccard
                 FROM pairs JOIN pr ON id_a = p
               UNION ALL
               SELECT id_b AS probe_id, id_a AS doc_id, jaccard
                 FROM pairs JOIN pr ON id_b = p) u
         ORDER BY probe_id, doc_id"""),

    // ---------------- CDC-boundary segment dedup ----------------
    // q98's alignment-robust twin: a repeated span SHIFTED between
    // documents (here, every document re-ingested behind a one-word
    // prefix — the crawl re-publication mode) defeats fixed-stride
    // segmentation entirely, but content-defined boundaries re-align
    // after the first chunk, so all interior chunks dedup away
    // (SegmentOpsSpec pins the contrast). FULL oracle: DuckDB replays
    // the CDC device (q185), the fingerprint keep-first, and the
    // position-ordered reassembly.
    Q("q233_cdc_segment_dedup", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(lit("zq "), col("text")).as("text")))
      SegmentOps.dedupSegmentsCdc(corpus, "doc_id", col("text"),
          boundary256 = 32)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },
      // CDC segment dedup over the corpus + its prefix-shifted twin:
      // boundary flags -> prefix-count window -> chunk fingerprints ->
      // keep-first by (doc, seg) -> position-ordered reassembly
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'zq ' || text FROM documents),
         toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
         wds0 AS (
           SELECT doc_id, unnest(range(1, len(ts)+1)) AS pos, ts FROM toks),
         wds AS (
           SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS w FROM wds0),
         flg AS (
           SELECT doc_id, pos, w,
             CASE WHEN ('0x' || substr(md5(w), 1, 2))::BIGINT < 32
                  THEN 1 ELSE 0 END AS b
           FROM wds),
         cid AS (
           SELECT doc_id, pos, w,
             COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           FROM flg),
         ch AS (
           SELECT doc_id, CAST(ci AS BIGINT) AS seg,
             string_agg(w, ' ' ORDER BY pos) AS ctext,
             md5(string_agg(w, ' ' ORDER BY pos)) AS cmd5
           FROM cid GROUP BY doc_id, ci),
         keepf AS (
           SELECT doc_id, seg, ctext,
             row_number() OVER (PARTITION BY cmd5
               ORDER BY doc_id, seg) AS rn
           FROM ch)
         SELECT doc_id,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(ctext, ' ' ORDER BY seg)
             FILTER (WHERE rn = 1), '')) AS clean_fp
         FROM keepf GROUP BY doc_id ORDER BY doc_id"""),

    // ---------------- incremental CDC-segment dedup ----------------
    // q233's archive twin (q181 is the fixed-stride incremental
    // form): history's chunk FINGERPRINTS live in a persisted
    // archive; the batch carries fresh quarter docs PLUS one-word-
    // shifted re-publications of history docs — the cross-
    // batch/archive duplication mode fixed strides structurally
    // miss. Archived chunk content drops outright (history is
    // canonical, caught through the shift because CDC boundaries
    // re-align); archive-fresh content keep-firsts within the batch.
    // The operator also lands the batch's novel fingerprints as its
    // own archive GENERATION (batch=0 here; pre-existing generations
    // byte-identical, retry overwrite-idempotent — spec-pinned in
    // SegmentOpsSpec); scratch archive per call, so the append
    // never poisons a later rep. FULL oracle: DuckDB replays the CDC
    // device, the archive probe, the fresh keep-first, and the
    // reassembly fingerprint.
    Q("q244_cdc_dedup_incremental", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("text"))
      val history = docs.filter(col("doc_id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
        .unionByName(history.filter(col("doc_id") % 8 === 0).select(
          (col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("zq "), col("text")).as("text")))
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_q244").toString
      val archPath = s"$scratch/chunk_archive"
      SegmentOps.bootstrapCdcChunkArchive(history, "doc_id", col("text"),
        boundary256 = 32, archPath)
      SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
          col("text"), boundary256 = 32, archPath, batchId = 0L)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },
      // incremental CDC-segment dedup: archive probe + fresh keep-first
      // + reassembly, all replayed (q233's CTE chain with a side tag)
      """WITH corpus AS (
           SELECT 'h' AS side, doc_id, text FROM documents
           WHERE doc_id % 4 <> 3
           UNION ALL
           SELECT 'b', doc_id, text FROM documents WHERE doc_id % 4 = 3
           UNION ALL
           SELECT 'b', doc_id + 1000000, 'zq ' || text FROM documents
           WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0),
         toks AS (
           SELECT side, doc_id, string_split(text, ' ') AS ts FROM corpus),
         wds0 AS (
           SELECT side, doc_id, unnest(range(1, len(ts)+1)) AS pos, ts
           FROM toks),
         wds AS (
           SELECT side, doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS w
           FROM wds0),
         flg AS (
           SELECT side, doc_id, pos, w,
             CASE WHEN ('0x' || substr(md5(w), 1, 2))::BIGINT < 32
                  THEN 1 ELSE 0 END AS b
           FROM wds),
         cid AS (
           SELECT side, doc_id, pos, w,
             COALESCE(sum(b) OVER (PARTITION BY side, doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           FROM flg),
         ch AS (
           SELECT side, doc_id, CAST(ci AS BIGINT) AS seg,
             string_agg(w, ' ' ORDER BY pos) AS ctext,
             md5(string_agg(w, ' ' ORDER BY pos)) AS cmd5
           FROM cid GROUP BY side, doc_id, ci),
         arch AS (SELECT DISTINCT cmd5 FROM ch WHERE side = 'h'),
         bch AS (SELECT doc_id, seg, ctext, cmd5 FROM ch WHERE side = 'b'),
         fresh AS (
           SELECT doc_id, seg, ctext,
             row_number() OVER (PARTITION BY cmd5
               ORDER BY doc_id, seg) AS rn
           FROM bch b
           WHERE NOT EXISTS (SELECT 1 FROM arch a WHERE a.cmd5 = b.cmd5)),
         m AS (
           SELECT doc_id, seg, ctext, rn = 1 AS kept FROM fresh
           UNION ALL
           SELECT doc_id, seg, ctext, FALSE FROM bch b
           WHERE EXISTS (SELECT 1 FROM arch a WHERE a.cmd5 = b.cmd5))
         SELECT doc_id,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(ctext, ' ' ORDER BY seg)
             FILTER (WHERE kept), '')) AS clean_fp
         FROM m GROUP BY doc_id ORDER BY doc_id"""),
  )
}
