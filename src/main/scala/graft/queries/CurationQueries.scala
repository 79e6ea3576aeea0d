package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Chunking, Dedup, Mixing, Quality, Tagging}

import Support._

/** Training-corpus curation: sampling, mixing, packing, splits,
  * quality gates, privacy audits, and the capstone pipelines that chain
  * them.
  */
private[graft] object CurationQueries {

  val all: Seq[Q] = Seq(
    // ---------------- capstone: training-corpus prep pipeline ----------------
    // language gate → quality gate → exact-dedup keep-first → per-lang
    // corpus stats: the composed shape of a pretraining data-prep job
    // ---------------- capstone: full training-corpus preparation ----------------
    // The complete pre-training data flow in one relation: near-dup
    // pruning via the SHARED cluster-label artifact (the q69/q90
    // relation — built once, consumed here a third time), benchmark
    // decontamination, benchmark-holdout removal, and quality gating,
    // rolled up to the per-language token budget a mixing step would
    // consume. Contamination is computed on the full corpus (a doc's
    // contamination status is independent of dedup survival), so the
    // drops compose as two anti-joins — each linear, keyed shuffles.
    Q("q125_training_corpus", (s, dir) => {
      val docs = t(s, dir).documents
      val labels = jaccardLabels(s, dir)
      val dupDrop = labels.filter(col("id") =!= col("canonical_id"))
        .select(col("id").as("doc_id"))
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val sh = sharedShingles(s, dir)
      val contamDrop = Dedup.contamination(docs, bench, "doc_id", "text",
          n = JaccardShingleN, minShared = 3, docShingles = Some(sh),
          benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .select(col("doc_id")).distinct()
      docs.join(dupDrop, Seq("doc_id"), "left_anti")
        .join(contamDrop, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .filter(TextFns.tokenCount(col("text")).between(10, 1000) &&
          TextFns.distinctTokenRatio(col("text")) > 0.2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_kept"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("total_tokens"))
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
         dup_drop AS (SELECT id FROM labels WHERE id <> canonical_id),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0),
         contam AS (
           SELECT DISTINCT doc_id FROM (
             SELECT e.doc_id, b.bench_id
             FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
             GROUP BY 1, 2 HAVING count(*) >= 3)),
         kept AS (
           SELECT * FROM documents
           WHERE doc_id NOT IN (SELECT id FROM dup_drop)
             AND doc_id NOT IN (SELECT doc_id FROM contam)
             AND doc_id % 50 <> 0
             AND len(string_split(text,' ')) BETWEEN 10 AND 1000
             AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / len(string_split(text,' ')) > 0.2)
         SELECT lang, count(*) AS docs_kept,
           CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens
         FROM kept GROUP BY lang ORDER BY lang"""),

    Q("q51_corpus_prep", (s, dir) => {
      val docs = t(s, dir).documents
      val gated = docs
        .filter(col("lang").isin("en", "de", "es", "fr", "zh"))
        .filter(TextFns.tokenCount(col("text")).between(10, 1000) &&
          TextFns.distinctTokenRatio(col("text")) > 0.2)
      val kept = gated.join(
        gated.groupBy(TextFns.fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_kept"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    },
      """WITH gated AS (
           SELECT * FROM documents
           WHERE lang IN ('en','de','es','fr','zh')
             AND len(string_split(text,' ')) BETWEEN 10 AND 1000
             AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / len(string_split(text,' ')) > 0.2),
         kept AS (
           SELECT * FROM gated WHERE doc_id IN (
             SELECT min(doc_id) FROM gated
             GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))))
         SELECT lang, count(*) AS docs_kept,
           CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
           round(avg(n_chars),4) AS avg_chars
         FROM kept GROUP BY lang ORDER BY lang"""),

    // ---------------- deterministic hash-based sampling ----------------
    // Reproducible across engines, retries, and partitionings (unlike
    // rand() sampling): keep rows whose md5(key) starts with 0/1/2 —
    // a 3/16 stratified-auditable sample.
    Q("q67_hash_sample", (s, dir) => {
      t(s, dir).documents
        .filter(TextFns.hashSample(col("doc_id"), Seq("0", "1", "2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n_sampled, count(DISTINCT doc_id) AS n_docs
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
         GROUP BY lang ORDER BY lang"""),

    // ---------------- sequence packing into fixed token budgets ----------------
    // Documents → 2048-token training sequences over 8 parallel
    // packing streams; one window cumsum, no driver loop. Output is
    // the per-bin fill profile.
    Q("q68_sequence_packing", (s, dir) => {
      val assigned = graft.operators.Packing.packGreedy(
        t(s, dir).documents
          .select(col("doc_id"), TextFns.tokenCount(col("text")).as("nt")),
        col("doc_id"), col("nt"), buckets = 8, budgetTokens = 2048L)
      assigned.groupBy(col("bucket"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("bucket", "bin")
    },
      """WITH sized AS (
           SELECT doc_id, doc_id % 8 AS bucket,
             len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         cum AS (
           SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM sized)
         SELECT bucket, CAST(floor((c - n_tokens) / 2048.0) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM cum GROUP BY bucket, bin
         ORDER BY bucket, bin"""),

    // ---------------- domain-mixture resampling (deterministic per-source rates) ----------------
    // Target mixture: src{i} keeps (i%4)*4+4 sixteenths (25/50/75/100%)
    // — the rate formula is mirrored arithmetically in the oracle.
    Q("q71_domain_mix", (s, dir) => {
      val rates = (0 until 20).map(i => s"src$i" -> ((i % 4) * 4 + 4)).toMap
      Mixing.domainMix(t(s, dir).documents, col("doc_id"), col("source"), rates)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy("source")
    },
      """SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents
         WHERE strpos('0123456789abcdef',
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
           < (CAST(regexp_extract(source, '\d+') AS INT) % 4) * 4 + 4
         GROUP BY source ORDER BY source"""),

    // ---------------- sliding-window chunking (context-length training windows) ----------------
    Q("q72_chunking", (s, dir) => {
      Chunking.slidingChunks(t(s, dir).documents, "doc_id", col("text"),
          chunkSize = 64, stride = 32)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS nt
           FROM documents),
         starts AS (
           SELECT doc_id, nt, unnest(generate_series(0, nt - 1, 32)) AS st
           FROM t),
         chunks AS (
           SELECT s.doc_id, CAST(s.st / 32 AS BIGINT) AS chunk_idx,
             list_slice(t.toks, s.st + 1, least(s.st + 64, s.nt)) AS ctoks
           FROM starts s JOIN t ON s.doc_id = t.doc_id)
         SELECT doc_id, chunk_idx, CAST(len(ctoks) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(ctoks, ' ')) AS chunk_md5
         FROM chunks ORDER BY doc_id, chunk_idx"""),

    // ---------------- stratified deterministic sampling ----------------
    // Per-language acceptance out of 256 md5 buckets — the sub-1/16
    // refinement of q71's domain mix. Pure filter: no join, no
    // shuffle; at corpus scale this runs inside the scan stage.
    Q("q79_stratified_sample", (s, dir) => {
      Mixing.stratifiedSample(t(s, dir).documents, col("doc_id"), col("lang"),
          Map("en" -> 64, "zh" -> 128), default256 = 192)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(Mixing.hexBucket256(col("doc_id"))).cast("long").as("min_bucket"),
          max(Mixing.hexBucket256(col("doc_id"))).cast("long").as("max_bucket"))
        .orderBy("lang")
    },
      """WITH b AS (
           SELECT lang, doc_id,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS bucket,
             CASE lang WHEN 'en' THEN 64 WHEN 'zh' THEN 128 ELSE 192 END AS thr
           FROM documents)
         SELECT lang, count(*) AS n_sampled,
           CAST(min(bucket) AS BIGINT) AS min_bucket,
           CAST(max(bucket) AS BIGINT) AS max_bucket
         FROM b WHERE bucket < thr GROUP BY lang ORDER BY lang"""),

    // ---------------- curriculum binning: per-language length deciles ----------------
    Q("q85_length_deciles", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir).documents
        .select(col("lang"), col("n_chars"),
          ntile(10).over(w).cast("long").as("decile"))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "decile")
    },
      """SELECT lang, decile, count(*) AS n,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM (SELECT lang, n_chars,
                 CAST(ntile(10) OVER (PARTITION BY lang
                   ORDER BY n_chars, doc_id) AS BIGINT) AS decile
               FROM documents)
         GROUP BY lang, decile ORDER BY lang, decile"""),

    // ---------------- deterministic epoch shuffle + sharding ----------------
    Q("q93_epoch_shuffle", (s, dir) => {
      Mixing.epochShuffle(t(s, dir).documents.select(col("doc_id"), col("lang")),
          col("doc_id"), epoch = 1, numShards = 8)
        .select(col("doc_id"), col("lang"),
          col("shard").cast("long").as("shard"), col("pos").cast("long").as("pos"))
        .orderBy("shard", "pos")
    },
      """WITH s AS (
           SELECT doc_id, lang,
             md5('1:' || CAST(doc_id AS VARCHAR)) AS ord
           FROM documents),
         b AS (
           SELECT doc_id, lang, ord,
             (16*(strpos('0123456789abcdef', substr(md5(ord),1,1))-1)
               + (strpos('0123456789abcdef', substr(md5(ord),2,1))-1)) % 8
               AS shard
           FROM s)
         SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER
             (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
         FROM b ORDER BY shard, pos"""),

    // ---------------- temperature-based domain mixture (α = 0.5) ----------------
    Q("q94_temperature_mix", (s, dir) => {
      Mixing.temperatureMix(t(s, dir).documents, col("doc_id"), col("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy("lang")
    },
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT min(n) AS n_min FROM c),
         r AS (SELECT lang,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) * 256)
               AS INT) AS keep256
           FROM c, m),
         g AS (
           SELECT d.lang, d.n_chars,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS bucket,
             keep256
           FROM documents d JOIN r USING (lang))
         SELECT lang, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
         FROM g WHERE bucket < keep256
         GROUP BY lang ORDER BY lang"""),

    // ---------------- per-class cap: deterministic hash-rank quota ----------------
    Q("q96_label_cap", (s, dir) => {
      Mixing.capPerGroup(t(s, dir).embeddings.select(col("vec_id"), col("label")),
          col("vec_id"), col("label"), cap = 20)
        .select(col("vec_id"), col("label"))
        .orderBy("label", "vec_id")
    },
      """SELECT vec_id, label FROM (
           SELECT vec_id, label, row_number() OVER (
             PARTITION BY label
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
           FROM embeddings)
         WHERE rk <= 20 ORDER BY label, vec_id"""),

    // ---------------- data-quality audit ----------------
    Q("q118_quality_audit", (s, dir) => {
      import Quality.RowCheck
      val tt = t(s, dir)
      // all lineitem row checks fuse into ONE scan+agg; same for orders
      val li = Quality.rowChecks(tt.lineitem, Seq(
        RowCheck("not_null", "l_quantity", col("l_quantity").isNotNull),
        RowCheck("range", "l_quantity", col("l_quantity").between(1, 50)),
        RowCheck("range", "l_discount", col("l_discount").between(0, 0.1)),
        RowCheck("accepted", "l_returnflag", col("l_returnflag").isin("A", "N", "R"))))
      val ord = Quality.rowChecks(tt.orders, Seq(
        RowCheck("not_null", "o_custkey", col("o_custkey").isNotNull),
        RowCheck("accepted", "o_orderstatus", col("o_orderstatus").isin("F", "O", "P"))))
      val uniq = Quality.uniqueCheck(tt.orders, "unique", Seq("o_orderkey"))
        .unionByName(Quality.uniqueCheck(tt.lineitem, "unique",
          Seq("l_orderkey", "l_linenumber")))
      val refs = Quality.refCheck(tt.lineitem, "l_orderkey",
          tt.orders, "o_orderkey", "ref")
        .unionByName(Quality.refCheck(tt.orders, "o_custkey",
          tt.customer, "c_custkey", "ref"))
      li.unionByName(ord).unionByName(uniq).unionByName(refs)
        .orderBy("check_name", "subject")
    },
      """SELECT 'not_null' AS check_name, 'l_quantity' AS subject,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           count(*) AS total FROM lineitem
         UNION ALL
         SELECT 'range', 'l_quantity',
           CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'range', 'l_discount',
           CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'accepted', 'l_returnflag',
           CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'not_null', 'o_custkey',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(*) FROM orders
         UNION ALL
         SELECT 'accepted', 'o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM orders
         UNION ALL
         SELECT 'unique', 'o_orderkey',
           count(*) - count(DISTINCT o_orderkey), count(*) FROM orders
         UNION ALL
         SELECT 'unique', 'l_orderkey,l_linenumber',
           count(*) - (SELECT count(*) FROM
             (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'ref', 'l_orderkey->o_orderkey',
           (SELECT count(*) FROM lineitem l ANTI JOIN orders o
              ON l.l_orderkey = o.o_orderkey),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'ref', 'o_custkey->c_custkey',
           (SELECT count(*) FROM orders x ANTI JOIN customer c
              ON x.o_custkey = c.c_custkey),
           count(*) FROM orders
         ORDER BY check_name, subject"""),

    // ---------------- corpus-curation capstone ----------------
    // The full training-data curation pipeline as ONE composition of
    // four registered operators — quality gate (q26 rule) → exact
    // dedup keep-first (q29) → per-language token budget (q145) →
    // epoch-shuffled shard layout (q93) — oracle-checked end to end.
    // Every stage is a deterministic hash/window discipline, so the
    // whole pipeline is reproducible run-over-run and engine-over-
    // engine: the property a 100 TB curation run actually needs.
    Q("q156_curation_capstone", (s, dir) => {
      val docs = t(s, dir).documents
      val quality = docs.filter(
        TextFns.tokenCount(col("text")).between(20, 1000) &&
          TextFns.distinctTokenRatio(col("text")) > 0.3)
      val deduped = Dedup.dedupExact(quality, "doc_id", "text")
      val kept = Mixing.tokenBudgetSample(deduped, col("lang"), col("doc_id"),
        TextFns.tokenCount(col("text")), budget = 3000)
      Mixing.epochShuffle(
          kept.select(col("id").as("doc_id"), col("grp").as("lang"),
            col("n_tok")),
          col("doc_id"), epoch = 1, numShards = 4)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("shard").cast("long").as("shard"),
          col("pos").cast("long").as("pos"))
        .orderBy("shard", "pos")
    },
      // the four stage conventions chained verbatim: q26 gate → q29
      // fingerprint keep-first → q145 budget window → q93 shard fold
      """WITH q AS (
           SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents
           WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
             AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) > 0.3),
         d AS (
           SELECT doc_id, lang, n_tok FROM q
           WHERE doc_id IN (
             SELECT min(doc_id) FROM q
             GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))))),
         c AS (
           SELECT doc_id, lang, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM d),
         k AS (SELECT doc_id, lang, n_tok FROM c WHERE cum < 3000),
         s AS (
           SELECT doc_id, lang, n_tok,
             md5('1:' || CAST(doc_id AS VARCHAR)) AS ord
           FROM k),
         b AS (
           SELECT doc_id, lang, n_tok, ord,
             (16*(strpos('0123456789abcdef', substr(md5(ord),1,1))-1)
               + (strpos('0123456789abcdef', substr(md5(ord),2,1))-1)) % 4
               AS shard
           FROM s)
         SELECT doc_id, lang, n_tok, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER
             (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
         FROM b ORDER BY shard, pos"""),

    // ---------------- expectations gate with quarantine ----------------
    // The write-audit-publish split: rows passing every check publish,
    // rows failing ANY land in quarantine with a `failed_checks`
    // evidence column. Output = the quarantine side + the publish-side
    // count riding along as a constant column, so BOTH sides are under
    // the hash.
    Q("q159_quarantine", (s, dir) => {
      import Quality.RowCheck
      val checks = Seq(
        RowCheck("qty_le_30", "l_quantity", col("l_quantity") <= 30),
        RowCheck("disc_le_05", "l_discount", col("l_discount") <= 0.05),
        RowCheck("price_pos", "l_extendedprice", col("l_extendedprice") > 0))
      val (pass, quar) = Quality.quarantine(t(s, dir).lineitem, checks)
      val nPass = pass.agg(count(lit(1)).as("n_pass"))
      quar.select(col("l_orderkey"), col("l_linenumber"), col("failed_checks"))
        .crossJoin(broadcast(nPass))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """WITH f AS (
           SELECT l_orderkey, l_linenumber,
             l_quantity <= 30 AS ok1,
             l_discount <= 0.05 AS ok2,
             l_extendedprice > 0 AS ok3
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           concat_ws(',',
             CASE WHEN NOT ok1 THEN 'qty_le_30' END,
             CASE WHEN NOT ok2 THEN 'disc_le_05' END,
             CASE WHEN NOT ok3 THEN 'price_pos' END) AS failed_checks,
           (SELECT count(*) FROM f WHERE ok1 AND ok2 AND ok3) AS n_pass
         FROM f WHERE NOT (ok1 AND ok2 AND ok3)
         ORDER BY l_orderkey, l_linenumber"""),

    // ---------------- PPS weighted subsampling (token-weighted) ----------------
    // Deterministic Poisson sample with per-row inclusion probability
    // ∝ token count at expected fraction 1/4 — every TOKEN equally
    // likely to survive the cut, the compute-matched thinning rule
    // ([[Mixing.weightedSample]]). FULL oracle: the gate uses only
    // IEEE +,×,÷ over md5-digit uniforms and exact integer totals,
    // all correctly rounded, so DuckDB replays the acceptance
    // decision bit-for-bit.
    Q("q184_weighted_sample", (s, dir) => {
      val docs = t(s, dir).documents
      val w = size(split(col("text"), " ")).cast("long")
      Mixing.weightedSample(docs, col("doc_id"), w, 1, 4)
        .select(col("doc_id"), w.as("n_tok"),
          round(col("p_keep"), 6).as("p_keep"))
        .orderBy("doc_id")
    },
      """WITH w AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         t AS (
           SELECT CAST(sum(n_tok) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n
           FROM w)
         SELECT doc_id, n_tok,
           round(least(CAST(1 AS DOUBLE),
             CAST(1 AS DOUBLE) / 4 * n * n_tok / tw), 6) AS p_keep
         FROM w, t
         WHERE tw > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               / CAST(4503599627370496 AS DOUBLE)
             < least(CAST(1 AS DOUBLE),
                 CAST(1 AS DOUBLE) / 4 * n * n_tok / tw)
         ORDER BY doc_id"""),

    // ---------------- continuous-ingest capstone ----------------
    // The round's incremental family composed as ONE batch-ingest
    // pipeline, every gate archive-shaped: the batch quarter (1) drops
    // exact duplicates against the archive's fingerprint table
    // (keep-first within the batch), (2) drops near-duplicates of
    // archived content via the two-relation PPJoin (exact, never
    // self-joining the archive), (3) drops benchmark leaks by the
    // containment gate, then (4) thins survivors with the PPS
    // token-weighted sample at expected fraction 1/2 (totals over the
    // survivors). Every stage is engine-exact, so the FULL pipeline
    // replays as one DuckDB query — gates compose by anti-joins over
    // independently-computed per-pair flags, which is also why the
    // stages can run in any order without changing the kept set.
    Q("q189_ingest_capstone", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      val archive = docs.filter(col("doc_id") % 4 =!= 3)
      val shBatch = sh.filter(col("id") % 4 === 3)
      val seen = archive.select(TextFns.fingerprint(col("text")).as("fp"))
        .distinct()
      val s1 = Dedup.dedupIncremental(batch, seen, "doc_id", "text")
        .select("doc_id")
      // batch ids with an archived near-dup partner, read off the
      // shared pair artifact (q187 benches the live two-relation
      // PPJoin that this gate is semantically equal to — spec-pinned)
      val nearFlag = sharedPairs(s, dir)
        .filter((col("id_a") % 4 === 3) =!= (col("id_b") % 4 === 3))
        .select(when(col("id_a") % 4 === 3, col("id_a"))
          .otherwise(col("id_b")).as("doc_id"))
        .distinct()
      val contFlag = Dedup.contaminationFuzzy(batch,
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
          n = JaccardShingleN, minContainment = 0.5,
          docShingles = Some(shBatch),
          benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .select("doc_id").distinct()
      val survivors = batch
        .join(s1, Seq("doc_id"), "left_semi")
        .join(nearFlag, Seq("doc_id"), "left_anti")
        .join(contFlag, Seq("doc_id"), "left_anti")
      val w = size(split(col("text"), " ")).cast("long")
      Mixing.weightedSample(survivors, col("doc_id"), w, 1, 2)
        .select(col("doc_id"), col("lang"), w.as("n_tok"),
          round(col("p_keep"), 6).as("p_keep"))
        .orderBy("doc_id")
    },
      """WITH fpt AS (
           SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         seen AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % 4 <> 3),
         s1 AS (
           SELECT doc_id FROM (
             SELECT b.doc_id, row_number() OVER
               (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
             FROM (SELECT * FROM fpt WHERE doc_id % 4 = 3) b
             ANTI JOIN seen s ON b.fp = s.fp)
           WHERE rn = 1),
         toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         ninter AS (
           SELECT l.doc_id AS id_l, r.doc_id AS id_r, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g
             AND l.doc_id % 4 = 3 AND r.doc_id % 4 <> 3
           GROUP BY 1, 2),
         near AS (
           SELECT DISTINCT id_l AS doc_id
           FROM ninter
           JOIN sz sa ON sa.doc_id = id_l
           JOIN sz sb ON sb.doc_id = id_r
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0),
         cinter AS (
           SELECT e.doc_id, b.bench_id, count(*) AS ic
           FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
           WHERE e.doc_id % 4 = 3
           GROUP BY 1, 2),
         cont AS (
           SELECT DISTINCT c.doc_id
           FROM cinter c JOIN sz sb ON sb.doc_id = c.bench_id
           WHERE round(CAST(c.ic AS DOUBLE) / sb.n, 6) >= 0.5),
         sv AS (
           SELECT d.doc_id, d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
           FROM documents d
           JOIN s1 ON d.doc_id = s1.doc_id
           ANTI JOIN near ON d.doc_id = near.doc_id
           ANTI JOIN cont ON d.doc_id = cont.doc_id),
         t AS (
           SELECT CAST(sum(n_tok) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n
           FROM sv)
         SELECT doc_id, lang, n_tok,
           round(least(CAST(1 AS DOUBLE),
             CAST(1 AS DOUBLE) / 2 * n * n_tok / tw), 6) AS p_keep
         FROM sv, t
         WHERE tw > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               / CAST(4503599627370496 AS DOUBLE)
             < least(CAST(1 AS DOUBLE),
                 CAST(1 AS DOUBLE) / 2 * n * n_tok / tw)
         ORDER BY doc_id"""),

    // ---------------- per-group PPS weighted sampling ----------------
    // q184's gate with PER-LANGUAGE normalization: every language is
    // thinned to the same expected quarter while inclusion odds inside
    // a language still scale with token count — the grouped form the
    // global normalizer can't express (a token-heavy language would
    // otherwise eat the whole budget). Same engine-exact IEEE gate;
    // the totals relation is one row per language and broadcasts.
    Q("q193_weighted_sample_grouped", (s, dir) => {
      val docs = t(s, dir).documents
      val w = size(split(col("text"), " ")).cast("long")
      Mixing.weightedSamplePerGroup(docs, col("doc_id"), col("lang"), w, 1, 4)
        .select(col("doc_id"), col("lang"), w.as("n_tok"),
          round(col("p_keep"), 6).as("p_keep"))
        .orderBy("doc_id")
    },
      """WITH w AS (
           SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         t AS (
           SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n
           FROM w GROUP BY lang)
         SELECT w.doc_id, w.lang, w.n_tok,
           round(least(CAST(1 AS DOUBLE),
             CAST(1 AS DOUBLE) / 4 * n * n_tok / tw), 6) AS p_keep
         FROM w JOIN t ON w.lang IS NOT DISTINCT FROM t.lang
         WHERE tw > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               / CAST(4503599627370496 AS DOUBLE)
             < least(CAST(1 AS DOUBLE),
                 CAST(1 AS DOUBLE) / 4 * n * n_tok / tw)
         ORDER BY doc_id"""),

    // ---------------- deterministic corpus split assignment ----------------
    // Reproducible train/val/test by md5 bucket (80/10/10 in 256ths):
    // a pure projection of the key — stable under corpus growth,
    // repartitioning, and engines — audited per (lang, split).
    Q("q174_split_assign", (s, dir) =>
      t(s, dir).documents
        .select(col("lang"),
          Mixing.splitAssign(col("doc_id"),
            Seq(("train", 204), ("val", 26), ("test", 26))).as("split"),
          TextFns.tokenCount(col("text")).cast("long").as("ntok"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        .orderBy("lang", "split"),
      """WITH d AS (SELECT lang,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
               + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS b,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents)
         SELECT lang,
           CASE WHEN b < 204 THEN 'train'
                WHEN b < 230 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
         FROM d GROUP BY 1, 2 ORDER BY lang, split"""),

    // ---------------- corpus datasheet (capstone, FULL oracle) ----------------
    // The per-language data card a training-data platform publishes
    // with every corpus release — one wide report composing the
    // board's exact devices: volume (docs/tokens/chars), exact-dup
    // pressure (distinct md5 fingerprints, the q29 device), the q26
    // quality gate pass count, md5 split balance (the q174 device),
    // and blocklist exposure (total q200-dictionary occurrences).
    // Every facet is integer/string-exact, so the WHOLE datasheet
    // replays as one DuckDB query. Two scans: the main aggregate and
    // the automaton pass.
    Q("q210_corpus_datasheet", (s, dir) => {
      val docs = t(s, dir).documents
      val sp = Mixing.splitAssign(col("doc_id"),
        Seq("train" -> 204, "val" -> 26, "test" -> 26))
      val isQ = TextFns.tokenCount(col("text")).between(20, 1000) &&
        TextFns.distinctTokenRatio(col("text")) > 0.3
      val main = docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        countDistinct(TextFns.fingerprint(col("text"))).as("__nfp"),
        sum(when(isQ, 1L).otherwise(0L)).as("n_quality"),
        sum(when(sp === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(sp === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(sp === "test", 1L).otherwise(0L)).as("n_test"))
      val tags = Tagging.patternStats(docs, "lang", col("text"), DictPatterns)
        .groupBy(col("lang"))
        .agg(sum(col("occurrences")).as("blocklist_hits"))
      main.join(broadcast(tags), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("sum_chars"),
          (col("n_docs") - col("__nfp")).as("n_exact_dups"),
          col("n_quality"), col("n_train"), col("n_val"), col("n_test"),
          coalesce(col("blocklist_hits"), lit(0L)).as("blocklist_hits"))
        .orderBy("lang")
    }, {
      // the datasheet replays as ONE query: q200's recursive tag device
      // per lang + q174's md5 split buckets + the q29 fingerprint and
      // q26 gate rules, all integer/string-exact
      val vals = DictPatterns.map(p => s"('$p')").mkString(",")
      s"""WITH RECURSIVE
         pats(pattern) AS (VALUES $vals),
         m(doc_id, lang, pattern, pos) AS (
           SELECT d.doc_id, d.lang, p.pattern, strpos(d.text, p.pattern)
           FROM documents d CROSS JOIN pats p
           WHERE strpos(d.text, p.pattern) > 0
           UNION ALL
           SELECT m.doc_id, m.lang, m.pattern,
             m.pos + strpos(substr(d.text, m.pos + 1), m.pattern)
           FROM m JOIN documents d ON d.doc_id = m.doc_id
           WHERE strpos(substr(d.text, m.pos + 1), m.pattern) > 0),
         tg AS (SELECT lang, CAST(count(*) AS BIGINT) AS blocklist_hits
                FROM m GROUP BY lang),
         d AS (
           SELECT lang, text, string_split(text, ' ') AS ts,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
               + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS b
           FROM documents),
         a AS (
           SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(ts)) AS BIGINT) AS n_tokens,
             CAST(sum(len(text)) AS BIGINT) AS sum_chars,
             CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
             CAST(sum(CASE WHEN len(ts) BETWEEN 20 AND 1000
               AND CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) > 0.3
               THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
             CAST(sum(CASE WHEN b < 204 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN b >= 204 AND b < 230 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
             CAST(sum(CASE WHEN b >= 230 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
           FROM d GROUP BY lang)
         SELECT a.lang, a.n_docs, a.n_tokens, a.sum_chars, a.n_exact_dups,
           a.n_quality, a.n_train, a.n_val, a.n_test,
           CAST(coalesce(t.blocklist_hits, 0) AS BIGINT) AS blocklist_hits
         FROM a LEFT JOIN tg t USING (lang) ORDER BY a.lang"""
    }),

    // ---------------- k-anonymity audit ----------------
    // Re-identification risk the redaction pass can't see: rows
    // identifiable by the COMBINATION of innocuous attributes. One
    // keyed agg over the quasi-identifier tuple (lang, source,
    // n_chars coarsened to centuries — the generalization step a
    // failing audit prescribes); classes under k=5 flag `at_risk`.
    Q("q222_k_anonymity", (s, dir) => {
      Quality.kAnonymity(
        t(s, dir).documents.select(col("lang"), col("source"),
          (floor(col("n_chars") / 100) * 100).as("chars_bucket")),
        Seq("lang", "source", "chars_bucket"), k = 5)
    },
      """SELECT lang, source,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS chars_bucket,
           count(*) AS class_size, count(*) < 5 AS at_risk
         FROM documents
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // ---------------- l-diversity audit ----------------
    // The k-anonymity complement: a class of >= k rows that all share
    // ONE sensitive value still leaks it. Same single-shuffle agg with
    // a count-distinct of the sensitive attribute (here `source`
    // plays the sensitive role against the (lang, chars_bucket)
    // quasi-identifier).
    Q("q223_l_diversity", (s, dir) => {
      Quality.lDiversity(
        t(s, dir).documents.select(col("lang"), col("source"),
          (floor(col("n_chars") / 100) * 100).as("chars_bucket")),
        Seq("lang", "chars_bucket"), sensitive = "source", l = 3)
    },
      """SELECT lang,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS chars_bucket,
           count(*) AS class_size,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
           count(DISTINCT source) >= 3 AS diverse
         FROM documents
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---------------- split leakage audit ----------------
    // The eval-contamination check a training pipeline runs after
    // splitting: near-duplicate pairs (the corpus's standing exact-
    // pair artifact at the q31 threshold) labeled with each end's
    // md5 split (the q174 assignment) — a pair crossing train/test is
    // leaked eval signal. One artifact read + two key-projection
    // joins; both devices are engine-exact, so the whole audit
    // replays in SQL. The crossing column makes the leak rows
    // self-describing.
    Q("q202_split_leakage", (s, dir) => {
      val shares = Seq("train" -> 204, "val" -> 26, "test" -> 26)
      val sp = t(s, dir).documents.select(col("doc_id"),
        Mixing.splitAssign(col("doc_id"), shares).as("split"))
      sharedPairs(s, dir).select(col("id_a"), col("id_b"))
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("crossing", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
      // leakage audit = the q31 exact-pair device + the q174 md5-split
      // device, joined — both engine-exact
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
         prs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         spl AS (
           SELECT doc_id,
             CASE WHEN b < 204 THEN 'train'
                  WHEN b < 230 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id,
               16*(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
                 + (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS b
             FROM documents)),
         lab AS (
           SELECT least(a.split, b.split) AS split_a,
             greatest(a.split, b.split) AS split_b
           FROM prs JOIN spl a ON a.doc_id = prs.id_a
           JOIN spl b ON b.doc_id = prs.id_b)
         SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS crossing
         FROM lab GROUP BY 1, 2 ORDER BY 1, 2"""),
  )
}
