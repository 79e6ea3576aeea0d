package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Artifact, AsofJoin, Association, Bfs, FreqSketch, Funnel, Outliers, PageRank, RangeJoin, Resample, Skyline}

import Support._

/** Temporal and behavioral analytics, graph algorithms, sketches and
  * robust statistics.
  */
private[graft] object AnalyticsQueries {

  private def epochTs(c: Column): Column = c.cast("double")

  /** Canonical co-purchase edge relation (parts ordered together,
    * p_size cut keeps the demo graph bench-sized), persisted once per
    * corpus — q134 and q135 both consume it, so the quadratic-per-
    * order pair join runs once and every rerun reads parquet (the
    * q100/q119 shared-graph-artifact pattern).
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val path = fixturePath("copurchase", dir, "lineitem", "part")
    Artifact.ensure(path) { tmp =>
      val tt = t(s, dir)
      val smallParts = tt.part.filter(col("p_size") <= 15).select(col("p_partkey"))
      val li = tt.lineitem
        .join(smallParts, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = li.as("a")
        .join(li.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      graft.operators.Graphs.undirected(pairs, "src", "dst")
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  val all: Seq[Q] = Seq(
    // ---------------- event-time tumbling window (batch) ----------------
    Q("q20_hourly_events", (s, dir) => {
      t(s, dir).events
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour_ts"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .orderBy("hour_ts", "event_type")
    }, SqlHourlyEvents),

    // ---------------- sessionization in batch (gap > 30 min) ----------------
    Q("q21_sessions", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            epochTs(col("ts")) - epochTs(col("prev_ts")) > 1800.0, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
         count(*) AS n_events
         FROM (SELECT user_id,
             CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0
               THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             FROM events))
         GROUP BY user_id ORDER BY user_id"""),

    // ---------------- A2 at scale: approx distinct (rows-only) ----------------
    // Self-check: the HLL estimate must land within 10% of the exact
    // count (HLL++ default rsd is 5%).
    // FULL-oracle envelope (the q105 discipline): the HLL estimate is
    // sketch-internal, but its error contract is a SQL row — the
    // exact distinct count rides under the hash next to a boolean
    // the oracle pins TRUE
    Q("q40_approx_distinct", (s, dir) =>
      t(s, dir).lineitem.agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        (abs(approx_count_distinct(col("l_partkey"))
            - countDistinct(col("l_partkey")))
          <= countDistinct(col("l_partkey")) * 0.1).as("hll_within_10pct")),
      // HLL envelope: exact count recomputed, error verdict pinned TRUE
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_within_10pct
         FROM lineitem"""),

    // ---------------- as-of join: last purchase before each click ----------------
    // Temporal backward lookup via the single-shuffle union+window
    // encoding (AsofJoin); the oracle is DuckDB's native ASOF JOIN.
    Q("q74_asof_join", (s, dir) => {
      val ev = t(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      AsofJoin.asofBackward(clicks, purchases, "user_id", "ts", "ts",
          Seq("p_id", "ts"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_p_id"), lit(-1L)).as("purchase_event_id"),
          coalesce(unix_micros(col("ts")) - unix_micros(col("asof_ts")),
            lit(-1L)).as("gap_us"))
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id,
         CAST(coalesce(p.event_id, -1) AS BIGINT) AS purchase_event_id,
         coalesce(epoch_us(c.ts) - epoch_us(p.ts), -1) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.event_id"""),

    // ---------------- range join: clicks in the 5 min before each error ----------------
    // Binned-interval equi-join (RangeJoin) instead of the O(n·m)
    // BroadcastNestedLoop Spark would plan for the raw inequality.
    Q("q75_range_join", (s, dir) => {
      val ev = t(s, dir).events
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).cast("double").as("v"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).cast("double").as("pv"),
          col("event_id").as("click_id"))
      val pairs = RangeJoin.trailingWindowJoin(errors, clicks, "user_id",
        "v", "pv", width = 300e6, probeCols = Seq("click_id"))
      val counts = pairs.groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_clicks"))
      errors.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy("event_id")
    },
      """SELECT e.event_id, e.user_id,
         CAST(count(c.event_id) AS BIGINT) AS n_clicks
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.user_id = e.user_id
           AND epoch_us(c.ts)
             BETWEEN epoch_us(e.ts) - 300000000 AND epoch_us(e.ts)
         GROUP BY e.event_id, e.user_id ORDER BY e.event_id"""),

    // ---------------- approx percentile: the sketch scale path for q76 ----------------
    // percentile() is exact but buffers every group value in the agg
    // state; approx_percentile's GK sketch is the bounded-memory form
    // a 100 TB column needs. Self-check: at accuracy 10000 the rank
    // error is ≤ 1e-4, so the sketch median must land inside the
    // exact [p49, p51] band. Sketch internals are engine-specific →
    // no SQL oracle; rows-only with a loud in-query gate.
    // FULL-oracle envelope: the GK sketch's rank-error contract —
    // approx p50 inside the exact [p49, p51] band — is the hashed
    // row, with the band itself recomputed by DuckDB (quantile_cont
    // matches Spark's interpolated percentile definition)
    Q("q83_approx_percentiles", (s, dir) =>
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .cast("double").as("pa"),
          percentile(col("l_quantity"), lit(0.49)).as("lo"),
          percentile(col("l_quantity"), lit(0.51)).as("hi"))
        .select(col("l_returnflag"),
          round(col("lo"), 6).as("lo_p49"),
          round(col("hi"), 6).as("hi_p51"),
          (col("pa") >= col("lo") && col("pa") <= col("hi"))
            .as("p50_in_band"))
        .orderBy("l_returnflag"),
      // GK envelope: the exact [p49, p51] band recomputed (quantile_cont
      // = the same interpolated definition), the in-band verdict TRUE
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.49), 6) AS lo_p49,
           round(quantile_cont(l_quantity, 0.51), 6) AS hi_p51,
           TRUE AS p50_in_band
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---------------- HLL sketch rollup: merge pre-aggregated sketches ----------------
    // The 100 TB distinct-count pattern: materialize one HLL sketch
    // per fine-grain cell (lang × source), answer coarse queries by
    // MERGING sketches — never re-scanning raw ids. doc_ids are
    // unique and each doc has one source, so summing the disjoint
    // cells' exact distincts gives the per-lang truth the sketch
    // estimate must land within 5% of. Sketch bytes are
    // engine-specific → rows-only with a loud in-query gate.
    // FULL-oracle envelope: the per-(lang,source) sketches MERGE
    // (hll_union_agg) into per-lang estimates — the rollup a 100 TB
    // pipeline keeps instead of re-scanning; the hashed row is the
    // exact rollup count plus the merged estimate's 5% error verdict
    Q("q87_hll_rollup", (s, dir) => {
      val fine = t(s, dir).documents
        .groupBy(col("lang"), col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("sk"),
          countDistinct(col("doc_id")).as("exact"))
      fine.groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"),
          sum(col("exact")).as("exact"))
        .select(col("lang"), col("exact").cast("long").as("exact_docs"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.05)
            .as("merged_within_5pct"))
        .orderBy("lang")
    },
      // merged-HLL envelope: doc_id is unique, so the per-lang rollup of
      // per-source distincts equals the plain per-lang distinct
      """SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_docs,
           TRUE AS merged_within_5pct
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- forward as-of join: next purchase after each click ----------------
    Q("q86_asof_forward", (s, dir) => {
      val ev = t(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      AsofJoin.asofForward(clicks, purchases, "user_id", "ts", "ts",
          Seq("p_id", "ts"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_p_id"), lit(-1L)).as("next_purchase_id"),
          coalesce(unix_micros(col("asof_ts")) - unix_micros(col("ts")),
            lit(-1L)).as("wait_us"))
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id,
         CAST(coalesce(p.event_id, -1) AS BIGINT) AS next_purchase_id,
         coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS wait_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts <= p.ts
         ORDER BY c.event_id"""),

    // ---------------- link-graph centrality (exact fixed-point PageRank) ----------------
    Q("q100_pagerank", (s, dir) => {
      // bipartite supplier↔part graph, both directions (no dangling
      // nodes). The degree-annotated statics are persisted once per
      // corpus (the bucketed-edge-table checkpoint of a production
      // graph job); every rerun starts from the parquet artifact
      // instead of re-deriving distinct nodes + degrees from lineitem.
      def edges = {
        val pairs = t(s, dir).lineitem.select(
            concat(lit("S"), col("l_suppkey").cast("string")).as("src"),
            concat(lit("P"), col("l_partkey").cast("string")).as("dst"))
          .distinct()
        pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      }
      PageRank.ranksFromArtifact(s, fixturePath("prgraph", dir, "lineitem"),
          edges, iters = 5)
        .orderBy(col("rank").desc, col("id").asc).limit(20)
    },
      // exact integer fixed-point power iteration, 5 rounds unrolled
      // (portable across engines: no recursive-CTE aggregation needed)
      """WITH e0 AS (SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
             'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
         edges AS (SELECT src, dst FROM e0
           UNION ALL SELECT dst AS src, src AS dst FROM e0),
         nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         nn AS (SELECT count(*) AS n FROM nodes),
         od AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         r0 AS (SELECT id, 1000000000 // n AS rank FROM nodes CROSS JOIN nn),
         c1 AS (SELECT e.dst AS id, sum(r.rank // od.deg) AS s FROM r0 r
           JOIN od ON od.id = r.id JOIN edges e ON e.src = r.id GROUP BY e.dst),
         r1 AS (SELECT nodes.id, (15 * (1000000000 // n)) // 100
             + (85 * coalesce(s, 0)) // 100 AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.id = nodes.id),
         c2 AS (SELECT e.dst AS id, sum(r.rank // od.deg) AS s FROM r1 r
           JOIN od ON od.id = r.id JOIN edges e ON e.src = r.id GROUP BY e.dst),
         r2 AS (SELECT nodes.id, (15 * (1000000000 // n)) // 100
             + (85 * coalesce(s, 0)) // 100 AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.id = nodes.id),
         c3 AS (SELECT e.dst AS id, sum(r.rank // od.deg) AS s FROM r2 r
           JOIN od ON od.id = r.id JOIN edges e ON e.src = r.id GROUP BY e.dst),
         r3 AS (SELECT nodes.id, (15 * (1000000000 // n)) // 100
             + (85 * coalesce(s, 0)) // 100 AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.id = nodes.id),
         c4 AS (SELECT e.dst AS id, sum(r.rank // od.deg) AS s FROM r3 r
           JOIN od ON od.id = r.id JOIN edges e ON e.src = r.id GROUP BY e.dst),
         r4 AS (SELECT nodes.id, (15 * (1000000000 // n)) // 100
             + (85 * coalesce(s, 0)) // 100 AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c4 ON c4.id = nodes.id),
         c5 AS (SELECT e.dst AS id, sum(r.rank // od.deg) AS s FROM r4 r
           JOIN od ON od.id = r.id JOIN edges e ON e.src = r.id GROUP BY e.dst),
         r5 AS (SELECT nodes.id, (15 * (1000000000 // n)) // 100
             + (85 * coalesce(s, 0)) // 100 AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c5 ON c5.id = nodes.id)
         SELECT id, CAST(rank AS BIGINT) AS rank FROM r5
         ORDER BY rank DESC, id LIMIT 20"""),

    // ---------------- per-group winsorized statistics ----------------
    Q("q103_winsorize", (s, dir) => {
      Outliers.winsorize(t(s, dir).documents, col("lang"), col("n_chars"), 0.05, 0.95)
        .select(col("__g").as("lang"), col("n"), col("n_lo"), col("n_hi"), col("mean6"))
        .orderBy("lang")
    },
      """WITH b AS (SELECT lang,
             round(quantile_cont(n_chars, 0.05), 6) AS lo,
             round(quantile_cont(n_chars, 0.95), 6) AS hi
           FROM documents GROUP BY lang),
         w AS (SELECT d.lang,
             CASE WHEN n_chars < lo THEN 1 ELSE 0 END AS clo,
             CASE WHEN n_chars > hi THEN 1 ELSE 0 END AS chi,
             CAST(floor(least(greatest(CAST(n_chars AS DOUBLE), lo), hi) * 1e6 + 0.5)
               AS BIGINT) AS w6
           FROM documents d JOIN b ON d.lang = b.lang)
         SELECT lang, count(*) AS n, CAST(sum(clo) AS BIGINT) AS n_lo,
           CAST(sum(chi) AS BIGINT) AS n_hi,
           round(CAST(sum(w6) AS DOUBLE) / (count(*) * 1e6), 6) AS mean6
         FROM w GROUP BY lang ORDER BY lang"""),

    // ---------------- per-group Tukey outlier fences ----------------
    Q("q104_tukey_outliers", (s, dir) => {
      Outliers.tukeyFences(t(s, dir).documents, col("lang"), col("n_chars"))
        .select(col("__g").as("lang"), col("n"), col("n_low"), col("n_high"),
          col("lo_fence"), col("hi_fence"))
        .orderBy("lang")
    },
      """WITH b AS (SELECT lang,
             round(quantile_cont(n_chars, 0.25), 6) AS q1,
             round(quantile_cont(n_chars, 0.75), 6) AS q3
           FROM documents GROUP BY lang),
         f AS (SELECT lang, q1 - (q3 - q1) * 1.5 AS lof, q3 + (q3 - q1) * 1.5 AS hif
           FROM b)
         SELECT d.lang, count(*) AS n,
           CAST(sum(CASE WHEN n_chars < lof THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN n_chars > hif THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           round(min(lof), 6) AS lo_fence, round(max(hif), 6) AS hi_fence
         FROM documents d JOIN f ON d.lang = f.lang
         GROUP BY d.lang ORDER BY d.lang"""),

    // ---------------- count-min heavy hitters (sketch family) ----------------
    // count-min heavy hitters under a FULL-oracle bound envelope:
    // the estimates themselves are sketch-internal (DuckDB cannot
    // reproduce them), but their GUARANTEES are SQL rows — exact ≤
    // est (always, by construction) and est ≤ exact + ceil(eps·N)
    // (the accuracy contract) ride under the driver's hash as
    // envelope booleans next to the DuckDB-recomputed exact top-20.
    Q("q105_cms_heavy_hitters", (s, dir) => {
      val toks = t(s, dir).documents
        .select(explode(split(col("text"), " ")).as("token"))
      // N for the eps·N slack comes from the sketch's own stream
      // length — no second corpus scan
      val (top, total) = FreqSketch.estimateTopKWithTotal(toks,
        col("token"), 20, eps = 0.001, confidence = 0.99, seed = 42)
      val slack = math.ceil(0.001 * total).toLong
      top
        .select(col("item").as("token"), col("exact_n").as("n_exact"),
          (col("est_n") >= col("exact_n")).as("cms_lower_ok"),
          (col("est_n") <= col("exact_n") + lit(slack)).as("cms_upper_ok"))
        .orderBy(col("n_exact").desc, col("token").asc)
    },
      // the CMS envelope: both bound booleans must be TRUE for every
      // exact top-20 token; the exact counts are recomputed here
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
             FROM documents)
         SELECT token, n_exact, TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
         FROM (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM toks
               GROUP BY token ORDER BY n_exact DESC, token LIMIT 20)
         ORDER BY n_exact DESC, token"""),

    // ---------------- behavioral analytics: funnel / cohort / transitions ----------------
    Q("q109_funnel", (s, dir) =>
      Funnel.funnelStages(t(s, dir).events, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")),
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY e.user_id)
         SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM s1
         UNION ALL SELECT 2, 'click', count(*) FROM s2
         UNION ALL SELECT 3, 'purchase', count(*) FROM s3
         ORDER BY stage_idx"""),

    Q("q110_cohort_retention", (s, dir) =>
      Funnel.cohortRetention(t(s, dir).events, col("user_id"), col("ts"))
        // ISO string, not DATE: the comparator canonicalizes DATE
        // columns differently per engine
        .withColumn("cohort_week", date_format(col("cohort_week"), "yyyy-MM-dd"))
        .orderBy("cohort_week", "week_offset"),
      """WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id)
         SELECT strftime(date_trunc('week', f.t0), '%Y-%m-%d') AS cohort_week,
           CAST((CAST(e.ts AS DATE) - CAST(f.t0 AS DATE)) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS users
         FROM events e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Q("q114_transitions", (s, dir) =>
      Funnel.transitions(t(s, dir).events, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
        .orderBy("event", "next_event"),
      """WITH seq AS (SELECT user_id, event_type AS event,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
         FROM events)
         SELECT event, next_event, count(*) AS n FROM seq
         WHERE next_event IS NOT NULL
         GROUP BY event, next_event ORDER BY event, next_event"""),

    // ---------------- time-series gap-fill resample ----------------
    Q("q111_resample", (s, dir) => {
      // daily grid per user over purchase values, forward-filled.
      // (user, ts) made unique first (max value at a tied instant) so
      // the as-of winner is deterministic — the AsofJoin tie contract.
      val obs = t(s, dir).events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
      Resample.resampleFillForward(obs, "user_id", "ts", 86400L, Seq("value"))
        .select(col("user_id"),
          unix_timestamp(col("grid_ts")).as("grid_s"),
          round(col("asof_value"), 6).as("value"))
        .orderBy("user_id", "grid_s")
    },
      """WITH o0 AS (SELECT user_id, ts, max(value) AS value
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
         o AS (SELECT user_id, epoch_ns(ts) AS tsn, value FROM o0),
         sp AS (SELECT user_id,
             (min(tsn) + 86399999999999) // 86400000000000 * 86400 AS g0,
             max(tsn) // 1000000000 AS hi
           FROM o GROUP BY user_id),
         grid AS (SELECT user_id,
             unnest(generate_series(g0, hi, 86400)) * 1000000000 AS gsn
           FROM sp WHERE g0 <= hi)
         SELECT g.user_id, g.gsn // 1000000000 AS grid_s,
           round(o.value, 6) AS value
         FROM grid g ASOF JOIN o
           ON g.user_id = o.user_id AND g.gsn >= o.tsn
         ORDER BY g.user_id, grid_s"""),

    // ---------------- equi-width histogram ----------------
    Q("q112_histogram", (s, dir) =>
      Resample.histogram(t(s, dir).lineitem, col("l_returnflag"),
          col("l_quantity"), 0.0, 50.0, 10)
        .orderBy("grp", "bucket"),
      """WITH b AS (SELECT l_returnflag AS grp,
           CASE WHEN l_quantity < 0 THEN 0 WHEN l_quantity >= 50 THEN 11
                ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) + 1 END AS bucket
           FROM lineitem)
         SELECT grp, bucket, CAST(round((bucket - 1) * 5.0, 6) AS DOUBLE) AS bucket_lo,
           CAST(round(bucket * 5.0, 6) AS DOUBLE) AS bucket_hi, count(*) AS n
         FROM b GROUP BY grp, bucket ORDER BY grp, bucket"""),

    // ---------------- hopping-window aggregation ----------------
    Q("q116_hopping", (s, dir) =>
      t(s, dir).events
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type"),
      """WITH e AS (SELECT event_type, value, epoch_ns(ts) AS tn FROM events),
         w AS (SELECT event_type, value,
           unnest([(tn // 1800000000000) * 1800,
                   (tn // 1800000000000) * 1800 - 1800]) AS win_start
           FROM e)
         SELECT win_start, event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
         FROM w GROUP BY win_start, event_type
         ORDER BY win_start, event_type"""),

    // ---------------- debounce dedup (recrawl policy) ----------------
    Q("q117_debounce", (s, dir) => {
      // keep an event iff no SAME (user, type) event occurred in the
      // preceding hour — the recrawl/refetch suppression gate
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir).events
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        // µs-exact gap (unix_timestamp would truncate sub-second)
        .filter(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) >= 3600L * 1000000)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    },
      """WITH l AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS tn,
           lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
         FROM events)
         SELECT event_id, user_id, event_type FROM l
         WHERE prev IS NULL OR tn - prev >= 3600000000000
         ORDER BY event_id"""),

    // ---------------- BFS shortest hops ----------------
    Q("q119_bfs_hops", (s, dir) => {
      // q100 and q119 traverse the SAME supplier↔part graph, so both
      // read the one persisted static-graph artifact (built by
      // whichever runs first) instead of re-deriving the distinct
      // edge relation from lineitem per run
      def rawEdges = {
        val pairs = t(s, dir).lineitem.select(
            concat(lit("S"), col("l_suppkey").cast("string")).as("src"),
            concat(lit("P"), col("l_partkey").cast("string")).as("dst"))
          .distinct()
        pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      }
      val edges = PageRank.ensureGraph(s,
        fixturePath("prgraph", dir, "lineitem"), rawEdges)._1
        .select(col("src"), col("dst"))
      val seeds = s.range(1).select(lit("S1").as("id"))
      Bfs.shortestHops(edges, seeds, maxHops = 3)
        .orderBy("hops", "id")
    },
      """WITH RECURSIVE e0 AS (
           SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
             'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
         edges AS (SELECT src, dst FROM e0
           UNION ALL SELECT dst AS src, src AS dst FROM e0),
         walk(id, d) AS (
           SELECT 'S1' AS id, 0 AS d
           UNION
           SELECT e.dst, w.d + 1 FROM walk w
           JOIN edges e ON e.src = w.id WHERE w.d < 3)
         SELECT id, CAST(min(d) AS INT) AS hops FROM walk
         GROUP BY id ORDER BY hops, id"""),

    // ---------------- funnel with conversion deadline ----------------
    Q("q120_funnel_windowed", (s, dir) =>
      Funnel.funnelStagesWithin(t(s, dir).events, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"),
        maxGapSec = Some(6L * 3600)),
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts >= s1.t
             AND epoch_ns(e.ts) - epoch_ns(s1.t) <= 21600000000000
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t
             AND epoch_ns(e.ts) - epoch_ns(s2.t) <= 21600000000000
           GROUP BY e.user_id)
         SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM s1
         UNION ALL SELECT 2, 'click', count(*) FROM s2
         UNION ALL SELECT 3, 'purchase', count(*) FROM s3
         ORDER BY stage_idx"""),

    // ---------------- last-touch attribution ----------------
    Q("q122_attribution", (s, dir) => {
      // each purchase attributes to the LAST click of the same user
      // within 6 h (as-of backward join); older or absent clicks
      // leave the purchase unattributed (null)
      val ev = t(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      // unique (user, ts) click instants: max event_id wins a tie —
      // the AsofJoin determinism contract
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      AsofJoin.asofBackward(purchases, clicks, "user_id",
          "purchase_ts", "ts", Seq("ts", "click_id"))
        .select(col("purchase_id"), col("user_id"),
          when(unix_micros(col("purchase_ts")) - unix_micros(col("asof_ts")) <=
            6L * 3600 * 1000000, col("asof_click_id")).as("click_id"))
        .orderBy("purchase_id")
    },
      """WITH pu AS (
           SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
         cl AS (
           SELECT user_id, ts, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT p.purchase_id, p.user_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_ns(p.purchase_ts) - epoch_ns(c.ts) <= 21600000000000
                THEN c.click_id END AS click_id
         FROM pu p ASOF LEFT JOIN cl c
           ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
         ORDER BY p.purchase_id"""),

    // ---------------- gap-based sessionization ----------------
    Q("q132_sessionize", (s, dir) =>
      Funnel.sessionize(t(s, dir).events, col("user_id"), col("ts"),
          col("event_id"), gapSec = 1800L)
        .withColumnRenamed("user", "user_id")
        .orderBy("user_id", "session_seq"),
      // sessionize: same lag/flag/running-sum encoding in DuckDB window
      // SQL (epoch_ns is µs-exact ×1000, ties broken by event_id)
      """WITH l AS (SELECT user_id, event_id, epoch_ns(ts) AS tn,
           lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events),
         f AS (SELECT user_id, event_id, tn,
           CASE WHEN prev IS NULL OR tn - prev > 1800000000000 THEN 1 ELSE 0 END
             AS is_new
         FROM l),
         s AS (SELECT user_id, tn,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_seq
         FROM f)
         SELECT user_id, session_seq, count(*) AS n_events,
           min(tn) // 1000 AS start_us, max(tn) // 1000 AS end_us
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq"""),

    // ---------------- triangle counting ----------------
    // cohesion of the co-purchase graph (parts ordered together) —
    // degree-ordered orientation bounds the wedge relation at m^1.5
    // (Graphs.scala doc); the naive neighbor self-join is Σd² and
    // dies on the first hub. The edge relation is the shared
    // persisted artifact (coPurchaseEdges); the operator takes any
    // edge relation.
    Q("q134_triangles", (s, dir) =>
      graft.operators.Graphs.triangleCount(coPurchaseEdges(s, dir)),
      // triangles: every triangle u<v<w appears exactly once as the
      // edge triple (u,v) (u,w) (v,w) over the canonical a<b edge list
      """WITH sp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 15)),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
           FROM sp a JOIN sp b ON a.o = b.o AND a.p < b.p)
         SELECT count(*) AS triangles
         FROM e e1
         JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v"""),

    // ---------------- local clustering coefficients ----------------
    // per-node neighborhood density on the SAME co-purchase graph —
    // q134's closed-wedge relation exploded to all three corners
    Q("q135_clustering_coeff", (s, dir) =>
      graft.operators.Graphs.clusteringCoefficients(coPurchaseEdges(s, dir))
        .orderBy("node"),
      """WITH sp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 15)),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
           FROM sp a JOIN sp b ON a.o = b.o AND a.p < b.p),
         t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM e e1
           JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
           JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         corners AS (SELECT a AS n FROM t UNION ALL
                     SELECT b FROM t UNION ALL SELECT c FROM t),
         tri AS (SELECT n, count(*) AS triangles FROM corners GROUP BY n),
         deg AS (SELECT n, count(*) AS d FROM
           (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n)
         SELECT deg.n AS node, coalesce(tri.triangles, 0) AS triangles,
           CASE WHEN d >= 2
             THEN round(2.0 * coalesce(tri.triangles, 0) / (d * (d - 1)), 6)
             ELSE 0.0 END AS coeff
         FROM deg LEFT JOIN tri ON deg.n = tri.n
         ORDER BY node"""),

    // ---------------- general interval-overlap join ----------------
    // "Which purchase-attribution windows were open while each click
    // window was live?" — interval × interval overlap per user, the
    // temporal-algebra primitive q74/q75 (as-of, point-in-range)
    // don't cover. Binned equi-join (both sides replicate per
    // touched bin, first-shared-bin claims the pair) — the raw
    // inequality predicate the DuckDB oracle runs would plan as a
    // nested loop at scale.
    Q("q167_interval_overlap", (s, dir) => {
      val ev = t(s, dir).events
      def iv(tpe: String, lenUs: Long, sN: String, eN: String) =
        ev.filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as(sN),
            (unix_micros(col("ts")) + lit(lenUs)).as(eN))
      RangeJoin.intervalOverlapJoin(
        iv("click", 300000000L, "ls", "le"),
        iv("purchase", 600000000L, "rs", "re"),
        "user_id", "ls", "le", "rs", "re",
        binWidth = 600000000L, rightCols = Seq("event_id"))
        .orderBy("event_id", "r_event_id")
    },
      // the oracle runs the RAW inequality predicate the binned
      // equi-join replaces — the pair sets must be identical
      // (epoch_ns//1000 = the engine loader's exact ns→µs division)
      """WITH l AS (SELECT user_id, event_id,
             epoch_ns(ts) // 1000 AS ls,
             epoch_ns(ts) // 1000 + 300000000 AS le
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, event_id AS r_event_id,
             epoch_ns(ts) // 1000 AS r_rs,
             epoch_ns(ts) // 1000 + 600000000 AS r_re
           FROM events WHERE event_type = 'purchase')
         SELECT l.user_id, l.event_id, ls, le, r_event_id, r_rs, r_re
         FROM l JOIN r USING (user_id)
         WHERE ls <= r_re AND r_rs <= le
         ORDER BY event_id, r_event_id"""),

    // ---------------- per-key interval coalescing ----------------
    // Union of overlapping click windows per user → coverage islands
    // ("total engaged time"). One keyed window + one keyed agg;
    // contrast q113 sessionize, which islands POINT events by gap.
    Q("q168_interval_merge", (s, dir) => {
      val ev = t(s, dir).events
      RangeJoin.mergeIntervals(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("s"),
            (unix_micros(col("ts")) + lit(600000000L)).as("e")),
        "user_id", "s", "e")
        .orderBy("user_id", "island_start")
    },
      """WITH iv AS (SELECT user_id,
             epoch_ns(ts) // 1000 AS s,
             epoch_ns(ts) // 1000 + 600000000 AS e
           FROM events WHERE event_type = 'click'),
         m AS (SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
           FROM iv),
         f AS (SELECT user_id, s, e,
             CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS opens
           FROM m),
         g AS (SELECT user_id, s, e,
             sum(opens) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM f)
         SELECT user_id, min(s) AS island_start, max(e) AS island_end,
           count(*) AS n_intervals
         FROM g GROUP BY user_id, island
         ORDER BY user_id, island_start"""),

    // ---------------- 2-D Pareto skyline ----------------
    // Per return-flag frontier of (cheapest price, biggest quantity):
    // one keyed sort + two running-min windows replace the quadratic
    // NOT-EXISTS self-join the oracle runs. Fixed-point cents keep
    // the RANGE-frame semantics exact (x' < x on longs).
    Q("q169_pareto_skyline", (s, dir) => {
      val pts = t(s, dir).lineitem.select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        (-round(col("l_quantity"))).cast("long").as("neg_qty"))
      Skyline.skyline2d(pts, Seq("l_returnflag"), "price_cents", "neg_qty")
        .select(col("l_returnflag"), col("price_cents"),
          (-col("neg_qty")).as("qty"))
        .orderBy("l_returnflag", "price_cents")
    },
      // the oracle runs the quadratic NOT-EXISTS dominance scan the
      // window encoding replaces — frontiers must be identical
      """WITH p AS (SELECT DISTINCT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS qty
           FROM lineitem)
         SELECT g AS l_returnflag, price_cents, qty
         FROM p q WHERE NOT EXISTS (
           SELECT 1 FROM p d WHERE d.g = q.g
             AND d.price_cents <= q.price_cents AND d.qty >= q.qty
             AND (d.price_cents < q.price_cents OR d.qty > q.qty))
         ORDER BY l_returnflag, price_cents"""),

    // ---------------- perceptual audio dedup (energy-envelope hash) ----------------
    // q188's rule over the audio modality: 64 blocked-mean bits over
    // the decoded samples' ABSOLUTE amplitudes (the energy envelope),
    // same integer cross-product compares, same two-halves packing,
    // same banded hamming pairing (shared `hammingNearDups`). FULL
    // oracle: DuckDB rebuilds each 16-bit signed sample from the
    // source bytes (the q124 reconstruction), then every hash bit and
    // partner count.
    // ---------------- sketch set algebra: HLL distinct intersection ----------------
    // "How many keys are in BOTH segments" at sketch cost: HLL can
    // union but not intersect, so the estimate is inclusion-exclusion
    // (est_A + est_B − est_A∪B) — three parameter-sized sketches, no
    // exact distinct over the fact table needed at data scale. The
    // compounded error has no tight a-priori bound, so the envelope
    // pins a GENEROUS one (each estimate within 10% of exact; the
    // intersection within 10% of the larger segment) — the q91/q105
    // pattern: rows keyed on the DuckDB-recomputable exact
    // cardinalities, verdict booleans pinned TRUE. The exact columns
    // exist to KEY the oracle; a 100 TB run keeps only the sketches.
    Q("q196_hll_intersection", (s, dir) => {
      val li = t(s, dir).lineitem
      val a = li.filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("k"))
      val b = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k"))
      val skA = a.agg(hll_sketch_agg(col("k")).as("sa"),
        countDistinct(col("k")).as("n_a"))
      val skB = b.agg(hll_sketch_agg(col("k")).as("sb"),
        countDistinct(col("k")).as("n_b"))
      val exact = a.intersect(b).agg(count(lit(1)).as("n_inter"))
        .crossJoin(a.unionByName(b).agg(countDistinct(col("k")).as("n_union")))
      val estA = hll_sketch_estimate(col("sa"))
      val estB = hll_sketch_estimate(col("sb"))
      val estU = hll_sketch_estimate(hll_union(col("sa"), col("sb")))
      val estI = estA + estB - estU
      skA.crossJoin(skB).crossJoin(exact)
        .select(col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
          (abs(estA - col("n_a")) <= col("n_a") * 0.1).as("a_ok"),
          (abs(estB - col("n_b")) <= col("n_b") * 0.1).as("b_ok"),
          (abs(estU - col("n_union")) <= col("n_union") * 0.1).as("union_ok"),
          (abs(estI - col("n_inter")) <=
            greatest(col("n_a"), col("n_b")) * 0.1).as("inter_ok"))
    },
      """WITH a AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
                    WHERE l_quantity >= 45),
         b AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
               WHERE l_returnflag = 'R')
         SELECT
           CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM
             (SELECT k FROM a UNION SELECT k FROM b)) AS BIGINT) AS n_union,
           CAST((SELECT count(*) FROM
             (SELECT k FROM a INTERSECT SELECT k FROM b)) AS BIGINT) AS n_inter,
           TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS inter_ok"""),

    // ---------------- market-basket association rules ----------------
    // Frequent brand pairs across orders with support / confidence /
    // lift — pairs generated in-task per basket's distinct item set,
    // counted in one keyed agg; the oracle runs the quadratic
    // within-basket self-join instead. Fixed-point (×1e6, floor
    // division) keeps every derived metric exact integer.
    Q("q173_basket_rules", (s, dir) => {
      val li = t(s, dir).lineitem.select(col("l_orderkey"), col("l_partkey"))
      val brands = li.join(
        t(s, dir).part.select(col("p_partkey"), col("p_brand")),
        li("l_partkey") === col("p_partkey"))
      Association.pairRules(brands, "l_orderkey", "p_brand", minSupport = 100L)
        .orderBy("item_a", "item_b")
    },
      // the oracle counts pair support with the quadratic within-basket
      // self-join the in-task pair generation replaces
      """WITH bi AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         supp AS (SELECT i, count(*) AS s FROM bi GROUP BY i),
         n AS (SELECT count(DISTINCT b) AS nb FROM bi),
         pr AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS supp_ab
             FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
             GROUP BY 1, 2 HAVING count(*) >= 100)
         SELECT item_a, item_b, sa.s AS supp_a, sb.s AS supp_b, supp_ab,
           nb AS n_baskets,
           supp_ab * 1000000 // sa.s AS conf_ab_fp,
           supp_ab * 1000000 // sb.s AS conf_ba_fp,
           (supp_ab * nb * 1000000) // (sa.s * sb.s) AS lift_fp
         FROM pr JOIN supp sa ON sa.i = pr.item_a
           JOIN supp sb ON sb.i = pr.item_b CROSS JOIN n
         ORDER BY item_a, item_b"""),

    // ---------------- per-group MAD robust-dispersion profile ----------------
    // Exact lower-median rank selection (no interpolation, all
    // integer arithmetic) → median, MAD, and |v−med| > 3·MAD outlier
    // counts per language — the robust gate next to q103/q104's
    // percentile-based ones.
    Q("q176_mad_outliers", (s, dir) =>
      Outliers.madProfile(t(s, dir).documents, col("lang"), col("n_chars"))
        .select(col("__g").as("lang"), col("n"), col("med"), col("mad"),
          col("n_outliers"))
        .orderBy("lang"),
      // the oracle replays the identical rank selection — lower median
      // by row_number, then the MAD the same way
      """WITH v AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v
             FROM documents),
         m AS (SELECT g, v AS med FROM (
             SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY g) AS n FROM v)
           WHERE rn = (n + 1) // 2),
         d AS (SELECT v.g, med, abs(v - med) AS dd FROM v JOIN m USING (g)),
         md AS (SELECT g, dd AS mad FROM (
             SELECT g, dd, row_number() OVER (PARTITION BY g ORDER BY dd) AS rn,
               count(*) OVER (PARTITION BY g) AS n FROM d)
           WHERE rn = (n + 1) // 2)
         SELECT d.g AS lang, count(*) AS n,
           CAST(max(med) AS BIGINT) AS med, CAST(max(mad) AS BIGINT) AS mad,
           CAST(sum(CASE WHEN dd > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
         FROM d JOIN md USING (g) GROUP BY d.g ORDER BY lang"""),
  )
}
