package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

import Support._

/** Multimodal payloads: binary feature extraction, container decode and
  * perceptual-hash near-duplicates for images, audio and video.
  */
private[graft] object MediaQueries {

  val all: Seq[Q] = Seq(
    // ---------------- multimodal: binary payload pipeline ----------------
    Q("q37_media_features", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      Multimodal.decodeFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("frame_count"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
           WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 54 + 48 * greatest(1, octet_length(encode(text)) // 48)
           WHEN 1 THEN 44 + 2 * greatest(1, octet_length(encode(text)) // 2)
           ELSE 102 * greatest(1, octet_length(encode(text)) // 48)
           END AS BIGINT) AS n_bytes,
         CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 2
           THEN greatest(1, octet_length(encode(text)) // 48)
           ELSE 1 END AS INT) AS frame_count
         FROM documents ORDER BY media_id"""),

    // ---------------- multimodal: real container decode ----------------
    // The payloads are genuine BMP / WAV / concatenated-BMP binaries;
    // the query parses them (magic, LE headers, row padding, RIFF
    // chunk walk) and reports integer-exact stats over the DECODED
    // pixels/samples. The oracle recomputes the same stats straight
    // from the source byte stream — it matches only if encode→decode
    // round-trips bit-exactly AND the stats are computed over the
    // true decoded values. ORACLE PRECONDITION: the oracle indexes
    // CHARACTERS (substr/unicode) while Spark encodes UTF-8 BYTES, so
    // the differential check is valid only on ASCII corpora (the
    // generated documents table is — verified octet_length==length at
    // every SF). The Spark side itself is byte-correct for any input.
    Q("q124_media_decode", (s, dir) => {
      val docs = t(s, dir).documents
      // Assert the oracle's validity preconditions instead of assuming
      // them: (a) ASCII — the oracle indexes characters, Spark bytes;
      // (b) every doc is >= 2 bytes — an empty text yields no px/smp
      // rows in the oracle (the doc would vanish from its result) and
      // a 1-byte audio payload would read unicode('') = -1 into sum_b.
      SelfCheck.once(s"q124/$dir") {
        // coalesce: over ZERO rows sum/min are SQL NULL and the getters
        // would NPE instead of reporting the real problem
        val r = docs.agg(
          coalesce(sum(when(octet_length(col("text")) =!= length(col("text")), 1)
            .otherwise(0)), lit(0L)).as("non_ascii"),
          coalesce(min(octet_length(col("text"))), lit(0)).as("min_bytes"),
          count(lit(1)).as("n_docs")).head()
        require(r.getLong(2) > 0L, "q124 precondition: documents table is empty")
        require(r.getLong(0) == 0L,
          "q124 oracle precondition violated: non-ASCII documents present")
        require(r.getInt(1) >= 2,
          s"q124 oracle precondition violated: min doc length ${r.get(1)} < 2 bytes")
        SelfCheck.note(s"oracle preconditions over ${r.getLong(2)} docs: " +
          s"0 non-ASCII, min doc length ${r.getInt(1)} ≥ 2 bytes")
      }
      val media = Multimodal.mediaFromDocuments(docs)
      Multimodal.decodeFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_units"), col("sum_a"), col("sum_b"), col("sum_c"))
        .orderBy("media_id")
    },
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len
           FROM documents),
         pxi AS (
           SELECT doc_id, len, text,
             unnest(range(1, least(len, 48 * greatest(1, len // 48)) + 1)) AS i
           FROM src WHERE doc_id % 3 IN (0, 2)),
         px AS (
           SELECT doc_id, len, CAST(i AS INT) AS i,
             unicode(substr(text, CAST(i AS INT), 1)) AS v
           FROM pxi),
         img AS (
           SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' ELSE 'video' END AS kind,
             CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 16 ELSE 4 END AS INT) AS width,
             CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0
               THEN greatest(1, len // 48) ELSE 4 END AS INT) AS height,
             CAST(16 * greatest(1, len // 48) AS BIGINT) AS n_units,
             CAST(coalesce(sum(CASE WHEN (i - 1) % 3 = 0 THEN v END), 0) AS BIGINT) AS sum_a,
             CAST(coalesce(sum(CASE WHEN (i - 1) % 3 = 1 THEN v END), 0) AS BIGINT) AS sum_b,
             CAST(coalesce(sum(CASE WHEN (i - 1) % 3 = 2 THEN v END), 0) AS BIGINT) AS sum_c
           FROM px GROUP BY doc_id, len),
         smpj AS (
           SELECT doc_id, len, text,
             unnest(range(0, greatest(1, len // 2))) AS j
           FROM src WHERE doc_id % 3 = 1),
         smp AS (
           SELECT doc_id, len,
             unicode(substr(text, CAST(2 * j + 1 AS INT), 1))
               + 256 * unicode(substr(text, CAST(2 * j + 2 AS INT), 1))
               - CASE WHEN unicode(substr(text, CAST(2 * j + 2 AS INT), 1)) >= 128
                      THEN 65536 ELSE 0 END AS sv
           FROM smpj),
         aud AS (
           SELECT doc_id AS media_id, 'audio' AS kind,
             CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
             CAST(greatest(1, len // 2) AS BIGINT) AS n_units,
             CAST(sum(sv) AS BIGINT) AS sum_a,
             CAST(sum(abs(sv)) AS BIGINT) AS sum_b,
             CAST(sum(CASE WHEN sv < 0 THEN 1 ELSE 0 END) AS BIGINT) AS sum_c
           FROM smp GROUP BY doc_id, len)
         SELECT * FROM img UNION ALL SELECT * FROM aud
         ORDER BY media_id"""),

    // ---------------- perceptual image dedup (blocked-mean aHash) ----------------
    // Content hashes (q29) split two images differing in one pixel
    // into unrelated buckets; the perceptual fingerprint buckets
    // 64-block mean-threshold bits so near-identical images land
    // within a small hamming distance. The REAL decode path feeds it
    // (BMP parse per row); near-dup partners come from the 4×16-bit
    // banded self-join (complete for hamming ≤ 3). FULL oracle:
    // every bit of every hash AND the partner counts are replayed in
    // DuckDB from the source text bytes — integer cross-product
    // mean compares, no floats anywhere.
    Q("q188_image_phash", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      val hashes = Multimodal.imageHashes(s, media)
      val pairs = Multimodal.imageNearDups(hashes, maxHamming = 3)
      val parts = pairs.select(col("id_a").as("media_id"))
        .unionByName(pairs.select(col("id_b").as("media_id")))
        .groupBy("media_id").agg(count(lit(1)).as("n_neardups"))
      hashes.join(parts, Seq("media_id"), "left")
        .select(col("media_id"), col("h1"), col("h2"),
          coalesce(col("n_neardups"), lit(0L)).as("n_neardups"))
        .orderBy("media_id")
    },
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 48) AS h
           FROM documents WHERE doc_id % 3 = 0),
         pxj AS (
           SELECT doc_id, len, text, 16 * h AS n,
             unnest(range(0, 16 * h)) AS j
           FROM src),
         g AS (
           SELECT doc_id, n, CAST(j AS BIGINT) AS j,
             (CASE WHEN 3*j+1 <= least(len, CAST(n*3 AS BIGINT))
                   THEN unicode(substr(text, CAST(3*j+1 AS INT), 1)) ELSE 0 END
            + CASE WHEN 3*j+2 <= least(len, CAST(n*3 AS BIGINT))
                   THEN unicode(substr(text, CAST(3*j+2 AS INT), 1)) ELSE 0 END
            + CASE WHEN 3*j+3 <= least(len, CAST(n*3 AS BIGINT))
                   THEN unicode(substr(text, CAST(3*j+3 AS INT), 1)) ELSE 0 END
             ) AS gray
           FROM pxj),
         nb AS (SELECT doc_id, max(n) AS n, CAST(sum(gray) AS BIGINT) AS tot
                FROM g GROUP BY 1),
         blk AS (SELECT doc_id, (j * 64) // n AS b,
                   CAST(sum(gray) AS BIGINT) AS bs,
                   CAST(count(*) AS BIGINT) AS bn
                 FROM g GROUP BY 1, 2),
         bits AS (
           SELECT blk.doc_id, CAST(b AS BIGINT) AS b,
             CASE WHEN bs * nb.n > nb.tot * bn THEN 1 ELSE 0 END AS bit
           FROM blk JOIN nb ON blk.doc_id = nb.doc_id),
         hsh AS (
           SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3),
         cnt AS (
           SELECT doc_id, count(*) AS nd
           FROM (SELECT id_a AS doc_id FROM prs
                 UNION ALL SELECT id_b FROM prs)
           GROUP BY 1)
         SELECT h.doc_id AS media_id, h1, h2,
           CAST(coalesce(c.nd, 0) AS BIGINT) AS n_neardups
         FROM hsh h LEFT JOIN cnt c ON h.doc_id = c.doc_id
         ORDER BY media_id"""),

    // ---------------- video near-dup (shared frame fingerprints) ----------------
    // The third perceptual modality: every frame gets the q188
    // blocked-mean fingerprint independently, and two videos pair
    // when their DISTINCT frame-fingerprint sets share ≥ 2 entries —
    // the keyframe-overlap scheme, robust to re-cuts/frame drops
    // where a whole-stream hash is not. One fingerprint-keyed
    // equality self-join (the q65 shape — bucketed, never all-pairs).
    // FULL oracle: DuckDB rebuilds every frame's pixels from the
    // source bytes and replays fingerprints, sets, and pair counts.
    Q("q192_video_neardups", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      Multimodal.videoNearDups(
          Multimodal.videoFrameHashes(s, media), minShared = 2)
        .orderBy("id_a", "id_b")
    },
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 48) AS nf
           FROM documents WHERE doc_id % 3 = 2),
         fr AS (SELECT doc_id, len, text, unnest(range(0, nf)) AS f FROM src),
         px AS (
           SELECT doc_id, CAST(f AS BIGINT) AS f, len, text,
             unnest(range(0, 16)) AS j
           FROM fr),
         g AS (
           SELECT doc_id, f, CAST(j AS BIGINT) AS j,
             (CASE WHEN 48*f + 3*j + 1 <= len THEN
                unicode(substr(text, CAST(48*f + 3*j + 1 AS INT), 1)) ELSE 0 END
            + CASE WHEN 48*f + 3*j + 2 <= len THEN
                unicode(substr(text, CAST(48*f + 3*j + 2 AS INT), 1)) ELSE 0 END
            + CASE WHEN 48*f + 3*j + 3 <= len THEN
                unicode(substr(text, CAST(48*f + 3*j + 3 AS INT), 1)) ELSE 0 END
             ) AS gray
           FROM px),
         tot AS (SELECT doc_id, f, CAST(sum(gray) AS BIGINT) AS tot
                 FROM g GROUP BY 1, 2),
         bits AS (
           SELECT g.doc_id, g.f, 4 * j AS b,
             CASE WHEN gray * 16 > tot THEN 1 ELSE 0 END AS bit
           FROM g JOIN tot ON g.doc_id = tot.doc_id AND g.f = tot.f),
         hsh AS (
           SELECT doc_id, f,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1, 2),
         fsets AS (SELECT DISTINCT doc_id, h1, h2 FROM hsh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_shared
         FROM fsets a JOIN fsets b
           ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY id_a, id_b"""),

    Q("q190_audio_phash", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      val hashes = Multimodal.audioHashes(s, media)
      val pairs = Multimodal.hammingNearDups(hashes, maxHamming = 3)
      val parts = pairs.select(col("id_a").as("media_id"))
        .unionByName(pairs.select(col("id_b").as("media_id")))
        .groupBy("media_id").agg(count(lit(1)).as("n_neardups"))
      hashes.join(parts, Seq("media_id"), "left")
        .select(col("media_id"), col("h1"), col("h2"),
          coalesce(col("n_neardups"), lit(0L)).as("n_neardups"))
        .orderBy("media_id")
    },
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 2) AS n
           FROM documents WHERE doc_id % 3 = 1),
         smpj AS (
           SELECT doc_id, len, text, n, unnest(range(0, n)) AS j FROM src),
         smp AS (
           SELECT doc_id, n, CAST(j AS BIGINT) AS j,
             abs(unicode(substr(text, CAST(2*j+1 AS INT), 1))
               + 256 * unicode(substr(text, CAST(2*j+2 AS INT), 1))
               - CASE WHEN unicode(substr(text, CAST(2*j+2 AS INT), 1)) >= 128
                      THEN 65536 ELSE 0 END) AS e
           FROM smpj),
         nb AS (SELECT doc_id, max(n) AS n, CAST(sum(e) AS BIGINT) AS tot
                FROM smp GROUP BY 1),
         blk AS (SELECT doc_id, (j * 64) // n AS b,
                   CAST(sum(e) AS BIGINT) AS bs,
                   CAST(count(*) AS BIGINT) AS bn
                 FROM smp GROUP BY 1, 2),
         bits AS (
           SELECT blk.doc_id, CAST(b AS BIGINT) AS b,
             CASE WHEN bs * nb.n > nb.tot * bn THEN 1 ELSE 0 END AS bit
           FROM blk JOIN nb ON blk.doc_id = nb.doc_id),
         hsh AS (
           SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3),
         cnt AS (
           SELECT doc_id, count(*) AS nd
           FROM (SELECT id_a AS doc_id FROM prs
                 UNION ALL SELECT id_b FROM prs)
           GROUP BY 1)
         SELECT h.doc_id AS media_id, h1, h2,
           CAST(coalesce(c.nd, 0) AS BIGINT) AS n_neardups
         FROM hsh h LEFT JOIN cnt c ON h.doc_id = c.doc_id
         ORDER BY media_id"""),
  )
}
