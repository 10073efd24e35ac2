"""Training-data pipeline queries: dedup family, similarity search,
text analysis, multimodal plumbing, streaming — each with a DuckDB
oracle where SQL-expressible.

Shared cross-engine conventions: md5 for all hashing, explicit casts
to DOUBLE before float math, ROUND before ranking/output, total
tiebreaks on ids, and identical 0-based plane/dim indexing (Spark
higher-order-function indexes are 0-based; the SQL subtracts 1)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as MM
from ..operators import similarity as S
from ..operators import textstats as TX


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_SH_SQL = """
  toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
  sh AS (
    SELECT DISTINCT id, t[g.i] || ' ' || t[g.i+1] || ' ' || t[g.i+2] AS shingle
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
    WHERE len(t) >= 3
  )
"""


# ------------------------------------------------------------------ dedup
def dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir)).orderBy("content_hash")


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs ≥ 0.3 — the ground-truth near-dup
    set the LSH variants approximate."""
    sh = D.doc_shingles(_docs(spark, sf_dir))
    return D.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.3)


def _minhash_verified_pairs(docs):
    """Shared MinHash-LSH verified-pairs pipeline (pairs + clusters +
    corpus gates), array-form (round 7): per-doc DISTINCT shingle
    ARRAYS are the working set, so the signature stage (array_min of
    salted md5s), the banded signatures, and the per-doc sizes are
    all pure column expressions — the aggregate path's corpus-wide
    distinct + groupBy exchanges disappear, and the first shuffle in
    the whole pipeline is the (band, sig) candidate self-join. ONE
    localCheckpoint materializes (shingles, band sigs) together —
    every downstream consumer (candidate join sides ×2, verify
    explode, sizes) reads the in-memory partitions instead of
    re-running the shingle/md5 subtree, which is the stage's real
    cost. The repartition before the checkpoint spreads that md5 work
    over the cluster (a small corpus arrives as one scan split).
    Checkpoint size is bounded: arrays are O(corpus tokens),
    candidates O(near-dup pairs)."""
    combined = (
        D.doc_shingle_arrays(docs)
        .repartition(F.col("id"))
        .withColumn("_bands", D.minhash_band_array("shingles", n_bands=4, rows_per_band=2))
        .localCheckpoint()
    )
    sig = (
        combined.filter(F.size("shingles") > 0)
        .select("id", F.explode("_bands").alias("x"))
        .select("id", "x.band", "x.sig")
    )
    # NOT checkpointed: with the array-based verify the candidate set
    # has exactly ONE consumer, so a materialization barrier would
    # only serialize the pipeline into an extra job (the pre-r7 shape
    # consumed it three times and needed one)
    cand = D.lsh_candidate_pairs(sig)
    # Verify WITHOUT the shingle self-join: attach each side's shingle
    # array to the candidate pair (two equi-joins — AQE broadcasts the
    # small side) and count the intersection as a column expression.
    # Exactness vs jaccard_pairs: arrays are per-doc DISTINCT, so
    # size(array_intersect) == the self-join's per-pair common count,
    # and array_except(·, ubiq) == dropping df>cap shingles from BOTH
    # join sides; denominators use the FULL sizes either way. Pairs
    # with an empty capped intersection get jaccard 0 and are filtered
    # exactly like pairs the self-join never produced.
    sh = combined.select("id", F.explode("shingles").alias("shingle"))
    ubiq_arr = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > D.DEFAULT_MAX_DOC_FREQ)
        .agg(F.collect_list("shingle").alias("_ubiq"))
    )
    a = combined.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("_sh_a"),
        F.size("shingles").alias("_sz_a"),
    )
    b = combined.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("_sh_b"),
        F.size("shingles").alias("_sz_b"),
    )
    n_common = F.size(F.array_except(
        F.array_intersect("_sh_a", "_sh_b"), F.coalesce("_ubiq", F.array())
    ))
    return (
        cand.join(a, "id_a").join(b, "id_b").crossJoin(F.broadcast(ubiq_arr))
        .select(
            "id_a", "id_b",
            F.round(
                n_common / (F.col("_sz_a") + F.col("_sz_b") - n_common), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
    )


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle → banded min-hash signatures →
    bucket join for candidates → exact Jaccard verify ≥ 0.3. The
    O(n·bands) scale path vs dedup_ngram_jaccard's O(n²)."""
    return _minhash_verified_pairs(_docs(spark, sf_dir))


def dedup_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir)).orderBy("id")


# -------------------------------------------------------------- similarity
def ann_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.brute_force_topk(emb, queries, k=5)


def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-k (recall<1 tradeoff vs ann_cosine_topk)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.lsh_topk(emb, queries, k=5)


# --------------------------------------------------------------- text ops
def ann_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: multi-table hyperplane
    LSH candidates → exact cosine filter (the embedding analogue of
    MinHash-LSH; high-cosine pairs collide in some table w.h.p.)."""
    # the synthetic embeddings are near-orthogonal (max pairwise
    # cosine ~0.48), so the gate threshold is data-fit; production
    # near-dup runs use the operator default (0.95)
    return S.embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=0.4, n_planes=6, n_tables=4
    )


def ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k (the data-ADAPTIVE sub-quadratic strategy next to
    the data-independent hyperplane LSH): deterministic k-means
    codebook (md5-seeded init, 5 Lloyd iterations), inverted lists,
    4-of-8 cells probed (the measured knee of the recall/latency
    curve: 0.75 recall at +10% latency vs 0.30 at n_probe=1 — probing
    is query-side only and nearly free next to training), exact
    cosine re-rank inside probed lists. The
    whole pipeline — including training — is replayed by the SQL
    oracle because every step is integer/md5-seeded and every ranking
    metric is rounded before its argmin."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4, n_iters=5)


def mm_decode_bmp(spark, sf_dir):
    """REAL image codec path, zero external libs: deterministic 24-bit
    BMPs are encoded from the documents fixture (real BMP container —
    BITMAPINFOHEADER, bottom-up BGR rows, 4-byte row padding), then
    byte-decoded back and feature-extracted (per-channel means over
    the numpy pixel array) in Arrow-batched mapInPandas. Oracle:
    every field derives from the construction parameters in SQL —
    dims from doc_id, byte size from the padded stride, channel means
    as exact integer-sum/n rationals (bit-identical cross-engine)."""
    media = MM.encode_bmp24(_docs(spark, sf_dir))
    return MM.decode_bmp_meta(media)


def text_token_count(spark, sf_dir):
    return TX.token_count(_docs(spark, sf_dir))


def text_quality_score(spark, sf_dir):
    return TX.quality_score(_docs(spark, sf_dir))


def text_lang_id(spark, sf_dir):
    out = TX.lang_id(_docs(spark, sf_dir))
    return out.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )


def text_redact_pii(spark, sf_dir):
    """Pretraining PII scrub over text deliberately salted with a
    deterministic email, phone, and IPv4 per document: placeholders
    substituted, per-kind hit counts kept for audit."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com tel 215-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
        ).alias("text"),
    )
    out = TX.redact_pii(d)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4",
        F.length("text").alias("clean_len"),
        F.substring("text", -40, 40).alias("tail"),
    )


def doc_fingerprint(spark, sf_dir):
    return TX.fingerprint(_docs(spark, sf_dir))


def text_repetition(spark, sf_dir):
    """Gopher-style repetition filter features: top-bigram fraction +
    distinct-token ratio, with half the docs salted by a repeated
    boilerplate phrase so both regimes appear."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" click here click here click here")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return TX.repetition_stats(d)


# -------------------------------------------------------------- multimodal
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: MinHash-LSH verified pairs → connected
    components (min-label propagation) → per-doc cluster id + the
    keep/drop decision. The step between "pairs found" and "one
    document survives per group" that real dedup pipelines run."""
    pairs = _minhash_verified_pairs(_docs(spark, sf_dir))
    cc = D.connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_representative"),
    )


def mm_extract_meta(spark, sf_dir):
    """Binary-column metadata extraction via Arrow-batched mapInPandas —
    the multimodal plumbing op (library-backed codecs are stubbed; see
    operators.multimodal)."""
    media = MM.docs_as_media(_docs(spark, sf_dir))
    return MM.extract_meta(media)


def mm_decode_wav(spark, sf_dir):
    """REAL codec path, no external libs: deterministic PCM-16 WAV
    blobs are encoded from the documents fixture, then the RIFF
    container is byte-decoded back (chunk walk, fmt/data unpack) —
    encode→decode roundtrip verified against a SQL oracle computing
    the same fields from the construction parameters."""
    media = MM.encode_wav_pcm16(_docs(spark, sf_dir))
    return MM.decode_wav_meta(media)


# --------------------------------------------------------------- streaming
def stream_hourly_counts(spark, sf_dir):
    """Structured Streaming microbatch aggregation: file-source tail →
    event-time tumbling window + watermark → memory sink (complete
    mode). Deterministic on a finite source after processAllAvailable."""
    from ..streaming.pipeline import run_windowed_counts

    return run_windowed_counts(spark, sf_dir)


# mirrors operators.dedup.jaccard_pairs' DEFAULT ubiquitous-shingle
# cap (DEFAULT_MAX_DOC_FREQ): intersections count only shingles whose
# document frequency is <= the cap; sizes (denominators) stay FULL —
# the oracle stays in sync with the production default, not just the
# uncapped special case
_JACCARD_TAIL = f"""
  shj AS (
    SELECT sh.id, sh.shingle FROM sh
    JOIN (SELECT shingle FROM sh GROUP BY shingle
          HAVING count(*) <= {D.DEFAULT_MAX_DOC_FREQ}) rare
      USING (shingle)
  ),
  sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
  common AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
    FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
  )
"""

# the full MinHash-LSH verified-pairs pipeline as SQL — shared by the
# pairs gate (dedup_minhash_lsh) and the clustering gate (dedup_clusters)
_MINHASH_PAIRS_SQL = f"""
        WITH {_SH_SQL},
        mh AS (
          SELECT id, br.band, br.row,
                 min(md5(concat_ws('_', br.band, br.row, shingle))) AS minh
          FROM sh, (SELECT b.b AS band, r.r AS row
                    FROM (SELECT unnest([0,1,2,3]) AS b) b,
                         (SELECT unnest([0,1]) AS r) r) br
          GROUP BY id, br.band, br.row
        ),
        sig AS (
          SELECT id, band,
                 string_agg(concat_ws(':', row, minh), '|'
                            ORDER BY concat_ws(':', row, minh)) AS sig
          FROM mh GROUP BY id, band
        ),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
        ),
        {_JACCARD_TAIL}
        SELECT c.id_a, c.id_b,
               round(c.n_common / (sa.sz + sb.sz - c.n_common), 4) AS jaccard
        FROM common c
        JOIN cand ON cand.id_a = c.id_a AND cand.id_b = c.id_b
        JOIN sizes sa ON sa.id = c.id_a
        JOIN sizes sb ON sb.id = c.id_b
        WHERE round(c.n_common / (sa.sz + sb.sz - c.n_common), 4) >= 0.3
"""

DATA_REGISTRY = {
    "dedup_exact": (
        dedup_exact,
        """
        SELECT md5(text) AS content_hash,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text)
        """,
    ),
    "dedup_ngram_jaccard": (
        dedup_ngram_jaccard,
        f"""
        WITH {_SH_SQL}, {_JACCARD_TAIL}
        SELECT c.id_a, c.id_b,
               round(c.n_common / (sa.sz + sb.sz - c.n_common), 4) AS jaccard
        FROM common c
        JOIN sizes sa ON sa.id = c.id_a
        JOIN sizes sb ON sb.id = c.id_b
        WHERE round(c.n_common / (sa.sz + sb.sz - c.n_common), 4) >= 0.3
        """,
    ),
    "dedup_minhash_lsh": (dedup_minhash_lsh, None),  # filled below (shared SQL)
    "dedup_simhash": (
        dedup_simhash,
        """
        WITH toks AS (
          SELECT DISTINCT doc_id AS id, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ),
        bits AS (
          SELECT id, g.j AS j,
                 sum(CASE WHEN strpos('0123456789abcdef', substr(md5(tok), g.j, 1)) - 1 >= 8
                          THEN 1 ELSE -1 END) AS s
          FROM toks, (SELECT unnest(generate_series(1, 16)) AS j) g
          GROUP BY id, g.j
        )
        SELECT id, CAST(sum(CASE WHEN s >= 0 THEN CAST(2 ** (j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY id
        """,
    ),
    "ann_cosine_topk": (
        ann_cosine_topk,
        """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        v AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
        s AS (
          SELECT query_id, neighbor_id,
                 round(list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])), 4) AS sim
          FROM q, v WHERE query_id <> neighbor_id
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM s)
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
        """,
    ),
    # full SQL oracle: the md5-derived hyperplanes are deterministic,
    # so bucket assignment, the multi-table candidate union, and the
    # cosine re-rank are all reproducible in DuckDB (recall vs brute
    # force is additionally property-tested in pytest).
    "ann_lsh_topk": (
        ann_lsh_topk,
        """
        WITH d AS (
          SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS val
          FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
        ),
        tp AS (
          SELECT t.t AS tbl, p.p AS p
          FROM (SELECT unnest(generate_series(0, 7)) AS t) t,
               (SELECT unnest(generate_series(0, 3)) AS p) p
        ),
        s AS (
          SELECT vec_id, tbl, p,
                 sum(val * CASE WHEN strpos('0123456789abcdef',
                        substr(md5(concat_ws('_',
                          CASE WHEN tbl = 0 THEN CAST(p AS VARCHAR)
                               ELSE 't' || tbl || 'p' || p END,
                          i - 1)), 1, 1)) - 1 >= 8
                      THEN 1.0 ELSE -1.0 END) AS s
          FROM d, tp GROUP BY vec_id, tbl, p
        ),
        b AS (
          SELECT vec_id, tbl,
                 CAST(sum(CASE WHEN s >= 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS INT) AS bucket
          FROM s GROUP BY vec_id, tbl
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
          FROM b q JOIN b v ON q.tbl = v.tbl AND q.bucket = v.bucket
          WHERE q.vec_id < 10 AND q.vec_id <> v.vec_id
        ),
        sc AS (
          SELECT c.query_id, c.neighbor_id,
                 round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                              CAST(ne.embedding AS DOUBLE[])), 4) AS sim
          FROM cand c
          JOIN embeddings qe ON qe.vec_id = c.query_id
          JOIN embeddings ne ON ne.vec_id = c.neighbor_id
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM sc)
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
        """,
    ),
    "text_token_count": (
        text_token_count,
        """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_ish_tokens,
               CAST(length(text) AS INT) AS n_chars
        FROM documents
        """,
    ),
    "text_quality_score": (
        text_quality_score,
        """
        WITH f AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 length(text) AS n_chars,
                 {stop_sum} AS stop_hits
          FROM documents
        )
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               round(stop_hits / n_tokens, 4) AS stopword_ratio,
               round((n_chars - (n_tokens - 1)) / n_tokens, 4) AS mean_token_len,
               round(CASE WHEN n_tokens < 5 THEN 0.0
                     ELSE least(1.0, n_tokens / 100.0) * (1.0 - round(stop_hits / n_tokens, 4)) END, 4) AS quality_score
        FROM f
        """.format(
            stop_sum=" + ".join(
                "CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ' '))) / length('{w} ') AS INT)".format(w=w)
                for w in TX.STOPWORDS
            )
        ),
    ),
    "text_lang_id": (text_lang_id, None),  # filled below (long CASE)
    "doc_fingerprint": (
        doc_fingerprint,
        """
        SELECT doc_id,
               substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 16) AS fp
        FROM documents
        """,
    ),
    "mm_extract_meta": (
        mm_extract_meta,
        """
        WITH cs AS (
          SELECT doc_id, CAST(sum(ascii(substr(text, g.i, 1))) AS BIGINT) AS checksum
          FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) g
          GROUP BY doc_id
        )
        SELECT d.doc_id AS media_id,
               CAST(octet_length(encode(d.text)) AS INT) AS n_bytes,
               CAST(ascii(substr(d.text, 1, 1)) AS INT) AS header_byte,
               CAST(octet_length(encode(d.text)) % 640 AS INT) AS fake_width,
               CAST(octet_length(encode(d.text)) % 480 AS INT) AS fake_height,
               cs.checksum
        FROM documents d JOIN cs ON cs.doc_id = d.doc_id
        """,
    ),
    "mm_decode_wav": (
        mm_decode_wav,
        """
        WITH p AS (
          SELECT doc_id,
                 1 + doc_id % 2 AS chan,
                 8000 * (1 + doc_id % 3) AS rate,
                 1 + length(text) % 400 AS ns
          FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(44 + ns * chan * 2 AS BIGINT) AS n_bytes,
               CAST(chan AS BIGINT) AS channels,
               CAST(rate AS BIGINT) AS sample_rate,
               CAST(16 AS BIGINT) AS bits,
               CAST(ns AS BIGINT) AS n_samples,
               CAST(ns * 1000000 // rate AS BIGINT) AS duration_us
        FROM p
        """,
    ),
    "stream_hourly_counts": (
        stream_hourly_counts,
        """
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
        """,
    ),
}


def _count_token_sql(word: str) -> str:
    return (
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {word} ', ' ')))"
        f" / length('{word} ') AS INT)"
    )


_LANG_SQL_SCORES = {
    lang: " + ".join(_count_token_sql(w) for w in words)
    for lang, words in TX.LANG_MARKERS.items()
}

# argmax with fixed precedence en>de>fr>es, strictly-greater ties → 'und'
_LANG_ID_SQL = """
WITH s AS (
  SELECT doc_id, lang AS labeled_lang,
         {en} AS s_en, {de} AS s_de, {fr} AS s_fr, {es} AS s_es
  FROM documents
),
p AS (
  SELECT doc_id, labeled_lang,
    CASE
      WHEN s_es > greatest(s_en, s_de, s_fr, 0) THEN 'es'
      WHEN s_fr > greatest(s_en, s_de, 0) THEN 'fr'
      WHEN s_de > greatest(s_en, 0) THEN 'de'
      WHEN s_en > 0 THEN 'en'
      ELSE 'und' END AS predicted_lang
  FROM s
)
SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY 1, 2
""".format(**_LANG_SQL_SCORES)

DATA_REGISTRY["text_lang_id"] = (text_lang_id, _LANG_ID_SQL)
DATA_REGISTRY["dedup_minhash_lsh"] = (dedup_minhash_lsh, _MINHASH_PAIRS_SQL)
DATA_REGISTRY["ann_neardup_pairs"] = (
    ann_neardup_pairs,
    """
    WITH d AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
    ),
    tp AS (
      SELECT t.t AS tbl, p.p AS p
      FROM (SELECT unnest(generate_series(0, 3)) AS t) t,
           (SELECT unnest(generate_series(0, 5)) AS p) p
    ),
    s AS (
      SELECT vec_id, tbl, p,
             sum(val * CASE WHEN strpos('0123456789abcdef',
                    substr(md5(concat_ws('_',
                      CASE WHEN tbl = 0 THEN CAST(p AS VARCHAR)
                           ELSE 't' || tbl || 'p' || p END,
                      i - 1)), 1, 1)) - 1 >= 8
                  THEN 1.0 ELSE -1.0 END) AS s
      FROM d, tp GROUP BY vec_id, tbl, p
    ),
    b AS (
      SELECT vec_id, tbl,
             CAST(sum(CASE WHEN s >= 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS INT) AS bucket
      FROM s GROUP BY vec_id, tbl
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
      WHERE x.vec_id < y.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4
    """,
)
DATA_REGISTRY["dedup_clusters"] = (
    dedup_clusters,
    f"""
    WITH RECURSIVE pairs AS (
      {_MINHASH_PAIRS_SQL}
    ),
    e AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS label FROM e
      UNION
      SELECT e.b, r.label FROM e JOIN reach r ON e.a = r.node
    ),
    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           node = cluster_id AS is_representative
    FROM cc
    """,
)


def pipeline_training_corpus(spark, sf_dir):
    """The operators COMPOSED as a real training-data prep pipeline:
    near-dup clustering (MinHash-LSH pairs → connected components →
    one representative per cluster) → quality scoring → language ID →
    corpus filter (quality >= 0.2, identified language). Exactly the
    shape a 100-TB pretraining cleanup runs; every stage is the
    already-oracled operator, and the composition has its own
    end-to-end SQL oracle."""
    docs = _docs(spark, sf_dir)
    pairs = _minhash_verified_pairs(docs)
    reps = D.keep_cluster_representatives(docs, D.connected_components(pairs))
    # one projection pass computes quality AND language (identical
    # expressions via the shared builders) — the former
    # quality_score ⋈ lang_id self-join scanned reps twice
    return (
        TX.quality_lang(reps)
        .filter((F.col("quality_score") >= 0.2) & (F.col("predicted_lang") != "und"))
        .select("doc_id", "n_tokens", "quality_score", "predicted_lang")
    )


_CORPUS_SQL = f"""
    WITH RECURSIVE pairs AS (
      {_MINHASH_PAIRS_SQL}
    ),
    e AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS label FROM e
      UNION
      SELECT e.b, r.label FROM e JOIN reach r ON e.a = r.node
    ),
    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
    reps AS (
      SELECT * FROM documents
      WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
    ),
    f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             {{stop_sum}} AS stop_hits
      FROM reps
    ),
    q AS (
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             round(CASE WHEN n_tokens < 5 THEN 0.0
                   ELSE least(1.0, n_tokens / 100.0) * (1.0 - round(stop_hits / n_tokens, 4)) END, 4) AS quality_score
      FROM f
    ),
    ls AS (
      SELECT doc_id, {{en}} AS s_en, {{de}} AS s_de, {{fr}} AS s_fr, {{es}} AS s_es
      FROM reps
    ),
    l AS (
      SELECT doc_id,
        CASE
          WHEN s_es > greatest(s_en, s_de, s_fr, 0) THEN 'es'
          WHEN s_fr > greatest(s_en, s_de, 0) THEN 'fr'
          WHEN s_de > greatest(s_en, 0) THEN 'de'
          WHEN s_en > 0 THEN 'en'
          ELSE 'und' END AS predicted_lang
      FROM ls
    )
    SELECT q.doc_id, q.n_tokens, q.quality_score, l.predicted_lang
    FROM q JOIN l ON q.doc_id = l.doc_id
    WHERE q.quality_score >= 0.2 AND l.predicted_lang <> 'und'
""".format(
    stop_sum=" + ".join(
        "CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ' '))) / length('{w} ') AS INT)".format(w=w)
        for w in TX.STOPWORDS
    ),
    **_LANG_SQL_SCORES,
)

DATA_REGISTRY["pipeline_training_corpus"] = (pipeline_training_corpus, _CORPUS_SQL)

# PII patterns are syntax shared by Java regex and RE2, so the oracle
# uses the very same strings (DuckDB needs the explicit 'g' flag —
# Spark's regexp_replace is global by default)
_PII_EMAIL, _PII_PHONE, _PII_IP = (
    TX.PII_PATTERNS["email"], TX.PII_PATTERNS["phone"], TX.PII_PATTERNS["ipv4"]
)
def _ivf_oracle_sql(n_centroids: int = 8, n_iters: int = 5, n_probe: int = 4, k: int = 5) -> str:
    """Full SQL replay of ivf_topk INCLUDING codebook training: the
    md5-seeded init and the rounded-before-argmin ranking metrics make
    every Lloyd iteration reproducible, so the 5 iterations unroll to
    5 CTE pairs (assign → update). Channel of truth for determinism:
    sums of float32-derived doubles here stay exact (value exponent
    spread << 53 bits), avg is one correctly-rounded division, the
    REAL cast replays Spark's float32 centroid storage, and round(_, 9)
    absorbs last-ulp summation-order noise before any argmin."""
    prev = "c0"
    iters = []
    for it in range(1, n_iters + 1):
        iters.append(f"""
    a{it} AS (
      SELECT vec_id, centroid_id FROM (
        SELECT t.vec_id, t.centroid_id,
               row_number() OVER (PARTITION BY t.vec_id
                                  ORDER BY t.d2 ASC, t.centroid_id ASC) AS rn
        FROM (
          SELECT d.vec_id, c.centroid_id,
                 round(sum((d.val - c.m) * (d.val - c.m)), 9) AS d2
          FROM d JOIN {prev} c ON c.i = d.i
          GROUP BY d.vec_id, c.centroid_id
        ) t
      ) z WHERE rn = 1
    ),
    c{it} AS (
      SELECT a.centroid_id, d.i, CAST(CAST(avg(d.val) AS REAL) AS DOUBLE) AS m
      FROM a{it} a JOIN d ON d.vec_id = a.vec_id
      GROUP BY a.centroid_id, d.i
    )""")
        prev = f"c{it}"
    return f"""
    WITH d AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
    ),
    c0 AS (
      SELECT init.centroid_id, d.i, d.val AS m
      FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id
        FROM embeddings
      ) init JOIN d ON d.vec_id = init.vec_id
      WHERE init.centroid_id <= {n_centroids}
    ),{",".join(iters)},
    csim_all AS (
      SELECT d.vec_id, c.centroid_id,
             round(sum(d.val * c.m) /
                   (sqrt(sum(d.val * d.val)) * sqrt(sum(c.m * c.m))), 9) AS csim
      FROM d JOIN {prev} c ON c.i = d.i
      GROUP BY d.vec_id, c.centroid_id
    ),
    lists AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, centroid_id ASC) AS rn
        FROM csim_all) z WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, centroid_id ASC) AS rn
        FROM csim_all WHERE vec_id < 10) z WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, l.neighbor_id
      FROM probes p JOIN lists l ON l.centroid_id = p.centroid_id
      WHERE p.query_id <> l.neighbor_id
    ),
    sc AS (
      SELECT c.query_id, c.neighbor_id,
             round(sum(dq.val * dn.val) /
                   (sqrt(sum(dq.val * dq.val)) * sqrt(sum(dn.val * dn.val))), 4) AS sim
      FROM cand c
      JOIN d dq ON dq.vec_id = c.query_id
      JOIN d dn ON dn.vec_id = c.neighbor_id AND dn.i = dq.i
      GROUP BY c.query_id, c.neighbor_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM sc)
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k}
    """


DATA_REGISTRY["ann_ivf_topk"] = (ann_ivf_topk, _ivf_oracle_sql())
DATA_REGISTRY["mm_decode_bmp"] = (
    mm_decode_bmp,
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             COALESCE(length(text), 0) AS L
      FROM documents
    ),
    g AS (
      SELECT p.doc_id, p.L, x.x AS x, y.y AS y
      FROM p,
      LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS x) x,
      LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS y) y
    ),
    m AS (
      SELECT doc_id,
             avg(CAST((x * y + L) % 256 AS DOUBLE)) AS mean_r,
             avg(CAST((doc_id * 3 + y) % 256 AS DOUBLE)) AS mean_g,
             avg(CAST((doc_id + x) % 256 AS DOUBLE)) AS mean_b
      FROM g GROUP BY doc_id
    )
    SELECT CAST(p.doc_id AS BIGINT) AS media_id,
           CAST(54 + ((p.w * 3 + 3) // 4) * 4 * p.h AS BIGINT) AS n_bytes,
           CAST(p.w AS BIGINT) AS width,
           CAST(p.h AS BIGINT) AS height,
           m.mean_r, m.mean_g, m.mean_b
    FROM p JOIN m ON m.doc_id = p.doc_id
    """,
)

DATA_REGISTRY["text_repetition"] = (
    text_repetition,
    """
    WITH salted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN text || ' click here click here click here'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM salted),
    bg AS (
      SELECT doc_id, t[g.i] || ' ' || t[g.i + 1] AS bg
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      WHERE len(t) >= 2
    ),
    per AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg),
    rep AS (SELECT doc_id, max(n) AS top_n, sum(n) AS total_n FROM per GROUP BY doc_id)
    SELECT k.doc_id,
           CAST(len(k.t) AS INT) AS n_tokens,
           round(len(list_distinct(k.t)) / len(k.t), 4) AS distinct_token_ratio,
           round(coalesce(rep.top_n / rep.total_n, 0.0), 4) AS top_bigram_frac
    FROM toks k LEFT JOIN rep ON rep.doc_id = k.doc_id
    """,
)
DATA_REGISTRY["text_redact_pii"] = (
    text_redact_pii,
    f"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com tel 215-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
      FROM documents
    ),
    red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_email,
             CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phone,
             CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ipv4,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IPV4>', 'g') AS text
      FROM salted
    )
    SELECT doc_id, n_email, n_phone, n_ipv4,
           CAST(length(text) AS INT) AS clean_len,
           substr(text, length(text) - 39, 40) AS tail
    FROM red
    """,
)
