"""Multimodal binary-column tests: the fake codec is deterministic, so
every distributed result is asserted against a pure-Python recomputation
of the same bytes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as MM
from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = load_table(spark, SF, "documents").limit(60)
    return MM.media_from_documents(docs).persist()


@pytest.fixture(scope="module")
def docs_rows(spark):
    return {
        r["doc_id"]: (r["text"] or "")
        for r in load_table(spark, SF, "documents").limit(60).collect()
    }


def test_media_schema_and_payload(media, docs_rows):
    # same names and types (nullability flags differ between an expression
    # output and a declared schema — irrelevant here)
    assert [(f.name, f.dataType.simpleString()) for f in media.schema] == [
        (f.name, f.dataType.simpleString()) for f in MM.MEDIA_SCHEMA
    ]
    rows = {r["media_id"]: r for r in media.collect()}
    assert set(rows) == set(docs_rows)
    for mid, text in docs_rows.items():
        r = rows[mid]
        assert bytes(r["payload"]) == text.encode("utf-8")
        assert r["kind"] == MM.KINDS[mid % 3]
        assert r["meta"]["width"] == 16 + mid % 48
        assert r["meta"]["n_frames"] == 1 + mid % 16


def test_decode_stats_exact(media, docs_rows):
    got = {r["media_id"]: r for r in MM.decode_stats(media).collect()}
    for mid, text in docs_rows.items():
        a = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        r = got[mid]
        assert r["n_bytes"] == a.size
        if a.size:
            assert r["byte_mean"] == pytest.approx(float(a.mean()))
            assert r["byte_min"] == int(a.min())
            assert r["byte_max"] == int(a.max())


def test_resize_image_exact(media, docs_rows):
    out = MM.resize_image(media.filter(F.col("kind") == "image"), 8, 8)
    got = {r["media_id"]: r for r in out.collect()}
    assert got, "expected image rows"
    for mid, r in got.items():
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
        w, h = 16 + mid % 48, 16 + mid % 32
        grid = np.zeros(h * w, dtype=np.uint8)
        src = np.frombuffer(docs_rows[mid].encode("utf-8"), dtype=np.uint8)[: h * w]
        grid[: src.size] = src
        grid = grid.reshape(h, w)
        yi, xi = (np.arange(8) * h) // 8, (np.arange(8) * w) // 8
        assert bytes(r["payload"]) == grid[np.ix_(yi, xi)].tobytes()


def test_sample_frames_exact(media, docs_rows):
    frames = MM.sample_frames(media, every_k=2).collect()
    by_media: dict[int, list] = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    video_ids = [mid for mid in docs_rows if mid % 3 == 2]
    assert set(by_media) <= set(video_ids)
    for mid in video_ids:
        n = 1 + mid % 16
        payload = docs_rows[mid].encode("utf-8")
        flen = len(payload) // n
        expected = {
            i: payload[i * flen : (i + 1) * flen] for i in range(0, n, 2)
        }
        got = {r["frame_idx"]: bytes(r["frame"]) for r in by_media.get(mid, [])}
        assert got == expected


def test_payload_fingerprint_dedups_exact_copies(spark, media):
    doubled = media.unionAll(media)
    n_distinct = (
        doubled.select(MM.payload_fingerprint("payload").alias("fp"))
        .distinct()
        .count()
    )
    base = media.select(MM.payload_fingerprint("payload").alias("fp")).distinct().count()
    assert n_distinct == base


def test_real_codec_gate_raises():
    with pytest.raises(NotImplementedError):
        MM._decode_real("image", b"x", {})


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        return False


def test_real_codec_gate_raises_per_kind():
    # audio/video always gate in this container; image gates only when
    # Pillow is absent (when present, the image branch is the real path
    # tested below)
    with pytest.raises(NotImplementedError):
        MM._decode_real("audio", b"x", {})
    with pytest.raises(NotImplementedError):
        MM._decode_real("video", b"x", {})


@pytest.mark.skipif(not _pil_available(), reason="Pillow not installed")
def test_decode_stats_real_codec_pillow_roundtrip(spark, tmp_path):
    """codec='real': PNG payloads decode through Pillow inside the same
    mapInPandas stage, and the stats equal the known pixel values."""
    import io

    import numpy as np
    import PIL.Image

    grids = {
        1: np.arange(16, dtype=np.uint8).reshape(4, 4),
        2: np.full((2, 3), 200, dtype=np.uint8),
    }
    rows = []
    for mid, g in grids.items():
        buf = io.BytesIO()
        PIL.Image.fromarray(g, mode="L").save(buf, format="PNG")
        rows.append(
            (
                mid,
                "image",
                bytearray(buf.getvalue()),
                {"width": g.shape[1], "height": g.shape[0],
                 "sample_rate": 0, "n_frames": 1, "fmt": "png"},
            )
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in MM.decode_stats(media, codec="real").collect()
    }
    for mid, g in grids.items():
        r = got[mid]
        assert r["n_bytes"] == g.size
        assert r["byte_mean"] == pytest.approx(float(g.mean()))
        assert (r["byte_min"], r["byte_max"]) == (int(g.min()), int(g.max()))


def test_byte_histogram_features_match_python(media, docs_rows, spark):
    feats = {
        r["media_id"]: r["feat"]
        for r in MM.byte_histogram_features(media).collect()
    }
    assert len(feats) == media.count()
    for mid, feat in feats.items():
        payload = (docs_rows[mid] or "").encode("utf-8")
        a = np.frombuffer(payload, dtype=np.uint8)
        if a.size == 0:
            assert feat == [0.0] * 16
            continue
        ref = (np.bincount(a >> 4, minlength=16) / a.size).tolist()
        assert feat == ref  # bit-identical, not approx
        assert abs(sum(feat) - 1.0) < 1e-12


def test_ahash_signatures_match_python_reference(spark):
    import numpy as np

    from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "abcabcabc"), (1, ""), (2, "zzzzzz aaaaaa " + "q" * 80)],
        "doc_id long, text string",
    )
    media = MM.media_from_documents(docs)
    got = {r["media_id"]: r["sig"] for r in MM.ahash_signatures(media, n=60).collect()}
    for mid, text in [(0, "abcabcabc"), (1, ""), (2, "zzzzzz aaaaaa " + "q" * 80)]:
        raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        b = np.zeros(60, dtype=np.int64)
        b[: min(60, raw.size)] = raw[:60]
        mean = b.sum() / 60.0
        sig = 0
        for i in range(60):
            if b[i] > mean:
                sig |= 1 << (59 - i)
        assert got[mid] == sig, mid
    assert got[1] == 0  # empty payload: all-zero samples, no bit set


def test_ahash_near_dups_band_equals_quadratic(spark):
    from pyspark.sql import functions as F

    from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as MM
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        signature_near_dups,
    )

    texts = [
        (0, "the quick brown fox jumps over it"),
        (1, "the quick brown fox jumps over at"),  # 1-char twiddle
        (2, "completely different payload text here with words"),
        (3, "the quick brown fox jumps over it"),  # exact dup of 0
    ]
    media = MM.media_from_documents(
        spark.createDataFrame(texts, "doc_id long, text string")
    )
    sig = MM.ahash_signatures(media).select(F.col("media_id").alias("doc"), "sig")
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in signature_near_dups(sig, 60, 5).collect()
    }
    rows = {r["doc"]: r["sig"] for r in sig.collect()}
    quad = {
        (a, b): bin(rows[a] ^ rows[b]).count("1")
        for a in rows
        for b in rows
        if a < b and bin(rows[a] ^ rows[b]).count("1") <= 5
    }
    assert banded == quad
    assert banded[(0, 3)] == 0  # exact dup found at distance 0


def test_media_vectors_through_persisted_stores(spark, tmp_path):
    """Media features are first-class citizens of the maintained ANN
    stores (r10 verdict #6): the same write/append/query/delete/compact
    machinery the text embeddings use, driven with byte-histogram
    vectors — persisted IVFPQ equals the in-memory operator, the binary
    store serves, an erasure shadows immediately and a full compaction
    physically drops it."""
    from pyspark.sql import functions as F

    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import ivfpq_topk
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_mm import _media_feat_df
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi

    feats = _media_feat_df(spark, "/root/testdata/sf0.001")
    q = feats.filter(F.col("vec_id") < 8)

    pq = str(tmp_path / "pq")
    base = feats.filter(F.col("vec_id") < 300)
    delta = feats.filter(F.col("vec_id") >= 300)
    vi.write_ivfpq_index(base, pq, n_cells=16, m=4, n_codes=16, iters=1)
    vi.append_to_ivfpq_index(delta, pq)
    # persisted build+append over media vectors == the monolithic
    # in-memory operator with the SAME quantizers? The quantizers are
    # trained on `base` only, so compare against an index built the
    # same way — the q_media_ivfpq_topk registry oracle pins the
    # monolithic form; here we pin served-rows sanity + delete/compact
    served = vi.query_ivfpq_index(spark, pq, q, n_probe=4, k=5)
    assert served.count() == 8 * 5

    full = str(tmp_path / "full")
    vi.write_ivfpq_index(feats, full, n_cells=16, m=4, n_codes=16, iters=1)
    got = sorted(map(tuple, vi.query_ivfpq_index(
        spark, full, q, n_probe=4, k=5).collect()))
    want = sorted(map(tuple, ivfpq_topk(
        feats, q, n_cells=16, n_probe=4, m=4, n_codes=16, k=5, iters=1
    ).collect()))
    assert got == want

    victim = got[0][1]
    vi.delete_from_index(
        feats.filter(F.col("vec_id") == victim).select("vec_id"), full
    )
    assert victim not in {
        r["neighbor_id"]
        for r in vi.query_ivfpq_index(spark, full, q, n_probe=4, k=5).collect()
    }
    vi.compact_store(spark, full, "ivfpq")
    raw = {r["neighbor_id"] for r in spark.read.parquet(f"{full}/codes").collect()}
    assert victim not in raw

    bx = str(tmp_path / "bx")
    vi.write_binary_index(feats, bx)
    assert vi.query_binary_index(spark, bx, q, k=3).count() == 8 * 3
