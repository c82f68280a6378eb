"""Streaming heavy-hitter tracking over an unbounded key stream — the
classic CMS + candidate-set design (Cormode & Muthukrishnan): the
count-min stream answers "how often?", the candidate set remembers
WHICH keys ever looked heavy, and the query re-probes so stale
candidates fall away as the stream total grows.

State = two stores under one root:

* ``cms/``   — the counting state (per-batch ≤(d×w)-row sketch dirs,
  manifest-guarded generation folds: streaming/counting_state.py's
  ``CMS`` row, cms_stream's store). The stream TOTAL needs no separate
  counter: every increment lands once per hash row, so
  ``N = Σ_col c[row=0][col]``.
* ``cands/`` — per-batch relations of keys whose estimate met the
  ``φ·N`` bar when the batch ran. SET semantics (read = distinct
  union; the ``HH_CANDIDATES`` row), so duplicate dirs are absorbed on
  read; its generations carry the subsumption manifest like every set
  store's, which this reader never needs.

Guarantee (one-sided, inherited from CMS): a TRUE heavy hitter is
never missed — when key k last appears, est(k) ≥ true_now(k) ≥ φ·N_now
≥ φ·N_then, so k was flagged then; and every reported key genuinely
has est ≥ φ·N at query time (over-reports are possible — CMS
overestimates — never misses). Keys flagged early that fall below the
bar as N grows are filtered at query time by the re-probe.

At 100 TB/day nothing here is corpus-sized: each batch contributes one
bounded sketch dir and one ≤|batch-vocabulary|-row candidate dir, and
the query runs over bounded relations only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import (
    cms_build,
    cms_estimate,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import cms_stream
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)


def _cms_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "cms")


def _cand_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "cands")


def read_candidates(
    spark: SparkSession, state_dir: str, before_batch: int | None = None
) -> DataFrame:
    """The distinct candidate keys — counting_state.read_counts in its
    ``distinct`` mode: set semantics (duplicate dirs absorb), same
    liveness/retry contract as the sum/max siblings."""
    return _cs.HH_CANDIDATES.read(spark, _cand_dir(state_dir), {}, before_batch)


def compact_candidates(
    spark: SparkSession, state_dir: str, exclude_from: int | None = None
) -> None:
    """Fold candidate dirs into one generation —
    counting_state.compact_counts(agg="distinct"): crash leftovers
    are absorbed by the distinct read, and the generation carries the
    standard manifest. ``exclude_from`` keeps the in-flight batch's dir out of the
    fold so read_candidates' retry exclusion keeps working."""
    _cs.HH_CANDIDATES.compact(spark, _cand_dir(state_dir), {}, exclude_from)


def stream_total(sketch: DataFrame) -> DataFrame:
    """1-row (N): total increments, read off hash row 0 of the folded
    sketch — each occurrence lands exactly once per row."""
    return sketch.filter(F.col("row") == 0).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("N")
    )


def _phi_k(phi: float) -> int:
    # the candidate store stamps this form: floats that quantize
    # identically are the same bar
    return int(phi * (1 << 32))


def _meets_bar(est_col, n_col, phi: float):
    """``est ≥ φ·N`` evaluated EXACTLY: φ quantizes to K/2³² (floor)
    and the comparison runs in DECIMAL integer arithmetic —
    ``est·2³² ≥ K·N``. A float ``phi*N`` can exceed the true product
    by an ulp (0.1·30 → 3.0000000000000004) and silently drop a key
    whose count equals the bar exactly, violating the no-miss
    guarantee (review r6)."""
    k = _phi_k(phi)
    dec = "decimal(38,0)"
    return est_col.cast(dec) * F.lit(1 << 32).cast(dec) >= F.lit(k).cast(
        dec
    ) * n_col.cast(dec)


def heavy_hitters(
    spark: SparkSession,
    state_dir: str,
    phi: float,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """(key, est, n_total): every candidate whose CURRENT estimate
    meets φ·N — the re-probe that ages out keys the growing stream left
    behind. All inputs are bounded relations. The store markers reject
    a CMS substore stamped with a different (d, w) and a candidate
    store built under a DIFFERENT φ (a lowered φ breaks the no-miss
    argument for keys that met the new bar before the change but were
    never flagged)."""
    _cs.HH_CANDIDATES.check(_cand_dir(state_dir), {"phi_k": _phi_k(phi)})
    sketch = cms_stream.read_sketch(spark, _cms_dir(state_dir), d=d, w=w)
    cands = read_candidates(spark, state_dir)
    est = cms_estimate(sketch, cands, "key", d=d, w=w)
    n = stream_total(sketch)
    return (
        est.crossJoin(F.broadcast(n))
        .filter(_meets_bar(F.col("est"), F.col("N"), phi))
        .select("key", "est", F.col("N").alias("n_total"))
    )


def run_hh_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    phi: float,
    key_col: str = "tok",
    text_col: str | None = None,
    d: int = 4,
    w: int = 256,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain ``input_dir`` (parquet files) through the tracker with an
    availableNow trigger: per batch, fold the batch's sketch into the
    CMS store, then flag every DISTINCT batch key whose estimate
    against the up-to-date sketch meets φ·N. Per-batch overwrite of
    both dirs + the checkpoint give exactly-once behavior; a retried
    batch's reads exclude its own failed attempt in BOTH stores."""
    _cs.CMS.stamp(_cms_dir(state_dir), {"d": d, "w": w})
    _cs.HH_CANDIDATES.stamp(_cand_dir(state_dir), {"phi_k": _phi_k(phi)})

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the sketch write and the candidate flagging both
        # derive from the token explode — one source scan per batch,
        # not two (the drift gate's ADVICE-r5 pattern)
        occ = cms_stream.occurrences_from_batch(
            batch_df.withColumnRenamed(key_col, "key")
            if text_col is None
            else batch_df,
            "key",
            text_col,
        ).persist()
        try:
            cmsd = _cms_dir(state_dir)
            write_batch(cms_build(occ, "key", d=d, w=w), cmsd, batch_id)
            # probe against the sketch INCLUDING this batch (its own dir
            # just landed); on retry the overwrite makes this idempotent
            sketch = cms_stream.read_sketch(
                spark, cmsd, before_batch=batch_id + 1
            ).localCheckpoint()
            est = cms_estimate(sketch, occ.distinct(), "key", d=d, w=w)
            flagged = (
                est.crossJoin(F.broadcast(stream_total(sketch)))
                .filter(_meets_bar(F.col("est"), F.col("N"), phi))
                .select("key")
            )
            write_batch(flagged, _cand_dir(state_dir), batch_id)
        finally:
            occ.unpersist()
        compact_if_due(
            cmsd, compact_after_dirs, cms_stream.compact_state,
            spark, cmsd, exclude_from=batch_id,
        )
        compact_if_due(
            _cand_dir(state_dir), compact_after_dirs, compact_candidates,
            spark, state_dir, exclude_from=batch_id,
        )

    drain(spark, input_dir, schema, checkpoint_dir, _update)
