"""Similarity search over embedding columns (``array<float>``).

Every top-k operator here returns ``(query_id, neighbor_id, <metric>)``
with ``metric`` one of ``score`` (cosine, best first), ``dist`` (L2²,
best first) or ``hamming`` (sign-bit distance), cut per query by one
rule, :func:`top_k`: rank by the metric, ties by ascending
``neighbor_id``, keep ``k``. Self-matches are excluded and real-valued
metrics are rounded 6dp, the engine's cross-engine contract that lets
the DuckDB oracles (plans/registry_ml.py) replay every answer.

The kernels, by index kind:

* exact scans: ``knn_bruteforce`` (cosine), ``exact_l2_topk_set`` (the
  recall-audit truth set), ``mine_hard_negatives``;
* IVF: ``ivf_knn`` — coarse cells, then cosine within the probed
  cells (:func:`ivf_probe`);
* PQ / IVFPQ: ``pq_adc_topk``, ``pq_opq_topk``, ``ivfpq_topk`` —
  asymmetric distances from per-query lookup tables
  (:func:`ivfpq_probe`);
* SQ8 / IVFSQ: ``sq8_topk``, ``ivfsq_topk`` — L2² against uint8
  bucket-midpoint reconstructions;
* binary and staged: ``binary_hamming_topk`` (:func:`hamming_probe`),
  ``binary_rerank_topk`` and ``matryoshka_topk``, funnels whose second
  stage is :func:`exact_l2_rerank`.

A probe takes the index relations (centroids, postings, codebooks,
codes, signatures) as arguments: the ad-hoc operator builds them in
memory, and sinks/vector_index.py runs the same probe on the relations
it reads from disk. Alongside: banded SRP-LSH candidates
(``lsh_candidates``, ``embedding_near_dups``), SemDeDup, the int8
quantization audit, ranking metrics and the ``embed_text`` featurizer.

Everything is built-in expressions (``zip_with``/``aggregate`` — JVM,
codegen); hyperplanes and seeds are deterministic, reproducible in ANSI
SQL for the oracle.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ accumulated left-to-right in double (bit-reproducible)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def top_k(scored: DataFrame, k: int, metric: str, desc: bool = False) -> DataFrame:
    """(query_id, neighbor_id, ``metric``): the ``k`` best rows of
    ``scored`` per query, ranked by ``metric`` (ascending, or descending
    with ``desc``) with ties broken by ascending neighbor id. The one
    top-k cut of every operator here and of every served-index query
    (sinks/vector_index.py)."""
    return _ranked(scored, k, metric, desc).select("query_id", "neighbor_id", metric)


def _ranked(scored: DataFrame, k: int, metric: str, desc: bool = False) -> DataFrame:
    """``scored`` cut to :func:`top_k`'s rows, each with its rank
    ``__rn`` (1..k) — the cut's body, which :func:`ranking_metrics`
    reads the rank from."""
    order = F.desc(metric) if desc else F.asc(metric)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)


def _sides(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus as (neighbor_id, __c), queries as (query_id, __q)), the
    vectors cast to array<double> — the two sides of every scan."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__c"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__q"),
    )
    return c, q


def _checked(q: str, c: str, what: str = "vector") -> Column:
    """Column ``q``, failing its row when its length differs from column
    ``c``'s: the query-side dimension check of every probe. Unchecked, a
    query of the wrong dimension scores NULL against everything
    (``zip_with`` pads the shorter side) and the NULLs rank first."""
    return F.when(
        F.assert_true(
            F.coalesce(F.size(q) == F.size(c), F.lit(True)),
            F.concat(
                F.lit(f"query {what} dim "),
                F.size(q).cast("string"),
                F.lit(f" != corpus {what} dim "),
                F.size(c).cast("string"),
            ),
        ).isNull(),
        F.col(q),
    )


_Scorer = Callable[[Column, Column], Column]


def _round6(fn: _Scorer) -> _Scorer:
    return lambda a, b: F.round(fn(a, b), 6)


def _scored(
    c: DataFrame,
    q: DataFrame,
    metric: str,
    fn: _Scorer,
    on: str | None = None,
) -> DataFrame:
    """The probe scan: corpus rows ``c`` (neighbor_id, __c[, on]) against
    the broadcast query rows ``q`` (query_id, __q[, on]) — every pair, or
    the pairs sharing ``on`` — self-matches dropped and ``metric`` =
    ``fn(__c, __q)``, the query vector checked against the corpus's."""
    return (
        c.join(F.broadcast(q), on)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(metric, fn(F.col("__c"), _checked("__q", "__c")))
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    splitmix64-style mix of (seed, bit, coordinate) — pure integer
    arithmetic so the SQL oracle can regenerate the identical planes.
    """
    planes = []
    for b in range(bits):
        row = []
        for d in range(dim):
            x = (seed * 1_000_003 + b * 10_007 + d) & 0xFFFFFFFFFFFFFFFF
            x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
            x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
            x = x ^ (x >> 31)
            row.append((x % 2_000_001) / 1_000_000.0 - 1.0)
        planes.append(row)
    return planes


def srp_signature(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: '10110…' string of sign bits."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    bits = []
    for row in planes:
        plane = F.array(*[F.lit(v) for v in row])
        bits.append(F.when(dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: (query_id,
    neighbor_id, score), cut by :func:`top_k` on the 6dp score, best
    first. The join is ``corpus × broadcast(queries)`` — a map-only pass
    over the corpus, linear in its size at any cluster width."""
    c, q = _sides(corpus, queries, id_col, vec_col)
    return top_k(_scored(c, q, "score", _round6(cosine)), k, "score", desc=True)


def lsh_candidates(
    vectors: DataFrame,
    bits_per_band: int = 4,
    bands: int = 4,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (id_a < id_b) pairs sharing an SRP bucket in ANY band.

    ``bands`` independent signatures of ``bits_per_band`` sign bits each;
    candidate recall follows the LSH s-curve 1-(1-p^r)^b with
    p = 1 - θ/π. Each band is one shuffle on its bucket id — the scale
    path that replaces the quadratic cross join.
    """
    planes = hyperplanes(dim, bits_per_band * bands, seed)
    sig = vectors.select(
        F.col(id_col),
        *[
            srp_signature(
                vec_col, planes[b * bits_per_band : (b + 1) * bits_per_band]
            ).alias(f"bucket_{b}")
            for b in range(bands)
        ],
    )
    # one (id, band-tagged key) row per band → SINGLE self-join; the
    # join and the distinct carry only skinny id pairs — the vector
    # payload is re-attached by the caller AFTER the candidate blowup
    # is thinned (cf. the same fix in neardup.simhash_near_dups)
    band_keys = F.array(
        *[
            F.concat_ws("|", F.lit(str(b)), F.col(f"bucket_{b}"))
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col).alias("doc"), F.explode(band_keys).alias("bk"))
    a = banded.select(F.col("doc").alias("id_a"), "bk")
    c = banded.select(F.col("doc").alias("id_b"), "bk")
    thin = (
        a.join(c, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return thin.join(va, "id_a").join(vb, "id_b")


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, cv): deterministic seed centroids — the ``n_cells`` corpus
    vectors with the lowest ids. :func:`kmeans_refine` Lloyd-refines
    these under a 6dp rounding contract that keeps the iteration
    oracle-reproducible across engines; the raw seeds remain the
    zero-pass option. The quantizer quality changes recall, not the
    operator's shape."""
    return corpus.orderBy(F.col(id_col)).limit(n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cv")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    out_id: str = "vec_id",
    keep_score: bool = False,
) -> DataFrame:
    """(out_id, vec, cell[, score]): each vector's ``n_probe`` nearest
    cells by cosine (rounded 6dp; ties broken by cell id — fully
    deterministic). ``keep_score=True`` appends the rounded cosine.

    Centroids are broadcast and the cross join scores ``n_cells``
    cells per vector. The per-vector pick is shaped by ``n_probe``
    (guide §2.3 "aggregate before you shuffle"):

    * ``n_probe == 1`` (the corpus-assignment path — the BIG side of
      every IVF build): one aggregate whose map-side partial combine
      collapses the ``n_cells`` fan-out to ONE row per vector before
      the exchange, so the shuffle carries |corpus| rows instead of
      |corpus| × n_cells and nothing is sorted. The argmax is
      ``max(struct(__cs, -cell, ...))`` — struct comparison is
      lexicographic, ``cell`` is unique within a vector's fan-out, so
      the pick is exactly the old window's (score desc, cell asc) row
      (rounded -0.0/0.0 compare equal in Spark, so the negated
      tiebreak cannot flip).
    * ``n_probe > 1`` (the query/probe side — bounded, decision-sized):
      the original window top-n over the fan-out.

    A zero-shuffle variant (centroids collapsed to one broadcast array
    row, argmin via array_min of structs) was measured and REJECTED:
    row-identical, and it removes even this exchange, but interleaved
    idle A/B of the full composed ivfpq (min-of-5 ×2 rounds) ran
    window 3.25/2.29 s, this aggregate 3.51/2.40 s, array 3.74/3.57 s —
    with single-row-group bench inputs the exchange is ALSO what fans
    the downstream Lloyd/encode work across cores, so deleting it
    serializes the pipeline; the aggregate keeps the parallelism while
    cutting the shuffled rows ×n_cells."""
    scored = vectors.select(
        F.col(id_col).alias(out_id), F.col(vec_col).alias("__v")
    ).join(F.broadcast(centroids)).withColumn(
        "__cs", F.round(cosine(F.col("__v"), F.col("cv")), 6)
    )
    cols = [out_id, F.col("__v").alias(vec_col), "cell"]
    if keep_score:
        cols.append(F.col("__cs").alias("score"))
    if n_probe == 1:
        # cell ids are numeric in every caller (vec/doc ids); negation
        # flips the tiebreak to ascending under max(). Fail loudly on a
        # non-numeric cell column (r13 advice): the negation would die
        # in analysis with an opaque message, and the constraint
        # otherwise lives only in this comment.
        from pyspark.sql import types as T

        cell_t = centroids.schema["cell"].dataType
        if not isinstance(cell_t, T.NumericType):
            raise TypeError(
                "ivf_assign(n_probe=1) needs a NUMERIC cell column for "
                f"its ascending tiebreak; got {cell_t.simpleString()} — "
                "use the n_probe>1 window path for orderable non-numeric "
                "cell ids"
            )
        best = scored.groupBy(out_id).agg(
            F.max(
                F.struct(
                    F.col("__cs"),
                    (-F.col("cell")).alias("__negc"),
                    F.col("cell"),
                    F.col("__v"),
                )
            ).alias("__m")
        ).select(
            out_id,
            F.col("__m.__v").alias("__v"),
            F.col("__m.cell").alias("cell"),
            F.col("__m.__cs").alias("__cs"),
        )
        return best.select(*cols)
    w = Window.partitionBy(out_id).orderBy(F.desc("__cs"), F.asc("cell"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_probe)
        .select(*cols)
    )


def kmeans_refine(
    corpus: DataFrame,
    n_cells: int,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, cv): :func:`ivf_centroids` seeds refined by ``iters``
    deterministic Lloyd steps — assign every vector to its nearest
    centroid (cosine rounded 6dp, cell-id tie-break), recompute each
    cell's column-wise mean, round components to 6dp.

    The rounding makes the iteration a cross-engine CONTRACT, not just
    an algorithm: every assignment compares identical rounded doubles,
    and every new centroid is a deterministic function of the assigned
    set, so DuckDB replays the loop bit-for-bit (unrolled CTEs, see
    plans/registry_ml.py) — upgrading the seeded-only quantizer that
    ivf_centroids documents as the no-refinement fallback. Cells left
    empty by an iteration drop out, exactly as in classic Lloyd.

    Shuffle profile per iteration: one broadcast-join map pass for
    assignment (no shuffle), one hash-agg on (cell, component) — the
    same partial-combine shape as the label-centroid query — and one
    tiny agg on cell. ``iters`` is a small constant (1–3 moves seeds
    most of the way); each round is a full corpus pass, so cost is
    iters × O(scan), never quadratic."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, id_col, vec_col, out_id="__id")
        comp = assigned.select(
            "cell", F.posexplode(F.col(vec_col).cast("array<double>"))
        )
        cents = (
            comp.groupBy("cell", "pos")
            .agg(F.round(F.sum("col") / F.count("*"), 6).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cell", F.transform("pm", lambda s: s.getField("m")).alias("cv")
            )
        )
    return cents


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into ``n_cells``
    inverted lists, probe each query's ``n_probe`` nearest cells, exact
    cosine only within probed cells (:func:`ivf_probe` over the
    in-memory centroids and postings).

    The 100 TB story: assignment is map-only (broadcast centroids); the
    search shuffles corpus and probes on ``cell`` — each query touches
    ~n_probe/n_cells of the corpus instead of all of it, and cells are
    the unit of partition-pruning when the assignment is written out
    partitioned by cell. Recall < 1 when a true neighbor's cell isn't
    probed — the standard IVF trade (n_probe is the knob).

    Output (query_id, neighbor_id, score), ranked by (score desc,
    neighbor_id) per query.
    """
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    postings = ivf_assign(corpus, cents, id_col, vec_col, out_id="neighbor_id")
    return ivf_probe(cents, postings, queries, n_probe, k, id_col, vec_col)


def ivf_probe(
    cents: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score): the IVF kind's probe — each
    query's ``n_probe`` nearest cells of ``cents`` (cell, cv), then
    6dp cosine against the ``postings`` (neighbor_id, ``vec_col``, cell)
    of those cells only, cut by :func:`top_k`. A persisted postings
    scan receives the probed cells as a partition filter."""
    probes = ivf_assign(
        queries, cents, id_col, vec_col, n_probe=n_probe, out_id="query_id"
    )
    q = probes.select("query_id", F.col(vec_col).alias("__q"), "cell")
    c = postings.select("neighbor_id", F.col(vec_col).alias("__c"), "cell")
    scored = _scored(c, q, "score", _round6(cosine), on="cell")
    return top_k(scored, k, "score", desc=True)


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.4,
    bits_per_band: int = 4,
    bands: int = 4,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH + exact
    verify. Output (id_a, id_b, score ≥ threshold), no false positives;
    pairs split by every band are missed — the recall/cost trade is the
    (bits_per_band, bands) knob."""
    cand = lsh_candidates(vectors, bits_per_band, bands, seed, dim, id_col, vec_col)
    return (
        cand.withColumn("score", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def quantize_audit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization audit: per vector, the max-abs scale,
    the quantized-then-dequantized reconstruction MSE, and the count of
    saturated (|q| = 127) dims.

    The storage lever at 100 TB: float32 embeddings → int8 cuts the
    corpus 4× (and the real win is downstream shuffle/scan bytes). The
    audit quantifies per-vector information loss BEFORE committing:
    ``q_i = round(x_i * 127 / max|x|)``, ``mse = mean((x_i - q_i/scale)²)``.
    All arithmetic is sequential-fold double math over the array — no
    aggregation-order dependence, so an SQL oracle replays it exactly.
    Map-only; zero-vectors define mse 0 with scale 0.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.lit(127.0) / maxabs
    deq = F.transform(v, lambda x: F.round(x * scale) / scale)
    sqerr = F.zip_with(v, deq, lambda a, b: (a - b) * (a - b))
    mse = F.aggregate(sqerr, F.lit(0.0), lambda acc, x: acc + x) / F.size(v)
    n_sat = F.size(
        F.filter(v, lambda x: F.abs(F.round(x * scale)) >= 127)
    ).cast("long")
    zero = maxabs == 0
    return vectors.select(
        F.col(id_col),
        F.size(v).cast("long").alias("n_dims"),
        F.round(F.when(zero, F.lit(0.0)).otherwise(maxabs), 6).alias(
            "max_abs"
        ),
        F.when(zero, F.lit(0)).otherwise(n_sat).cast("long").alias("n_saturated"),
        F.round(F.when(zero, F.lit(0.0)).otherwise(mse), 9).alias("mse"),
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then threshold
    pairwise cosine WITHIN clusters only — semantically-redundant
    documents (paraphrases, re-crawls, templated rewrites) land in the
    same cell and one representative survives; the quadratic all-pairs
    comparison is never formed.

    The reference pipeline (dags/Combine_send_to_postgresql.py:154-168)
    dedups on an exact content key; this is that contract lifted to
    embedding space, with the same deterministic survivor rule:
    **lowest-id-wins** — a vector is dropped iff some LOWER-id vector in
    its cell has cosine ≥ ``threshold`` with it (the first-wins mirror
    of operators/dedup.py, replayable by a SQL oracle; SemDeDup's
    keep-farthest-from-centroid variant is one ORDER BY swap away).

    ``centroids`` is any (cell, cv) relation — :func:`ivf_centroids`
    seeds or :func:`kmeans_refine` output — so the quantizer quality is
    a knob, not a rewrite.

    Output: (``id_col``, cell, max_dup_cos, keep) for EVERY input
    vector; ``max_dup_cos`` is the strongest lower-id within-cell
    similarity (NULL when none ≥ threshold) and ``keep`` is the filter
    decision.

    Scale shape (100 TB): assignment is map-only (broadcast centroids,
    cf. ivf_assign); the within-cell pair generation is ONE shuffle on
    ``cell`` with vectors carried through — unlike the banded LSH
    family there is exactly one row per vector per side, so skinny-
    then-reattach would trade one exchange for three pair-sized ones.
    Cell population is the cost knob: SemDeDup at scale runs with
    n_cells large enough (10k–100k) that cells stay ~10³–10⁴ vectors,
    keeping each cell's pairwise work bounded; AQE's skew-join split
    handles an oversized cell. The dup aggregate is skinny (id, score).
    """
    # the assignment feeds three consumers (both self-join sides + the
    # keep-side spine); localCheckpoint materializes the broadcast-
    # scored pass once instead of recomputing it per consumer — at
    # cluster scale this is where the assignment would be written out
    # as a table anyway (cf. sinks/vector_index.py postings)
    assign = ivf_assign(
        vectors, centroids, id_col, vec_col, n_probe=1, out_id=id_col
    ).localCheckpoint()
    a = assign.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "cell"
    )
    b = assign.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "cell"
    )
    score = F.round(cosine(F.col("__va"), F.col("__vb")), 6)
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__s", score)
        .filter(F.col("__s") >= threshold)
        .groupBy("id_b")
        .agg(F.max("__s").alias("max_dup_cos"))
        .withColumnRenamed("id_b", id_col)
    )
    return (
        assign.select(F.col(id_col), "cell")
        .join(dup, id_col, "left")
        .select(
            F.col(id_col),
            "cell",
            "max_dup_cos",
            F.col("max_dup_cos").isNull().alias("keep"),
        )
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    dup_pairs: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive-training hard negatives: each query's top-``k`` most
    similar corpus vectors that are NOT in ``dup_pairs`` — easy
    negatives teach an embedding model nothing, and near-duplicates
    would poison the loss as false negatives, so the miner wants the
    similarity frontier minus the duplicate set.

    ``dup_pairs`` is any (id_a, id_b) relation (e.g.
    :func:`embedding_near_dups`); both orientations are excluded with
    one skinny anti-join on (query, neighbor) before the per-query
    top-k cut. Scoring is :func:`knn_bruteforce`'s map-only
    corpus × broadcast(queries) scan; at scale swap it for the IVF
    probe. Output: (query_id, neighbor_id, score).
    """
    c, q = _sides(corpus, queries, id_col, vec_col)
    scored = _scored(c, q, "score", _round6(cosine)).select(
        "query_id", "neighbor_id", "score"
    )
    both = dup_pairs.select(
        F.col("id_a").alias("x"), F.col("id_b").alias("y")
    ).unionAll(dup_pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y")))
    filt = scored.join(
        both,
        (scored.query_id == both.x) & (scored.neighbor_id == both.y),
        "left_anti",
    )
    return top_k(filt, k, "score", desc=True)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory side of ANN at 100 TB — vectors
# compressed to m small codes, distances answered from per-query lookup
# tables (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search"; the FAISS IndexPQ design). Complements the IVF family above:
# IVF prunes WHICH vectors a query touches, PQ shrinks WHAT each touch
# costs (m bytes instead of d floats — 64-dim float32 → 4 codes is 64×).
# ---------------------------------------------------------------------------


def l2sq(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ-bᵢ)² accumulated left-to-right in double — the
    bit-reproducible L2² the PQ family scores with (L2 decomposes
    across subspaces, which cosine does not)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_subvectors(
    vectors: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(out_id, *carry, sub, svec): each vector split into ``m``
    contiguous subvectors — the PQ subspace decomposition, map-side
    only. The dimension must divide by ``m`` (runtime-asserted per
    row: a ragged or indivisible corpus fails loudly instead of
    silently training on truncated tails). ``carry`` names extra
    columns to keep alongside the id — how :func:`ivfpq_topk` carries
    the coarse ``cell`` through encoding in ONE corpus pass instead of
    re-joining a corpus-sized cell relation afterwards."""
    v = F.col(vec_col)
    sublen = (F.size(v) / m).cast("int")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(v, j * sublen + 1, sublen),
    )
    guarded = F.when(
        F.assert_true(
            F.size(v) % m == 0,
            F.concat(
                F.lit(f"embedding dim must divide by m={m}, got "),
                F.size(v).cast("string"),
            ),
        ).isNull(),
        subs,
    )
    return vectors.select(
        F.col(id_col).alias(out_id),
        *[F.col(c) for c in carry],
        F.posexplode(guarded).alias("sub", "svec"),
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, code, cv): per-subspace codebooks — within each of the
    ``m`` subspaces, the ``n_codes`` lowest-id subvectors seed the
    codes (code = seed rank, 0-based) and ``iters`` deterministic
    Lloyd steps refine them under the engine's k-means contract
    (distances and centroid components rounded 6dp, code-asc
    tie-break) — the same cross-engine iteration discipline as
    :func:`kmeans_refine`, trained for all subspaces in ONE plan (the
    assignment is a broadcast join keyed on ``sub``; the recompute is
    a (sub, code, component) hash agg — never per-subspace jobs)."""
    sv = pq_subvectors(corpus, m, id_col, vec_col, out_id="__id")
    # Seeds = "the n_codes lowest-__id subvectors per sub". Every vector
    # contributes exactly one row to every sub, so that set is just the
    # subvectors of the n_codes lowest-id VECTORS — a TakeOrdered over
    # the corpus (top-k, no shuffle) instead of the old full-corpus
    # window sort into m partitions (guide §2.4: remove shuffles
    # outright; the window shuffled and sorted every subvector to rank
    # only the first n_codes). The tiny window below ranks n_codes rows.
    seed_rows = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).orderBy("__id").limit(n_codes)
    w = Window.partitionBy("sub").orderBy("__id")
    cb = (
        pq_subvectors(seed_rows, m, "__id", "__vec", out_id="__id")
        .withColumn("__rn", F.row_number().over(w))
        .select(
            "sub",
            (F.col("__rn") - 1).alias("code"),
            F.col("svec").cast("array<double>").alias("cv"),
        )
    )
    for _ in range(iters):
        assigned = _pq_assign(sv, cb)
        comp = assigned.select(
            "sub", "code", F.posexplode(F.col("svec").cast("array<double>"))
        )
        cb = (
            comp.groupBy("sub", "code", "pos")
            .agg(F.round(F.sum("col") / F.count("*"), 6).alias("m"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "sub",
                "code",
                F.transform("pm", lambda t: t.getField("m")).alias("cv"),
            )
        )
    return cb


def _pq_assign(sv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(*sv.columns, code): each subvector's nearest code by rounded
    L2² (6dp, code-asc tie-break). Broadcast codebooks fan the relation
    out ×n_codes map-side; the argmin is one aggregate on (id, sub)
    whose map-side partial combine folds the fan-out back to one row
    per subvector BEFORE the exchange — the shuffle carries |sv| rows
    instead of |sv| × n_codes and nothing is sorted (the old form was
    a window over the full fan-out; guide §2.3). The pick is
    ``min(struct(__d, code, payload...))``: struct comparison is
    lexicographic, ``code`` is unique within a (id, sub) group, so the
    row chosen is exactly the old (__d asc, code asc) rank-1 — NULL
    distances sort first in both forms. Column-preserving so carried
    columns (e.g. the IVF ``cell``) survive encoding. (A zero-shuffle
    array_min-over-broadcast-array variant was measured and rejected —
    see ivf_assign's docstring; same single-row-group serialization.)"""
    idc = sv.columns[0]
    scored = sv.join(F.broadcast(codebooks), "sub").withColumn(
        "__d", F.round(l2sq("svec", "cv"), 6)
    )
    rest = [c for c in sv.columns if c not in (idc, "sub")]
    best = scored.groupBy(idc, "sub").agg(
        F.min(
            F.struct(F.col("__d"), F.col("code"), *[F.col(c) for c in rest])
        ).alias("__m")
    )
    return best.select(
        idc,
        *[F.col(f"__m.{c}").alias(c) for c in rest],
        "sub",
        F.col("__m.code").alias("code"),
    ).select(*sv.columns, "code")


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(out_id, *carry, sub, code): the corpus compressed to its PQ
    codes — m small ints per vector (the relation a served index
    stores; cell-partition it with the IVF postings machinery for
    IVFPQ). ``carry`` keeps extra columns (e.g. the coarse ``cell``)
    attached through encoding, matching the persisted store's
    cell-partitioned layout without a second corpus-sized join."""
    sv = pq_subvectors(vectors, m, id_col, vec_col, out_id=out_id, carry=carry)
    return _pq_assign(sv, codebooks).select(out_id, *carry, "sub", "code")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    k: int = 10,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): asymmetric-distance top-k —
    codebooks trained on the corpus, corpus encoded to (sub, code),
    then each query scores every encoded vector by summing its m
    per-subspace LOOKUP-TABLE entries instead of touching the raw
    floats.

    Determinism: per-(query, sub, code) table entries are L2² rounded
    9dp and summed as DECIMAL(28,12) — an order-free exact reduce — so
    the oracle's GROUP BY replays the distance bit-for-bit; final dist
    rounded 6dp, ties broken by neighbor id.

    Scale shape: the distance table is |queries|×m×n_codes rows
    (broadcast); the scan side is the m-codes-per-vector relation —
    the join fans out to m rows per (query, vector) and the partial
    hash agg folds them back map-side. Memory per vector: m codes, not
    d floats — the reason PQ is how billion-vector corpora are
    actually served."""
    cb = pq_codebooks(corpus, m, n_codes, iters, id_col, vec_col)
    codes = pq_encode(corpus, cb, m, id_col, vec_col, out_id="neighbor_id")
    dtab = _adc_table(pq_subvectors(queries, m, id_col, vec_col, out_id="query_id"), cb)
    return _adc_top_k(codes.join(F.broadcast(dtab), ["sub", "code"]), k)


def _adc_table(qsv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(*keys, sub, code, __term): the ADC lookup table of the query
    subvectors ``qsv`` (*keys, sub, svec) against the broadcast
    ``codebooks`` (sub, code, cv) — one L2² term per (query, sub, code),
    rounded 9dp and held as DECIMAL(28,12) so the sum over subspaces is
    an order-free exact reduce. The subvector is checked against the
    code vector's length."""
    keys = [c for c in qsv.columns if c not in ("sub", "svec")]
    return qsv.join(F.broadcast(codebooks), "sub").select(
        *keys,
        "sub",
        "code",
        F.round(l2sq(_checked("svec", "cv", "subvector"), "cv"), 9)
        .cast("decimal(28,12)")
        .alias("__term"),
    )


def _adc_top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, dist): the ADC term fold — codes joined
    to their table terms, self-matches dropped, the m terms of each
    (query, neighbor) summed and rounded 6dp — cut by :func:`top_k`."""
    dist = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("__term").cast("double"), 6).alias("dist"))
    )
    return top_k(dist, k, "dist")


def _residuals(
    vectors: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    n_probe: int = 1,
) -> DataFrame:
    """(out_id, cell, vec_col): each vector's residual against its
    ``n_probe`` nearest coarse centroids — the relation residual-PQ
    trains/encodes on (corpus: n_probe=1) and the query side tabulates
    per probed cell. The residual is the PLAIN double subtraction, not
    a rounded one: one IEEE op on identical inputs is bit-identical in
    any engine, and crucially it keeps the components GENERIC doubles.
    Rounding them to 6dp would make every downstream distance / Lloyd
    mean an exact short-decimal, parking the later 6/9dp roundings on
    exact halfway points where engines' round() implementations
    disagree (HALF_UP on shortest-repr vs multiply-based) — observed
    as 1-ulp dist mismatches before this was removed."""
    a = ivf_assign(vectors, cents, id_col, vec_col, n_probe=n_probe, out_id=out_id)
    return a.join(F.broadcast(cents), "cell").select(
        out_id,
        "cell",
        F.zip_with(
            _checked(vec_col, "cv").cast("array<double>"),
            F.col("cv").cast("array<double>"),
            lambda x, c: x - c,
        ).alias(vec_col),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    k: int = 10,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, dist): IVF + PQ composed — the shape a
    billion-vector index actually runs (FAISS IVFPQ): the coarse
    quantizer (seed centroids, cosine contract — exactly
    :func:`ivf_knn`'s cells) prunes WHICH vectors a query touches to
    ~n_probe/n_cells of the corpus, and the PQ codes shrink WHAT each
    touch costs to m table lookups instead of a d-float scan.

    ``by_residual=False`` quantizes the raw vectors, so the PQ
    rounding contract stays the one :func:`pq_adc_topk` already proves
    cross-engine. ``by_residual=True`` is the FAISS default and the
    recall upgrade ON CLUSTERED DATA: codes quantize the residual
    (vector − its cell's centroid), so when the coarse cells
    capture real structure the residuals are small and centered and
    the same m/n_codes budget resolves within-cluster differences
    (tests pin the recall win on a clustered corpus). On
    structure-free corpora residuals do NOT shrink — measured on the
    synthetic test embeddings this variant scores slightly BELOW
    non-residual — which is why it is a knob and the recall audits
    exist. The query side tabulates one lookup table PER PROBED CELL
    (|q|×n_probe×m×n_codes rows, still broadcast-sized) because the
    query's residual differs per cell.
    Approximation is two-layer either way — a true neighbor is missed
    if its cell isn't probed (n_probe knob) OR its codes collide
    poorly (m/n_codes knob); audit against exact L2 like
    q_sim_pq_recall before trusting a configuration."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    if not by_residual:
        cb = pq_codebooks(corpus, m, n_codes, iters, id_col, vec_col)
        codes = ivfpq_encode(corpus, cents, cb, m, id_col, vec_col)
        return ivfpq_probe(cents, cb, codes, queries, m, n_probe, k, id_col, vec_col)
    rcorp = _residuals(corpus, cents, id_col, vec_col, "neighbor_id")
    # codebook seeding must EXCLUDE the coarse-seed vectors: a seed's
    # residual against its own centroid is the zero vector, so the
    # lowest-id seeding rule would otherwise hand Lloyd n_codes
    # degenerate near-zero codes and the codebook never spreads (they
    # are still ENCODED, just not seeds)
    rtrain = rcorp.join(
        cents.select(F.col("cell").alias("neighbor_id")), "neighbor_id", "left_anti"
    )
    cb = pq_codebooks(rtrain, m, n_codes, iters, "neighbor_id", vec_col)
    # cell carried through encoding: (neighbor_id, cell, sub, code) in
    # ONE corpus pass — no corpus-sized re-join to attach cells
    codes = pq_encode(
        rcorp, cb, m, "neighbor_id", vec_col, out_id="neighbor_id", carry=("cell",)
    )
    rq = _residuals(queries, cents, id_col, vec_col, "query_id", n_probe=n_probe)
    qsv = pq_subvectors(rq, m, "query_id", vec_col, out_id="query_id", carry=("cell",))
    dtab = _adc_table(qsv, cb)
    return _adc_top_k(codes.join(F.broadcast(dtab), ["cell", "sub", "code"]), k)


def ivfpq_encode(
    vectors: DataFrame,
    cents: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, cell, sub, code): the IVFPQ kind's rows — each
    vector's coarse cell assigned and carried through PQ encoding in
    ONE pass, the layout the persisted ``codes/`` store partitions by
    cell (no corpus-sized join to re-attach the cell)."""
    assigned = ivf_assign(
        vectors, cents, id_col, vec_col, n_probe=1, out_id="neighbor_id"
    )
    return pq_encode(
        assigned, codebooks, m, "neighbor_id", vec_col,
        out_id="neighbor_id", carry=("cell",),
    )


def ivfpq_probe(
    cents: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    m: int,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): the IVFPQ kind's probe — each
    query's ``n_probe`` nearest cells of ``cents``, then the ADC terms
    of its lookup table summed over the ``codes`` (neighbor_id, cell,
    sub, code) of those cells only, cut by :func:`top_k`. A persisted
    codes scan receives the probed cells as a partition filter, and
    each surviving candidate costs m table additions."""
    probes = ivf_assign(
        queries, cents, id_col, vec_col, n_probe=n_probe, out_id="query_id"
    ).select("query_id", "cell")
    dtab = _adc_table(
        pq_subvectors(queries, m, id_col, vec_col, out_id="query_id"), codebooks
    )
    return _adc_top_k(
        codes.join(F.broadcast(probes), "cell").join(
            F.broadcast(dtab), ["query_id", "sub", "code"]
        ),
        k,
    )


def pq_variance_perm(
    corpus: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(pos, dim): a variance-balanced dimension permutation — OPQ's
    eigenvalue-allocation idea (Ge et al. 2014, "Optimized Product
    Quantization") restricted to a PERMUTATION instead of a learned
    rotation: rank dimensions by corpus variance (rounded 6dp,
    dim-asc tie-break — the usual cross-engine ordering contract) and
    deal them round-robin across the ``m`` subspaces, so no subspace
    hoards the high-variance dimensions. When the raw layout
    concentrates variance in one contiguous block (common with PCA- or
    learned-embedding layouts), the contiguous split hands one
    codebook all the signal and the round-robin deal measurably
    recovers recall at the same m/n_codes budget (pinned by
    tests/test_pq.py::test_opq_perm_recovers_recall_on_skewed_corpus:
    36/40 vs 27/40 recall@5). L2 is permutation-invariant, so
    permuted-space ADC distances remain directly comparable to raw
    exact L2.

    One corpus pass (posexplode → per-dim moment agg on d keys), then
    window ranking over a d-row relation — the training cost is a
    scan, like every other *_codebooks call here."""
    x = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v")
    )
    stats = x.groupBy("dim").agg(
        F.round(
            F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 6
        ).alias("var")
    )
    w = Window.orderBy(F.desc("var"), F.asc("dim"))
    ranked = (
        stats.withColumn("r", F.row_number().over(w) - 1)
        .withColumn("d", F.count("*").over(Window.partitionBy(F.lit(1))))
    )
    return ranked.select(
        (
            (F.col("r") % m) * (F.col("d") / m).cast("int")
            + (F.col("r") / m).cast("int")
        ).alias("pos"),
        "dim",
    )


def apply_dim_perm(
    vectors: DataFrame,
    perm: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Reorder every vector's components by the (pos, dim) permutation
    from :func:`pq_variance_perm`. The permutation is a d-row MODEL
    PARAMETER: it is collected to the driver and compiled into one
    map-side array projection — the same posture as broadcasting k
    centroids, and the only sane plan at 100 TB (the relational
    alternative would explode + shuffle the whole corpus to reorder
    components)."""
    order = [int(r["dim"]) for r in perm.orderBy("pos").collect()]
    v = F.col(vec_col)
    return vectors.withColumn(
        vec_col, F.array(*[v[i].cast("double") for i in order])
    )


def pq_opq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    k: int = 5,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): :func:`pq_adc_topk` run in the
    variance-balanced permuted space — train the permutation on the
    corpus, permute corpus and queries identically, quantize there.
    Since L2 is permutation-invariant the returned dists estimate the
    same raw-space L2², just with quantization error spread evenly
    across subspaces instead of piled onto the high-variance block.
    Registry pairing: q_sim_opq / q_sim_opq_recall (full DuckDB
    oracle, plans/registry_ml.py)."""
    perm = pq_variance_perm(corpus, m, id_col, vec_col)
    pc = apply_dim_perm(corpus, perm, vec_col)
    pq = apply_dim_perm(queries, perm, vec_col)
    return pq_adc_topk(pc, pq, m, n_codes, k, iters, id_col, vec_col)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8), binary sign quantization, and Matryoshka
# staged retrieval — the remaining compression/staging shapes a vector
# serving stack runs alongside PQ/IVFPQ (FAISS IndexScalarQuantizer /
# binary indexes; Kusupati et al. 2022 for MRL prefix-dim retrieval).
# All three follow the engine's cross-engine determinism contract:
# trained parameters rounded 6dp, distances rounded 6dp, id-asc
# tie-breaks — so DuckDB replays every pipeline bit-for-bit.
# ---------------------------------------------------------------------------


def sq8_minmax(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """(dim, mn, mx): per-dimension corpus min/max rounded 6dp — the
    SQ8 quantizer's trained parameters (d rows; a model parameter like
    PQ codebooks). One corpus pass: posexplode → d-key hash agg."""
    x = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v")
    )
    return x.groupBy("dim").agg(
        F.round(F.min("v"), 6).alias("mn"), F.round(F.max("v"), 6).alias("mx")
    )


def _sq8_params(
    minmax: DataFrame | list[tuple[float, float]],
) -> list[tuple[float, float]]:
    """The d-row (mn, mx) list in dim order, collected to the driver —
    the same model-parameter posture as apply_dim_perm's permutation
    (broadcasting d scalars beats exploding the corpus to join them).
    Accepts an already-collected list unchanged, so composite callers
    (sq8_topk, ivfsq_topk) pay the training scan ONCE and hand the
    same params to encode and dequant."""
    if isinstance(minmax, list):
        # coerce (r13 advice): numpy scalars repr as np.float64(...)
        # under numpy>=2, which would embed invalid SQL downstream
        return [(float(mn), float(mx)) for mn, mx in minmax]
    return [
        (float(r["mn"]), float(r["mx"]))
        for r in minmax.orderBy("dim").collect()
    ]


def _dlit(x: float) -> str:
    """A double literal for embedding in JVM-parsed SQL. ``repr`` of a
    finite float is shortest-roundtrip, so the folded literal is
    bit-identical; non-finite values (a NaN training dim would poison
    sq8_minmax's min/max) have no bare-token SQL literal — ``nan``
    parses as a COLUMN reference and fails analysis — so they embed as
    string casts, which Spark folds to the identical double (r13
    advice)."""
    if math.isfinite(x):
        return f"CAST({x!r} AS DOUBLE)"
    s = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{s}' AS DOUBLE)"


def sq8_encode(
    vectors: DataFrame,
    minmax: DataFrame | list[tuple[float, float]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """``out_col`` = array<int> of uint8 codes: per dim,
    floor((v - mn) * 256 / (mx - mn)) clamped to [0, 255] — 256 uniform
    buckets whose midpoints sq8_dequant returns exactly, so the
    reconstruction error is bounded by HALF a bucket (code 0 when the
    dim is constant). 4x memory compression (float32 → 1 byte),
    compiled into ONE map-side array projection from the collected
    d-row params — no join, no shuffle, whatever the corpus size."""
    pars = _sq8_params(minmax)
    # one F.expr over a JVM-parsed SQL string instead of ~8 py4j Column
    # calls per dimension (d=64 -> ~450 driver round trips; guide §5 —
    # query construction is driver work). The parsed tree is the same
    # unrolled codegen projection as the old Column-API build; double
    # literals are embedded via CAST(repr AS DOUBLE), which folds to
    # the identical double (repr is shortest-roundtrip).
    v = f"`{vec_col}`"
    comps = []
    for i, (mn, mx) in enumerate(pars):
        if mx > mn:
            comps.append(
                "CAST(least(greatest(floor((CAST("
                f"{v}[{i}] AS DOUBLE) - {_dlit(mn)})"
                f" * 256.0 / {_dlit(mx - mn)}"
                "), 0), 255) AS INT)"
            )
        else:
            # also the NaN path: mx > mn is False for non-finite
            # training dims, so a poisoned dim degrades to code 0
            # instead of failing analysis
            comps.append("0")
    return vectors.withColumn(out_col, F.expr("array(" + ", ".join(comps) + ")"))


def sq8_dequant(
    codes_df: DataFrame,
    minmax: DataFrame | list[tuple[float, float]],
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """``out_col`` = the reconstruction mn + (code + 0.5)(mx - mn)/256
    per dim — the bucket midpoint, exactly what asymmetric SQ8 search
    scores against. Same collected-params map-side posture as encode."""
    pars = _sq8_params(minmax)
    # same JVM-parsed-SQL construction as sq8_encode (one expr instead
    # of ~5 py4j Column calls per dimension); identical parsed tree
    c = f"`{codes_col}`"
    comps = [
        f"{_dlit(mn)} + (CAST({c}[{i}] AS DOUBLE) + 0.5)"
        f" * {_dlit(mx - mn)} / 256.0"
        for i, (mn, mx) in enumerate(pars)
    ]
    return codes_df.withColumn(
        out_col, F.expr("array(" + ", ".join(comps) + ")")
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): asymmetric SQ8 search — the
    corpus encoded to uint8 codes and scored as bucket-midpoint
    reconstructions against the RAW query (6dp L2², id-asc ties).
    SQ8 shrinks memory 4x at much lower recall loss than PQ's m-byte
    codes; the scan is still brute-force, so at 100 TB compose it with
    the IVF cells exactly like ivfpq_topk (the operator is the
    encode/score contract, not the pruning)."""
    c, q = _sides(corpus, queries, id_col, vec_col)
    recon = _sq8_recon(c, corpus, vec_col).select("neighbor_id", "__c")
    return top_k(_scored(recon, q, "dist", _round6(l2sq)), k, "dist")


def _sq8_recon(vectors: DataFrame, corpus: DataFrame, vec_col: str) -> DataFrame:
    """``vectors`` with ``__c`` replaced by its SQ8 reconstruction, under
    params trained on ``corpus``'s ``vec_col`` — trained once: ONE
    corpus scan for the d-row params, shared by encode and dequant
    (each would otherwise re-run the min/max agg)."""
    pars = _sq8_params(sq8_minmax(corpus, vec_col))
    return sq8_dequant(
        sq8_encode(vectors, pars, "__c", "__codes"), pars, "__codes", "__c"
    )


def sign_signature(
    vectors: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "sig",
    word_bits: int = 32,
) -> DataFrame:
    """``out_col`` = array<bigint> of sign words: bit (i mod 32) of
    word i//32 is set iff component i > 0. 32 bits per word keeps
    every packed value far from BIGINT overflow (Spark 4's ANSI mode
    would reject a 64-bit sign-bit wrap). 32x memory compression and
    the cheapest possible distance — XOR + popcount — the classic
    binary-embedding serving trick; Hamming approximates angular
    distance for zero-centered embeddings.

    The packer is unrolled for the dimension probed from one row, so a
    RAGGED corpus would silently truncate — guarded by a per-row
    runtime assert (the pq_subvectors discipline: fail loudly, never
    train on truncated tails). An EMPTY input returns a correctly
    typed empty array<bigint> column (parquet refuses array<void>, so
    an empty micro-batch must not degrade the type)."""
    v = F.col(vec_col)
    # dimension must be known to unroll the packer; probe one row.
    # A NULL embedding would make row["d"] None (opaque TypeError on
    # int()) — fail loudly with the actual problem instead.
    row = vectors.select(F.size(v).alias("d")).first()
    if row is not None and row["d"] is None:
        raise ValueError(
            f"sign_signature: null embedding in corpus column {vec_col!r}"
            " — filter NULL vectors before signing"
        )
    d = int(row["d"]) if row else 0
    if d == 0:
        return vectors.withColumn(
            out_col, F.array().cast("array<bigint>")
        )
    n_words = (d + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        bits = [
            F.when(
                v[i].cast("double") > 0.0, F.lit(1 << (i - w * word_bits))
            ).otherwise(F.lit(0))
            for i in range(w * word_bits, min((w + 1) * word_bits, d))
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc.cast("bigint"))
    guarded = F.when(
        F.assert_true(
            v.isNotNull() & (F.size(v) == d),
            F.concat(
                F.lit(
                    f"sign_signature: null or ragged vector — expected dim "
                    f"{d}, got "
                ),
                F.coalesce(F.size(v).cast("string"), F.lit("NULL")),
            ),
        ).isNull(),
        F.array(*words),
    )
    return vectors.withColumn(out_col, guarded)


def hamming(a: Column | str, b: Column | str) -> Column:
    """Σ popcount(aᵢ XOR bᵢ) over two sign-word arrays — integer-exact,
    so no rounding contract is even needed."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("int")


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, hamming): top-k by sign-signature
    Hamming distance (:func:`hamming_probe` over the in-memory
    signatures). The coarse stage of binary serving; see
    binary_rerank_topk for the production shape."""
    sigs = binary_sigs(corpus, id_col, vec_col)
    return hamming_probe(sigs, queries, k, id_col, vec_col)


def binary_sigs(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(neighbor_id, sig): the binary kind's rows — each vector's
    :func:`sign_signature`."""
    return sign_signature(vectors, vec_col, "sig").select(
        F.col(id_col).alias("neighbor_id"), "sig"
    )


def hamming_probe(
    sigs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, hamming): the binary kind's probe — the
    query signatures against every corpus signature of ``sigs``
    (neighbor_id, sig), cut by :func:`top_k` (Hamming ties are dense,
    so the id-asc tie-break is load-bearing for determinism). The scan
    reads every signature by design: XOR + popcount is the cheapest
    whole-corpus metric."""
    c = sigs.select("neighbor_id", F.col("sig").alias("__c"))
    q = binary_sigs(queries, id_col, vec_col).select(
        F.col("neighbor_id").alias("query_id"), F.col("sig").alias("__q")
    )
    return top_k(_scored(c, q, "hamming", hamming), k, "hamming")


def exact_l2_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): the second stage of the staged
    funnels — the (query_id, neighbor_id) candidates ``cand`` re-scored
    with exact 6dp L2² over the raw ``corpus`` and ``queries`` vectors,
    cut by :func:`top_k`."""
    c, q = _sides(corpus, queries, id_col, vec_col)
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("dist", F.round(l2sq("__c", _checked("__q", "__c")), 6))
    )
    return top_k(scored, k, "dist")


def binary_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): two-stage binary serving — the
    Hamming scan keeps ``rerank`` candidates per query (cheap XOR+
    popcount over 32x-compressed signatures), then ONLY those
    |q|×rerank rows are re-scored with exact 6dp L2² on the raw
    floats. This is how binary embeddings are actually served: the
    expensive metric touches a bounded candidate set, never the
    corpus. Recall vs exact L2 is pinned by the registry audit."""
    cand = binary_hamming_topk(corpus, queries, rerank, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    return exact_l2_rerank(cand, corpus, queries, k, id_col, vec_col)


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dims: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): Matryoshka staged retrieval
    (Kusupati et al. 2022): stage 1 scores only the first
    ``prefix_dims`` components (6dp L2², id-asc ties) and keeps
    ``rerank`` candidates; stage 2 re-scores those with the full-d
    exact L2². With MRL-trained embeddings the prefix is a faithful
    coarse metric, so the funnel reads prefix_dims/d of the bytes for
    the bulk of the scan — the I/O win matters most at 100 TB where
    the scan is storage-bound. Same funnel shape as binary_rerank_topk
    with the prefix metric swapped in."""
    c, q = _sides(corpus, queries, id_col, vec_col)
    coarse = _scored(
        c.select("neighbor_id", F.slice("__c", 1, prefix_dims).alias("__c")),
        q.select("query_id", F.slice("__q", 1, prefix_dims).alias("__q")),
        "__cd",
        _round6(l2sq),
    )
    cand = top_k(coarse, rerank, "__cd").select("query_id", "neighbor_id")
    return exact_l2_rerank(cand, corpus, queries, k, id_col, vec_col)


def ivfsq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): IVF + SQ8 composed (the FAISS
    IndexIVFScalarQuantizer shape): coarse cells prune WHICH vectors a
    query touches (~n_probe/n_cells of the corpus), SQ8 shrinks WHAT
    each touch costs to d bytes instead of d floats — the middle point
    between raw-posting IVF (4x the bytes) and IVFPQ (far lossier m
    codes). Same determinism contract as the siblings: 6dp params and
    distances, id-asc ties; the cell is carried through encoding in
    the same one-pass layout as ivfpq_topk."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col, out_id="neighbor_id")
    recon = _sq8_recon(
        assigned.select("neighbor_id", F.col(vec_col).alias("__c"), "cell"),
        corpus,
        vec_col,
    )
    probes = ivf_assign(
        queries, cents, id_col, vec_col, n_probe=n_probe, out_id="query_id"
    ).select("query_id", F.col(vec_col).cast("array<double>").alias("__q"), "cell")
    return top_k(_scored(recon, probes, "dist", _round6(l2sq), on="cell"), k, "dist")


def ranking_metrics(
    approx: DataFrame,
    truth: DataFrame,
    k: int = 5,
) -> DataFrame:
    """(query_id, mrr, ndcg): ranking-quality metrics of an ANN answer
    against an exact ground truth — the evaluation pair recall@k can't
    see: recall says WHETHER true neighbors surfaced, MRR/nDCG say
    WHERE (a funnel that finds all 5 but ranks them last scores
    recall 1.0 and nDCG well below it).

    ``approx``: (query_id, neighbor_id, dist) — ranked by the
    :func:`top_k` order (dist asc, neighbor_id asc). ``truth``:
    (query_id, neighbor_id) — the exact top-k set (binary relevance).
    MRR = 1/rank of the first relevant result (0 when none surface);
    nDCG@k = Σ rel_i/log2(i+1) normalized by
    the all-relevant ideal. Per-term values are rounded 9dp and summed
    as DECIMAL(28,12) — the order-free reduce every cross-engine sum
    here uses — then rounded 6dp.

    Scale shape: one window over the |q|×k approx rows, one broadcast
    semi-join against the ≤|q|×k truth set, one hash agg on query_id —
    evaluation never touches the corpus."""
    ranked = (
        _ranked(approx, k, "dist")
        .join(
            truth.select("query_id", "neighbor_id", F.lit(1).alias("__rel")),
            ["query_id", "neighbor_id"],
            "left",
        )
    )
    rel = F.coalesce(F.col("__rel"), F.lit(0))
    dcg_term = (
        F.round(rel / F.log2(F.col("__rn") + 1), 9).cast("decimal(28,12)")
    )
    rr_term = F.when(
        rel == 1, F.round(F.lit(1.0) / F.col("__rn"), 9)
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    idcg = ideal_dcg(k)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.round(F.max(rr_term).cast("double"), 6).alias("mrr"),
            F.round(
                F.sum(dcg_term).cast("double") / F.lit(idcg), 6
            ).alias("ndcg"),
        )
    )


def ideal_dcg(k: int) -> float:
    """The all-relevant DCG@k normalizer, rounded 9dp so both engines
    divide by the identical double literal (the oracle SQL embeds this
    same value — one definition, no drift)."""
    return round(sum(1.0 / math.log2(i + 1) for i in range(1, k + 1)), 9)


# ---------------------------------------------------------------------------
# Raw text → dense vector featurization (closes the loop: the engine can
# take documents all the way to the IVF/PQ/SQ8 serving stack it indexes,
# instead of requiring a pre-provided embeddings table)
# ---------------------------------------------------------------------------


def embed_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    d: int = 16,
    n: int = 2,
    salt: str = "emb",
    out_col: str = "embedding",
) -> DataFrame:
    """Deterministic hashed-n-gram signed-random-projection text
    featurizer: (id, L2-normalized ``array<double>`` of dim ``d``).

    The classic hashing-trick embedding (Weinberger et al. 2009 feature
    hashing composed with a sign-random projection): each overlapping
    word ``n``-gram occurrence contributes ±1 to every output dimension
    ``j``, with the sign drawn from the repo's cross-engine md5 idiom on
    ``salt‖gram‖':'‖j`` — no learned parameters, no RNG, bit-replayable
    in ANSI SQL. Component sums are INTEGERS (exact in both engines);
    the only float ops are the norm (sqrt of an exact integer sum of
    squares) and one division, both IEEE-correctly rounded — so the
    output doubles are bit-identical cross-engine at FULL precision,
    and the components are deliberately NOT rounded to a fixed number
    of decimals: low-entropy decimal components would make downstream
    rounding contracts (k-means means, ADC terms) land on .5
    boundaries routinely instead of with measure-zero probability,
    which is exactly the failure mode that distinguishes this
    featurizer's output from the raw ``embeddings`` fixture. Pin
    values for comparison by rounding AT THE PROJECTION, the way
    plans/registry_ml.q_text_embed does.

    Tokenization matches :func:`neardup.word_shingles` (lowercase,
    whitespace-normalized, one overlapping-lookahead regex pass, docs
    shorter than ``n`` tokens contribute their full token-join) but
    WITHOUT the distinct — occurrence counts are the TF weights.

    Reference analog: the pipeline derives every content-addressed
    identity by salted hashing of text fields
    (dags/Combine_send_to_postgresql.py:58, ``_sha256_hex``); this is
    the same determinism discipline lifted from identity to GEOMETRY —
    hash-derived signs instead of hash-derived keys — so the engine's
    own ANN serving stack (IVF/PQ/SQ8/binary) can index raw text
    without an external embedding model.

    Scale: ONE shuffle keyed on the doc id. The gram explode and the d
    sign hashes are map-side whole-stage codegen (``d`` is unrolled at
    plan-build time — no interpreted higher-order lambdas in the hot
    path), and the aggregation is a hash agg with ``d`` integer sum
    buffers, so map-side partial aggregation reduces each partition to
    one row per doc before the exchange. Docs whose text yields no
    non-empty gram (empty/whitespace) produce no output row; a doc
    whose component sums all cancel to zero gets the zero vector
    (norm 0 must not emit NaNs).
    """
    if d <= 0:
        raise ValueError(f"d must be positive, got {d}")
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    c = F.col(text_col)
    # collapse whitespace FIRST, then trim: trim() strips only spaces,
    # so a leading tab/newline would otherwise survive as a leading
    # space and (a) leave the '<n tokens' fallback counting a phantom
    # empty edge token ('\tfoo' silently produced NO grams), (b) split
    # differently from the oracle's regex tokenizer (r10 review catch)
    norm_txt = F.trim(
        F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\s+", " ")
    )
    pat = "(?=(" + " ".join([r"\S+"] * n) + r"))\S+"
    grams = F.regexp_extract_all(norm_txt, F.lit(pat), 1)
    grams = F.when(
        F.size(F.split(norm_txt, " ")) < n, F.array(norm_txt)
    ).otherwise(grams)
    g = (
        df.select(F.col(id_col), F.explode(grams).alias("__g"))
        .filter(F.col("__g") != "")
    )

    # the d-unrolled sign aggregates and the norm/projection are built
    # as JVM-parsed SQL strings (r14, guide §5): the Column-API build
    # cost ~0.53s of py4j round trips per construction at d=16 (1.36s
    # at d=64) — driver work the streaming chains pay once per
    # micro-batch. Parsed trees identical to the old Column form:
    # when/otherwise == CASE WHEN, .cast("long") == CAST(AS BIGINT),
    # the chained + is left-associative in both, and 1.0D/0.0D are the
    # same DoubleType literals F.lit produced; bit-identical outputs
    # re-proven by the oracle sweep of every embed-family query.
    esalt = salt.replace("\\", "\\\\").replace("'", "\\'")

    def _sign_sql(j: int) -> str:
        h = (
            f"CAST(conv(substring(md5(concat('{esalt}', __g, ':{j}')),"
            " 1, 8), 16, 10) AS BIGINT)"
        )
        return f"(CASE WHEN ({h} % 2) = 0 THEN 1 ELSE -1 END)"

    comps = g.groupBy(id_col).agg(
        *[F.expr(f"sum({_sign_sql(j)}) AS __c{j}") for j in range(d)]
    )
    sq = [f"CAST(__c{j} AS DOUBLE)" for j in range(d)]
    nrm = "SQRT(" + " + ".join(f"({s} * {s})" for s in sq) + ")"
    emb = "array(" + ", ".join(f"({s} / {nrm})" for s in sq) + ")"
    zero = "array(" + ", ".join(["0.0D"] * d) + ")"
    return comps.selectExpr(
        f"`{id_col}`",
        f"CASE WHEN {nrm} > 0.0D THEN {emb} ELSE {zero} END AS `{out_col}`",
    )


def exact_l2_topk_set(
    e: DataFrame,
    q: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id): the exact-L2 truth set — 6dp L2²
    distances, id-ascending tie-break, self-excluded. THE one Spark
    copy of the recall-audit baseline: the registry's
    _recall_vs_exact_l2 / ranking / budget-curve queries and the
    persisted stores' staleness audit (sinks/vector_index.index_recall)
    all consume this, so every recall number in the repo is measured
    against the identical ground truth. Queries broadcast (the probe
    set is bounded); the corpus side stays partitioned."""
    c, qv = _sides(e, q, id_col, vec_col)
    return top_k(_scored(c, qv, "dist", _round6(l2sq)), k, "dist").select(
        "query_id", "neighbor_id"
    )
