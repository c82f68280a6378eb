"""Count-min sketch (Cormode & Muthukrishnan 2005) as a RELATION — the
mergeable bounded-size frequency summary that answers "how often does
this key occur?" over a stream/corpus far too large to hold exact
counts for.

The sketch is a (row, col, c) relation of at most ``d × w`` rows — like
the Bloom-filter decontamination relation (operators/curation.py), the
summary's size is capped by construction no matter how many key
occurrences went in. Estimates are upper bounds: ``est(k) =
min_j sketch[j][h_j(k)] ≥ true(k)``, with overestimate bounded by
``ε·N`` (ε = e/w) at confidence 1−δ (δ = e^−d).

Why a relation and not a UDAF blob: counts stay queryable with plain
joins/aggregates (no custom serialization), the driver never holds the
sketch, and MERGE is just union + re-aggregate — the property that
makes the sketch map-side at 100 TB: every partition/day/shard builds
its own d×w summary and the combine is a ≤(d×w)-row-per-input
hash-agg, exactly how partial aggregation already works in Spark.

All hashing is the repo's cross-engine md5-hex idiom, so a DuckDB
oracle replays the sketch bit-for-bit (plans/registry_stats.py), and
all arithmetic is integer — no float-order concerns anywhere.

Reference scope: the reference pipeline (dags/
Combine_send_to_postgresql.py) has no sketches; this extends the
engine per the build brief's training-data-pipeline mandate (document
fingerprinting / token counting at corpus scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.session import local_df


def _cms_col(key: Column | str, row: int, w: int) -> Column:
    """Hash row ``row``'s column index in [0, w) for a key — the
    engine's one md5-prefix hash idiom (sampling.hash_bucket) under a
    per-row salt (DuckDB: ``('0x'||substr(md5('cms<j>:'||k),1,8))
    ::BIGINT % w``)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import hash_bucket

    return (hash_bucket(key, f"cms{row}:") % w).cast("int")


def cms_build(
    occurrences: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Build the sketch relation (row, col, c) from a relation of key
    OCCURRENCES (one input row = one count increment). NULL keys are
    excluded — matching COUNT(<key>) semantics; without the guard a
    NULL hash would add a (NULL, NULL) cell outside the d×w bound.

    ≤ ``d × w`` output rows however large the input. Plan: a d-way
    explode (map-side, d is a small constant) into (row, col)
    increments, then one hash aggregate with map-side partial combine —
    the only shuffle, and its key space is the d×w cells, so the
    exchange carries at most d×w rows per map partition.
    """
    cells = occurrences.filter(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_col(key_col, j, w).alias("col"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("cell")
    )
    return cells.groupBy("cell.row", "cell.col").agg(
        F.count("*").alias("c")
    )


def _cms_check_extents(sketch: DataFrame, d: int, w: int) -> DataFrame:
    """Runtime guard: every sketch cell must fall inside the declared
    ``d × w`` grid, else the caller is probing/merging with parameters
    the sketch was not built with — which silently mis-estimates (the
    failure ADVICE r5 flagged). Evaluated as a filter over the bounded
    ≤(d×w)-row relation, so the cost is nil; raises at action time.
    Note the check is one-sided: a sketch built SMALLER than the
    declared grid cannot be distinguished from a sparsely-touched one.
    """
    ok = (F.col("row") < d) & (F.col("col") < w)
    msg = F.lit(
        f"CMS cell outside the declared d={d}, w={w} grid — "
        "sketch was built with different parameters"
    )
    return sketch.where(F.assert_true(ok, msg).isNull())


def cms_merge(
    *sketches: DataFrame, d: int | None = None, w: int | None = None
) -> DataFrame:
    """Combine sketches built with the SAME (d, w): cell-wise sum.

    This is the distributivity that makes CMS a scale tool — per-shard
    sketches union into one ≤(d×w × n_shards)-row relation and
    re-aggregate down to ≤ d×w. Equality with the monolithic build is
    pinned by tests/test_sketches.py. Pass ``d``/``w`` to assert at
    runtime that every input's cells fit the declared grid (mismatched
    builds otherwise merge silently into garbage).
    """
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    if d is not None and w is not None:
        out = _cms_check_extents(out, d, w)
    return out.groupBy("row", "col").agg(F.sum("c").alias("c"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Point-query the sketch for every key in ``keys``: (key_col, est).

    ``est = min_j c[j][h_j(key)]`` — never below the true count; keys
    hashing only to untouched cells (never inserted, no collisions)
    would find no matching sketch rows and are reported est = 0.

    Plan: d probe rows per key joined against the broadcast ≤(d×w)-row
    sketch, folded with one min-agg per key. Map-only at any key-set
    size — the sketch side is bounded by construction, the mirror image
    of the Bloom-probe shape in curation.bloom_contaminated_ids.
    The sketch's cell extents are runtime-asserted against the passed
    (d, w): probing with parameters the sketch was not built with
    raises instead of silently mis-estimating.
    """
    sketch = _cms_check_extents(sketch, d, w)
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_col(key_col, j, w).alias("col"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("cell"),
    ).select(key_col, F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("bigint").alias("est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — cardinality, same relation form
# ---------------------------------------------------------------------------


def hll_alpha(m: int) -> float:
    """The standard bias-correction constant for ``m`` registers."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


#: HLL hash width in bits: a 15-hex-char md5 prefix (60 bits), the
#: widest that stays inside a signed BIGINT in both engines. A 32-bit
#: hash saturates (hash collisions dominate) in the hundreds of
#: millions of distinct keys; 60 bits pushes the ceiling to ~2^60 —
#: no large-range correction needed at any realistic corpus scale.
_HLL_BITS = 60


def _hll_hash(key: Column | str) -> Column:
    """60-bit hash of the key — the engine's one md5-prefix hash idiom
    (sampling.hash_bucket, hex_chars=15), 'hll:'-salted (DuckDB:
    ``('0x'||substr(md5('hll:'||k),1,15))::BIGINT``)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import hash_bucket

    return hash_bucket(key, "hll:", hex_chars=_HLL_BITS // 4)


def hll_build(
    occurrences: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 5,
) -> DataFrame:
    """Per-group HLL sketch relation (group_cols..., register, maxrank):
    ≤ ``2^p`` rows per group however many key occurrences went in.

    register = low ``p`` hash bits; rank = 1-based position of the
    first set bit in the remaining ``60-p`` bits (``61-p`` when they're
    all zero; 60-bit hash — see ``_HLL_BITS``). Rank extraction is
    integer/string arithmetic only (``shiftright`` +
    ``bin``/``lpad``/``instr``) so both engines agree bit-for-bit — no
    float log2 at integer boundaries.

    Completes the sketch-relation family: Bloom (membership,
    curation.py), CMS (frequency), MinHash (similarity, neardup.py),
    HLL (cardinality) — all bounded, all mergeable, all oracle-exact.

    Plan: map-side hash/rank derivation, one hash-agg keyed on
    (group, register) with map-side partial max — the classic
    "distinct users per segment without shuffling raw user ids" shape:
    the exchange carries ≤ m rows per group per map partition.
    """
    group_cols = group_cols or []
    m = 1 << p
    suffix_bits = _HLL_BITS - p
    h = _hll_hash(key_col)
    suf = F.shiftright(h, p)
    rank = F.when(suf == 0, F.lit(suffix_bits + 1)).otherwise(
        F.instr(F.lpad(F.bin(suf), suffix_bits, "0"), "1")
    )
    return (
        # NULL keys excluded (COUNT(DISTINCT <key>) ignores them too);
        # a NULL hash would otherwise create a (NULL, NULL) register
        # that inflates __pres without contributing to __zpres
        occurrences.filter(F.col(key_col).isNotNull()).select(
            *group_cols,
            (h % m).cast("int").alias("register"),
            rank.cast("int").alias("rank"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rank").alias("maxrank"))
    )


def _hll_check(sketch: DataFrame, p: int) -> DataFrame:
    """Runtime guard: every register must be < 2^p and every maxrank
    ≤ the 60-bit rank ceiling — the HLL analog of _cms_check_extents.
    A sketch built with larger p probed as p would drive (m − pres)
    negative; maxrank beyond the ceiling would shift by a negative
    amount — both silent garbage without this. One-sided like the CMS
    check: a sketch built with SMALLER p passes undetected.

    PERSISTED-STATE COMPATIBILITY: sketches persisted by the pre-60-bit
    code (32-bit hash, max rank 33−p) pass this guard but hash keys to
    DIFFERENT registers/ranks — never merge old and new relations;
    rebuild persisted sketches after the hash-width change."""
    ok = (F.col("register") < (1 << p)) & (
        F.col("maxrank") <= _HLL_BITS - p + 1
    )
    msg = F.lit(
        f"HLL register/rank outside the declared p={p} geometry — "
        "sketch was built with different parameters"
    )
    return sketch.where(F.assert_true(ok, msg).isNull())


def hll_merge(*sketches: DataFrame, p: int | None = None) -> DataFrame:
    """Combine sketches with the same (p, group schema): register-wise
    max — like cms_merge, the distributivity that lets every shard/day
    build its own ≤2^p-row summary and combine cheaply. Pass ``p`` to
    runtime-assert every input fits the declared geometry."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    if p is not None:
        out = _hll_check(out, p)
    keys = [c for c in out.columns if c != "maxrank"]
    return out.groupBy(*keys).agg(F.max("maxrank").alias("maxrank"))


def hll_estimate(
    sketch: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """(group_cols..., est): the HLL cardinality estimate per group.

    ``raw = α_m · m² / Z`` with ``Z = Σ_j 2^(−M_j)`` over all m
    registers (absent rows count as M=0 → contribute 1 each); the
    small-range branch switches to linear counting ``m·ln(m/V)`` when
    ``raw ≤ 2.5m`` and V (empty registers) > 0. With the 60-bit hash
    the dyadic terms span > 53 bits of exponent range, so a float Z is
    NOT order-free; instead Z is summed exactly as the scaled BIGINT
    ``Z·2^(61−p)`` (present registers contribute ``2^(61−p−M)``,
    absent ones ``2^(61−p)``; total < 2^62, no overflow) and the one
    double division at the end is correctly rounded — bit-for-bit in
    the SQL oracle regardless of reduce order.
    """
    group_cols = group_cols or []
    m = 1 << p
    alpha = hll_alpha(m)
    rank_max = _HLL_BITS - p + 1  # maxrank ∈ [1, rank_max]
    # geometry guard: estimating with a different p than the build's
    # silently mis-estimates otherwise (see _hll_check)
    sketch = _hll_check(sketch, p)
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").alias("__pres"),
        F.sum(F.expr(f"shiftleft(1L, {rank_max} - maxrank)")).alias("__zp"),
    )
    z_scaled = F.col("__zp") + (F.lit(m) - F.col("__pres")) * F.lit(
        1 << rank_max
    ).cast("long")
    raw = F.lit(alpha * m * m * float(1 << rank_max)) / z_scaled
    v = F.lit(m) - F.col("__pres")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est, round_digits).alias("est")
    )


# ---------------------------------------------------------------------------
# Binned quantile sketch — order-insensitive, mergeable, oracle-exact
# ---------------------------------------------------------------------------
#
# KLL / t-digest were evaluated and REJECTED for this engine: their
# summaries depend on insertion order (compaction decisions differ per
# permutation), so no cross-engine oracle can pin them. This is the
# oracle-stable alternative: fixed-range equi-width binning with exact
# per-bin counts and linear interpolation inside the bracket bin — the
# histogram_numeric idea with a deterministic contract. Error is
# bounded by the bin width (range/bins), the relation is ≤ bins rows
# however large the input, and the merge is a cell-wise sum exactly
# like the CMS grid. Caller supplies [lo, hi); out-of-range values
# clamp into the edge bins (documented distortion — widen the range or
# raise ``bins`` if the tails matter).


def qsketch_geometry(lo: float, hi: float, bins: int) -> None:
    """Reject a bin geometry no value can be binned under."""
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")


def qsketch_build(
    values: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols..., bin, n): exact counts over ``bins`` equi-width
    bins of [lo, hi). NULL and NaN values are excluded (no evidence —
    without the NaN filter the least/greatest clamp would route NaN
    into the top edge bin and silently inflate upper quantiles). One
    map-side bin expression + one hash-agg keyed on ≤ bins cells per
    group — the same bounded-exchange shape as cms_build."""
    qsketch_geometry(lo, hi, bins)
    group_cols = group_cols or []
    width = (hi - lo) / bins
    x = F.col(value_col).cast("double")
    # clamp the DOUBLE before floor/cast: a single wild outlier
    # ((x-lo)/width >= 2^31, or even beyond long range) would otherwise
    # CAST_OVERFLOW under ANSI mode and kill the whole corpus pass
    # instead of landing in the edge bin
    b = F.floor(
        F.least(F.greatest((x - lo) / width, F.lit(0.0)), F.lit(float(bins - 1)))
    ).cast("int")
    return (
        values.filter(x.isNotNull() & ~F.isnan(x))
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def qsketch_merge(*sketches: DataFrame) -> DataFrame:
    """Combine sketches built with the SAME (lo, hi, bins): bin-wise
    sum, the CMS-style distributivity that lets every shard/day keep a
    ≤ bins-row summary."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "n"]
    return out.groupBy(*keys).agg(F.sum("n").alias("n"))


def qsketch_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 256,
    round_digits: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols..., q, est): interpolated quantile estimates from
    the ``(group..., bin, n)`` sketch. For each q, target rank = q·N
    (floored at a tiny epsilon so q=0 lands in the first non-empty
    bin), the bracket bin is the first with cumulative count ≥ target,
    and the estimate interpolates linearly inside it. Everything runs
    on the ≤ (groups × bins)-row relation: one per-group window cumsum
    (single-partition only in the global case — grouped cumsums
    partition by group), a |qs|-row broadcast, one bracket join."""
    from pyspark.sql import Window

    group_cols = group_cols or []
    width = (hi - lo) / bins
    spark = sketch.sparkSession
    w = (
        Window.partitionBy(*group_cols).orderBy("bin")
        if group_cols
        else Window.orderBy("bin")
    )
    cum = sketch.select(
        *group_cols, "bin", "n", F.sum("n").over(w).alias("cum")
    )
    total = sketch.groupBy(*group_cols).agg(F.sum("n").alias("__N"))
    qdf = local_df(spark, [(float(q),) for q in qs], "q double")
    targets = qdf.crossJoin(F.broadcast(total)).select(
        *group_cols,
        "q",
        F.greatest(F.col("q") * F.col("__N"), F.lit(1e-12)).alias("__target"),
    )
    # GLOBAL case: the cumsum side is ≤ bins rows — broadcast it
    # explicitly so the theta bracket join is always a BNLJ with a
    # declared-small build side, never a CartesianProduct fallback when
    # deep lineage hides the size from the planner. GROUPED case: the
    # group count is data-dependent (could be millions), so the plain
    # equi-join on the group columns stays and the planner picks the
    # join — never a forced broadcast of an unbounded relation.
    cum_side = cum.select(
        *[F.col(g).alias(f"__g_{g}") for g in group_cols],
        F.col("bin"),
        F.col("cum"),
    )
    if not group_cols:
        cum_side = F.broadcast(cum_side)
    bracket = (
        targets.join(
            cum_side,
            [F.col(g) == F.col(f"__g_{g}") for g in group_cols]
            + [F.col("cum") >= F.col("__target")]
            if group_cols
            else F.col("cum") >= F.col("__target"),
        )
        .groupBy(*group_cols, "q", "__target")
        .agg(F.min("bin").alias("bin"))
    )
    return (
        bracket.join(cum, [*group_cols, "bin"])
        .select(
            *group_cols,
            "q",
            F.round(
                F.lit(lo)
                + (
                    F.col("bin")
                    + (F.col("__target") - (F.col("cum") - F.col("n")))
                    / F.col("n")
                )
                * F.lit(width),
                round_digits,
            ).alias("est"),
        )
    )


def cms_inner_product(a: DataFrame, b: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """Join-size estimation from two sketches (Alon-Matthias-Szegedy /
    Cormode-Muthukrishnan): ``|A ⋈_k B| = Σ_k f_A(k)·f_B(k)`` is
    upper-bounded by ``min_j Σ_col a[j][col]·b[j][col]`` — the
    inner-product estimate a cost-based planner reads BEFORE running a
    shuffle join, computed from two ≤(d×w)-row relations in
    milliseconds at any corpus size. Never underestimates (same
    one-sided collision argument as point queries); both inputs must
    be built with the same (d, w) — runtime-asserted. Output: 1 row
    (est)."""
    a = _cms_check_extents(a, d, w)
    b = _cms_check_extents(b, d, w)
    bb = b.select("row", "col", F.col("c").alias("__cb"))
    per_row = (
        a.join(bb, ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("c") * F.col("__cb")).alias("__dot"))
    )
    # every hash row must enter the min — a row whose sketches share NO
    # cell has true dot 0 and must clamp the estimate to 0 (disjoint
    # key sets), not vanish from the aggregate (which returned NULL or
    # an inflated min before the spine join; review r6)
    spine = a.sparkSession.range(d).select(F.col("id").cast("int").alias("row"))
    return (
        spine.join(per_row, "row", "left")
        .agg(
            F.min(F.coalesce(F.col("__dot"), F.lit(0)))
            .cast("bigint")
            .alias("est")
        )
    )
