"""Corpus-curation operators for LLM training-data preparation.

The reference pipeline (dags/Fetch_reddit.py, dags/
Combine_send_to_postgresql.py) stops at dedup + upsert; these extend the
engine with the curation stages a training-data pipeline runs before
tokenization, per the build brief: repetition-based quality filtering
(Gopher-style signals), benchmark decontamination (n-gram overlap with an
eval set), deterministic hash split assignment, and sequence packing
(concat-and-chunk token budgeting).

Scale posture (100 TB):

* ``repetition_signals`` — one explode into (doc, bigram), hash-aggregated
  with map-side partial combine; the per-doc stats joins are between two
  aggregates that share the ``doc_id`` hash partitioning, so AQE plans
  them without an extra exchange. No window over the full corpus.
* ``contaminated_ids`` — eval/benchmark sets are tiny next to a training
  corpus (MMLU-scale: thousands of rows), so the eval shingle-hash side is
  ``broadcast()``; the train side streams map-only through a broadcast
  semi-join. No shuffle of the corpus at all.
* ``hash_split`` — pure map-side column derivation (md5-bucket), no
  shuffle, stable under re-runs and insertions (a doc's split never
  depends on other rows — the property that keeps eval sets frozen as the
  corpus grows).
* ``pack_chunks`` — cumulative token sums are windowed **per shard**
  (``part_col``), never globally: a global order over 100 TB is a
  single-partition sort, while per-shard packing matches how training
  shards are actually written (each shard → one packed stream).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    _spread_partitions,
    token_chunks_with_tail,
    word_shingles,
)
from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count, tokens


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition quality signals (Gopher-style).

    Output: (doc_id, n_tokens, distinct_token_ratio, top_bigram_frac,
    dup_bigram_frac, repetitive) where

    * ``distinct_token_ratio`` — distinct tokens / total tokens,
    * ``top_bigram_frac``     — occurrences of the most frequent token
      bigram / total bigrams,
    * ``dup_bigram_frac``     — fraction of bigram occurrences whose
      bigram appears more than once,
    * ``repetitive``          — ``dup_bigram_frac > 0.1`` (the filter
      decision a curation pipeline would apply).

    Ratios are NULL for docs with no tokens / no bigrams (never a
    divide-by-zero under ANSI mode). Tokenization is the engine-wide
    whitespace contract (:func:`textstats.tokens`).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    )
    tok_stats = (
        base.select("doc_id", F.explode_outer("toks").alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.count("tok").alias("n_tokens"),
            F.count_distinct("tok").alias("n_distinct"),
        )
    )
    # Bigrams via one zip_with evaluated once and immediately exploded —
    # the HOF result feeds a single consumer, so Catalyst's
    # ProjectCollapse re-evaluation trap (see minhash_signature) does not
    # apply here.
    big = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    bgs = (
        big.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("__total"),
            F.max("c").alias("__maxc"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
            ).alias("__dup"),
        )
    )

    def _frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, F.round(num / den, 6))

    dup_frac = _frac(F.col("__dup"), F.col("__total"))
    return (
        tok_stats.join(bgs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            _frac(F.col("n_distinct"), F.col("n_tokens")).alias(
                "distinct_token_ratio"
            ),
            _frac(F.col("__maxc"), F.col("__total")).alias(
                "top_bigram_frac"
            ),
            dup_frac.alias("dup_bigram_frac"),
            (dup_frac > 0.1).alias("repetitive"),
        )
    )


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Training docs sharing ≥1 word ``n``-gram with an eval/benchmark set.

    GPT-3-style decontamination: hash every word n-gram of the eval set,
    broadcast the (small) hash set, and semi-join the training corpus's
    n-gram hashes against it. Output: one ``doc_id`` column of distinct
    contaminated training docs.

    Real pipelines use n = 8–13; the default 4 is sized to this repo's
    synthetic 31-word-vocabulary corpus, where wider grams never collide
    (n is a parameter, not a behavior change). Shingles come from
    :func:`neardup.word_shingles` — the same definition the Jaccard/
    MinHash dedup family uses, so one shingle table can serve both at
    scale.
    """
    ev = (
        eval_df.select(F.explode(word_shingles(text_col, n)).alias("s"))
        .filter(F.col("s") != "")
        .select(F.md5("s").alias("h"))
        .distinct()
    )
    tr = (
        train.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, n)).alias("s"),
        )
        .filter(F.col("s") != "")
        .select("doc_id", F.md5("s").alias("h"))
    )
    return (
        tr.join(F.broadcast(ev), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )


def strip_duplicate_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Rewrite each document with corpus-duplicated chunks REMOVED — the
    transform counterpart of :func:`neardup.chunk_dup_stats` (which only
    measures the boilerplate mass). A ``k``-token chunk is dropped from
    every doc when it occurs verbatim in ≥ ``min_df`` DISTINCT docs
    (cookie banners, license headers, navigation wrappers); surviving
    chunks are re-joined in original order.

    Output: (doc_id, n_chunks, dropped_chunks, text_clean). The clean
    text is the doc's NORMALIZED token stream (lowercased,
    single-spaced — chunking tokenizes, so the rewrite is modulo the
    engine-wide whitespace contract); chunks use the tail-keeping
    variant (:func:`neardup.token_chunks_with_tail`) so no token is
    lost to a chunk boundary. Docs whose text yields zero chunks (empty
    after trim) have no rows here, and a doc that is 100% boilerplate
    comes back with ``text_clean = ''`` — callers typically follow with
    a length/quality filter.

    Scale shape: explode to (doc, idx, chunk) — ~n_tokens/k rows per
    doc; one per-chunk distinct-doc count, one join back on the chunk
    key (AQE plans it off the agg's partitioning), one per-doc
    aggregate whose ``array_sort(collect_list(...))`` buffers only the
    DOC'S OWN chunks (bounded by doc length, never corpus-sized). No
    self-join; linear in corpus size however duplicated it is.
    """
    occ = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
        .repartition(_spread_partitions(df))
        .select(
            "doc_id",
            F.posexplode(token_chunks_with_tail("__t", k)).alias("idx", "c"),
        )
        .filter(F.col("c") != "")
    )
    nd = occ.groupBy("c").agg(F.count_distinct("doc_id").alias("__nd"))
    keep = F.col("__nd") < min_df
    return (
        occ.join(nd, "c")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(~keep, 1)).alias("dropped_chunks"),
            F.array_join(
                F.transform(
                    # idx is unique per doc → the struct sort is a total
                    # order; collect_list drops the NULLs of dropped chunks
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("idx"), F.col("c")))
                        )
                    ),
                    lambda s: s.getField("c"),
                ),
                " ",
            ).alias("text_clean"),
        )
    )


def line_norm(col: Column | str) -> Column:
    """CCNet-style line normalization for duplicate counting: lowercase,
    digits/punctuation → space, whitespace collapsed, trimmed. Pinned as
    ``[^a-z ]`` after lowering so both engines agree byte-for-byte
    (DuckDB: the same two regexp_replace calls with the 'g' flag)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-z ]", " "),
            " +",
            " ",
        )
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
    split_re: str = "\n",
    join_with: str = "\n",
) -> DataFrame:
    """CCNet-style line-level dedup (Wenzek et al. 2020): drop every
    line whose NORMALIZED form (:func:`line_norm`) occurs ≥
    ``min_occurrences`` times across the whole corpus — counting
    OCCURRENCES, not distinct documents, which is the semantic
    difference from :func:`strip_duplicate_chunks` (a doc repeating its
    own nav header 5 times counts 5). Lines whose normalization is
    empty (blank / pure punctuation) carry no signal and are always
    KEPT, preserving document structure.

    Output: (doc_id, n_lines, dropped_lines, text_clean) with the
    surviving ORIGINAL lines re-joined in order by ``join_with`` —
    unlike the chunk rewrite, the original byte content of kept lines
    is preserved (only the counting key is normalized).

    Scale shape: explode to (doc, idx, line), one per-normalized-line
    count, one equi-join back (AQE skew-handles a hot banner line), one
    per-doc ordered reassembly bounded by doc length. Linear in corpus
    size; no self-join.
    """
    lines = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
        .repartition(_spread_partitions(df))
        .select(
            "doc_id",
            F.posexplode(F.split(F.coalesce("__t", F.lit("")), split_re)).alias(
                "idx", "line"
            ),
        )
        .select("doc_id", "idx", "line", line_norm("line").alias("__nrm"))
    )
    counts = (
        lines.filter(F.col("__nrm") != "")
        .groupBy("__nrm")
        .agg(F.count("*").alias("__occ"))
    )
    keep = (F.col("__nrm") == "") | (
        F.coalesce(F.col("__occ"), F.lit(0)) < min_occurrences
    )
    return (
        lines.join(counts, "__nrm", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.count(F.when(~keep, 1)).alias("dropped_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("idx"), F.col("line")))
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                join_with,
            ).alias("text_clean"),
        )
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    Bucket = first 8 hex digits of ``md5(id)`` as an integer mod 100;
    train < ``train_pct`` ≤ val < ``train_pct+val_pct`` ≤ test. Pure
    map-side, reproducible across engines and runs, and independent of
    row order or corpus growth — the properties ``rand()``-based splits
    lack.
    """
    b = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return df.withColumn(
        split_col,
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pack_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    part_col: str = "source",
    chunk_tokens: int = 512,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each doc the training
    chunk its first token lands in.

    Docs are laid end-to-end per shard (``part_col``) in ``id_col`` order;
    chunk ``i`` covers token offsets [i·B, (i+1)·B). A doc's chunk is
    ``floor(preceding_tokens / B)`` — docs may straddle chunk boundaries,
    exactly like GPT-style packed pretraining streams. All input columns
    are kept; ``n_tok`` (doc token count) and ``chunk_id`` are appended,
    so the result can flow straight into a shard-writing sink.

    The window is partitioned by shard, so no global sort exists at any
    scale; chunk ids are deterministic given the shard's id order.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("n_tok", token_count(text_col))
        .withColumn("__cum", F.sum("n_tok").over(w))
        .withColumn(
            "chunk_id",
            F.floor((F.col("__cum") - F.col("n_tok")) / F.lit(float(chunk_tokens))),
        )
        .drop("__cum")
    )


def _bloom_positions(col: Column | str, k: int, m: int) -> list[Column]:
    """k bit positions in [0, m) for a shingle — md5 over a per-function
    salt prefix, first 8 hex chars as an unsigned 32-bit int mod m. The
    md5-hex construction is the repo's cross-engine hash idiom (DuckDB
    replays it verbatim: ``('0x'||substr(md5('bf<j>:'||s),1,8))::BIGINT
    % m``)."""
    s = F.col(col) if isinstance(col, str) else col
    return [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"bf{j}:"), s)), 1, 8), 16, 10
            ).cast("bigint")
            % m
        ).cast("int")
        for j in range(k)
    ]


def bloom_filter_bits(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 4,
    k: int = 4,
    m: int = 8192,
) -> DataFrame:
    """Build the Bloom filter of an eval set's word n-grams, as the
    relation of SET bit positions — one ``pos: int`` column, ≤ m rows.

    This is the piece that makes decontamination scale when the eval
    universe is NOT tiny (multi-benchmark suites, contamination against
    held-out corpora): :func:`contaminated_ids` broadcasts every distinct
    eval n-gram hash — unbounded — while the Bloom relation is capped at
    ``m`` ints no matter how many n-grams went in. The price is a known
    false-positive rate (~(1-e^{-kn/m})^k), which for decontamination is
    the SAFE direction: a false positive only over-quarantines a
    training doc.
    """
    sh = (
        eval_df.select(F.explode(word_shingles(text_col, n)).alias("s"))
        .filter(F.col("s") != "")
    )
    return (
        sh.select(F.explode(F.array(*_bloom_positions("s", k, m))).alias("pos"))
        .distinct()
    )


def bloom_contaminated_ids(
    train: DataFrame,
    bits: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    k: int = 4,
    m: int = 8192,
) -> DataFrame:
    """Training docs with ≥1 word n-gram whose k Bloom bits are ALL set.

    A superset of :func:`contaminated_ids`' exact answer (no false
    negatives — if the exact n-gram is in the eval set, its bits are all
    set by construction). The probe is map-only: the corpus explodes to
    (doc, gram, bit) rows — k per gram — inner-joined against the
    broadcast ≤m-row bit relation; a gram hits iff all k of its rows
    survive, folded back with one hash aggregate keyed on (doc, gram).
    Counting matched rows per gram (not distinct positions) keeps
    within-gram position collisions correct: each of the k rows matches
    or not independently, and a gram needs exactly k matches.
    """
    tr = (
        train.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, n)).alias("s"),
        )
        .filter(F.col("s") != "")
    )
    pos = tr.select(
        "doc_id", "s", F.explode(F.array(*_bloom_positions("s", k, m))).alias("pos")
    )
    return (
        pos.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "s")
        .agg(F.count("*").alias("__nm"))
        .filter(F.col("__nm") == k)
        .select("doc_id")
        .distinct()
    )


def _dsir_bucket(col: Column | str, m: int) -> Column:
    """Hashed feature bucket in [0, m) for a word n-gram — the engine's
    one md5-prefix hash idiom (sampling.hash_bucket), 'dsir:'-salted
    (DuckDB: ``('0x'||substr(md5('dsir:'||s),1,8))::BIGINT % m``)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import hash_bucket

    return (hash_bucket(col, "dsir:") % m).cast("int")


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    m: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw-corpus document by how target-like its hashed
    n-gram feature distribution is — the data-selection pass that picks
    which slice of a 100 TB crawl to train on, given a small
    high-quality target set (Wikipedia, textbooks, a domain corpus).

    Per document::

        logw = Σ_g [ ln p_tgt(b_g) − ln p_raw(b_g) ]

    over the doc's DISTINCT word ``n``-grams g (the engine-wide
    :func:`neardup.word_shingles` definition the dedup/decontamination
    family shares), where ``b_g`` is g's hashed bucket in [0, m) and
    ``p_tgt`` / ``p_raw`` are Laplace-(+1)-smoothed bucket unigram
    models of the target set / raw corpus. High ``logw`` = target-like;
    downstream selection keeps top-k or samples ∝ exp(logw) —
    composable with :func:`sampling.sample_to_target_mix`.

    Output: (doc_id, n_feats, logw) for EVERY corpus doc; zero-feature
    docs score (0, 0.0). Per-gram log terms are rounded to 9 dp and
    summed as DECIMAL (the order-free-reduce idiom, cf.
    :func:`textstats.unigram_logprob`), final logw rounded to 6 dp.

    Scale shape (100 TB): both bucket models aggregate to ≤ ``m`` rows
    (map-side partial combine → m-bounded output, however big the
    corpus), so the per-bucket log-ratio table is a guaranteed-small
    broadcast; scoring is a map-only broadcast join over the exploded
    gram relation plus one per-doc hash agg. The totals are 1-row
    broadcast cross joins — never ``collect()``. Nothing quadratic,
    no corpus-scale shuffle except the per-doc agg, which reuses the
    explode's doc partitioning.
    """
    def occ(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias("doc"),
                F.explode(word_shingles(text_col, n)).alias("s"),
            )
            .filter(F.col("s") != "")
            .select("doc", _dsir_bucket("s", m).alias("b"))
        )

    raw_occ = occ(corpus)
    raw_b = raw_occ.groupBy("b").agg(F.count("*").alias("c_raw"))
    tgt_b = occ(target).groupBy("b").agg(F.count("*").alias("c_tgt"))
    tot = raw_b.agg(F.sum("c_raw").alias("t_raw")).crossJoin(
        tgt_b.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("t_tgt"))
    )
    w = (
        raw_b.join(tgt_b, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("t_tgt") + F.lit(float(m)))
                )
                - F.log(
                    (F.col("c_raw") + F.lit(1.0))
                    / (F.col("t_raw") + F.lit(float(m)))
                ),
                9,
            ).alias("w"),
        )
    )
    scored = (
        raw_occ.join(F.broadcast(w), "b")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(
                F.sum(F.col("w").cast("decimal(28,12)")).cast("double"), 6
            ).alias("logw"),
        )
        .withColumnRenamed("doc", id_col)
    )
    return (
        corpus.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
        )
    )


def psi_drift(ref: DataFrame, cur: DataFrame, bins: int = 10) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    drift monitor a production ingest pipeline runs between yesterday's
    and today's crawl before letting a batch into training. Inputs are
    relations with an integer ``bin`` column in [0, bins); output is one
    row per bin (empty bins included):

        (bin, n_ref, n_cur, p_ref, p_cur, psi_term)

    with epsilon-PROBABILITY smoothing (``p = max(n/N, 1e-4)``) so empty
    bins contribute finite terms. Epsilon on the probability — not +1 on
    the count — keeps PSI size-invariant: a 20-row batch against a
    100k-row reference with IDENTICAL proportions scores exactly 0,
    where count-additive smoothing inflates every empty bin by the
    sample-size ratio and false-alarms on small batches (the gate's
    whole use case). Probabilities round to 6 dp and ``psi_term =
    (p_cur − p_ref)·ln(p_cur/p_ref)`` is computed FROM the rounded
    probabilities, keeping the relation a cross-engine contract. Total
    PSI = Σ psi_term (alert thresholds: 0.1 moderate, 0.25 major — the
    industry convention).

    Scale shape: two bounded hash-aggs (≤ bins rows out however large
    the snapshots), 1-row total broadcasts, and a ``bins``-row spine
    join — nothing corpus-sized survives the first aggregate.
    """
    return psi_drift_counts(
        ref.groupBy("bin").agg(F.count("*").alias("n")),
        cur.groupBy("bin").agg(F.count("*").alias("n")),
        bins=bins,
    )


def _on(
    left: DataFrame, right: DataFrame, key: tuple[str, ...], how: str = "inner"
) -> DataFrame:
    """``left`` joined to ``right`` on the feed ``key``; for ``key=()``
    a cross join — ``right`` is then a one-row global aggregate."""
    return left.join(right, list(key), how) if key else left.crossJoin(right)


def _drift_frame(
    ref_counts: DataFrame, cur_counts: DataFrame, bins: int, key: tuple[str, ...]
) -> DataFrame:
    """(*key, bin, n_ref, n_cur, tr, tc): the drift kernels' shared
    frame — the ``bins``-row spine crossed with every key value seen on
    either side, left-joined to both sides' counts, with each side's
    per-key total (NULL where that side lacks the key). For
    ``key=()`` the totals are two global aggregates, so the frame has
    ``bins`` rows even when both sides are empty; with a key, a group
    absent from both sides has no rows.

    Scale shape: two (keys × bins)-bounded hash-aggs (re-aggregated
    defensively: shard-merged count relations may carry the same bin
    more than once), and a keys-row totals relation broadcast across
    the bins spine — nothing corpus-sized survives the first
    aggregate."""
    spark = ref_counts.sparkSession
    spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    r = ref_counts.groupBy(*key, "bin").agg(F.sum("n").alias("n_ref"))
    c = cur_counts.groupBy(*key, "bin").agg(F.sum("n").alias("n_cur"))
    tot = _on(
        r.groupBy(*key).agg(F.sum("n_ref").alias("tr")),
        c.groupBy(*key).agg(F.sum("n_cur").alias("tc")),
        key,
        "full",
    )
    on = [*key, "bin"]
    return (
        spine.crossJoin(F.broadcast(tot))
        .join(r, on, "left")
        .join(c, on, "left")
        .select(
            *on,
            F.coalesce(F.col("n_ref"), F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).cast("bigint").alias("n_cur"),
            "tr",
            "tc",
        )
    )


def _share(num: Column, total: str) -> Column:
    """``num / total``, 0 where the total is NULL or 0 — an EMPTY
    snapshot is "no evidence"; the division is gated so ANSI mode never
    sees n/0."""
    return F.when(
        F.coalesce(F.col(total), F.lit(0)) > 0, num / F.col(total)
    ).otherwise(F.lit(0.0))


def psi_drift_counts(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    bins: int = 10,
    key: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`psi_drift` over PRE-AGGREGATED ``(*key, bin, n)`` count
    relations — the form a persisted reference snapshot should take
    (≤ bins rows per key value on disk instead of one row per document,
    so a gate decision never re-scans the validated corpus; ADVICE r5).
    Output, one row per (key value × bin):

        (*key, bin, n_ref, n_cur, p_ref, p_cur, psi_term)

    ``key=()`` is one pooled feed: the psi_drift contract, ``bins``
    rows always (an empty side floors every bin at epsilon). A key
    judges each feed (language, source) against ITS OWN reference,
    because a pooled PSI washes out a single feed going bad (a 2%
    source can drift to garbage while the pooled distribution barely
    moves). Totals are per key value; a feed absent from one side
    floors that side's every bin at epsilon (an unknown feed is "all
    bins empty", maximally drifted against any occupied reference —
    the conservative admission default)."""
    eps = F.lit(1e-4)
    p_ref = F.round(F.greatest(_share(F.col("n_ref"), "tr"), eps), 6)
    p_cur = F.round(F.greatest(_share(F.col("n_cur"), "tc"), eps), 6)
    return _drift_frame(ref_counts, cur_counts, bins, key).select(
        *key,
        "bin",
        "n_ref",
        "n_cur",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


def refreshed_reference_counts(
    batch_counts: DataFrame,
    ref_counts: DataFrame,
    window: int = 5,
    min_batches: int = 3,
    batch_col: str = "b",
    key: tuple[str, ...] = (),
) -> DataFrame:
    """The drift gate's re-baselining policy as a pure relation: given
    the per-ADMITTED-batch binned counts ``(*key, batch, bin, n)`` and
    the frozen reference ``(*key, bin, n)``, return the new reference
    — per key value (each feed re-baselines independently):

    * the summed counts of the NEWEST ``window`` admitted batches,
      when at least ``min_batches`` of them exist (the hysteresis: a
      gate that has been quarantining nearly everything must not
      re-baseline from the trickle that got through);
    * the frozen reference UNCHANGED otherwise — including a feed with
      NO admitted batches (one feed in a quarantine storm neither
      blocks the healthy feeds' re-baseline nor poisons its own).

    Fully declarative, so the registry queries replay it in ANSI SQL
    and :func:`drift_gate.refresh_reference` shares the exact policy.
    The newest-window pick is a ≤window-row sorted limit for
    ``key=()`` (no partition-less window) and a per-key row_number
    otherwise; the switch is a broadcast keys-row join (a 1-row scalar
    cross join for ``key=()``). Every relation here is bins-, keys- or
    window-sized; nothing corpus-shaped survives past the input
    counts."""
    if window <= 0 or min_batches <= 0:
        raise ValueError(
            f"window and min_batches must be positive, got {window}, "
            f"{min_batches}"
        )
    b = batch_col
    batches = batch_counts.select(*key, b).distinct()
    newest = (
        batches.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy(*key).orderBy(F.desc(b))),
        )
        .filter(F.col("__rn") <= window)
        .drop("__rn")
        if key
        else batches.orderBy(F.desc(b)).limit(window)
    )
    in_win = batch_counts.join(F.broadcast(newest), [*key, b])
    cand = in_win.groupBy(*key, "bin").agg(F.sum("n").cast("bigint").alias("n"))
    nwin = F.broadcast(
        in_win.groupBy(*key).agg(F.countDistinct(b).cast("bigint").alias("__nb"))
    )
    cols = [*key, "bin", "n"]
    take_new = _on(cand, nwin, key).filter(F.col("__nb") >= min_batches)
    keep_old = _on(
        ref_counts.select(*key, "bin", F.col("n").cast("bigint").alias("n")),
        nwin,
        key,
        "left",
    ).filter(F.coalesce(F.col("__nb"), F.lit(0)) < min_batches)
    return take_new.select(cols).unionAll(keep_old.select(cols))


def ks_drift_counts(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    bins: int = 10,
    key: tuple[str, ...] = (),
) -> DataFrame:
    """Kolmogorov–Smirnov drift over pre-aggregated ``(*key, bin, n)``
    count relations — the companion to :func:`psi_drift_counts` for the
    drift signals PSI under-weights: PSI scores per-bin density RATIO
    (loud on tail bins, quiet on a small uniform shift of the whole
    mass), the KS statistic max|CDF_ref − CDF_cur| scores the worst
    cumulative displacement, which is exactly what a location shift
    produces. Output, one row per (key value × bin), with the same key
    semantics as psi_drift_counts:

        (*key, bin, n_ref, n_cur, cdf_ref, cdf_cur, ks_term)

    with cdf_* the cumulative fraction through that bin (6dp; an empty
    snapshot's CDF is all-zero — "no evidence") and ks_term =
    |cdf_cur − cdf_ref| (6dp). max(ks_term) per key value is the
    alerting metric — no smoothing needed because CDFs never divide by
    a bin count.

    Scale shape: the cumsum window is partitioned by the key — bins
    rows per partition; for ``key=()`` it runs over the bins-row spine
    (bounded, declared)."""
    w = Window.partitionBy(*key).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf_ref = F.round(_share(F.sum("n_ref").over(w), "tr"), 6)
    cdf_cur = F.round(_share(F.sum("n_cur").over(w), "tc"), 6)
    return _drift_frame(ref_counts, cur_counts, bins, key).select(
        *key,
        "bin",
        "n_ref",
        "n_cur",
        cdf_ref.alias("cdf_ref"),
        cdf_cur.alias("cdf_cur"),
        F.round(F.abs(cdf_cur - cdf_ref), 6).alias("ks_term"),
    )


def kgrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(doc_id, spos, gram): every run of ``k`` consecutive tokens as a
    space-joined gram string with its start position — the relation
    both :func:`dedup_spans` and the streaming span gate
    (streaming/span_gate.py) count and flag on, factored out so batch
    and stream agree on the gram universe. Map-side only (one array
    transform + posexplode); docs shorter than ``k`` tokens contribute
    nothing."""
    toks_arr = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    return toks_arr.select(
        "doc_id",
        F.when(
            F.size("__toks") >= k,
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - k),
                lambda i: F.array_join(F.slice("__toks", i + 1, k), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__grams"),
    ).select("doc_id", F.posexplode("__grams").alias("spos", "gram"))


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
    join_with: str = " ",
    prior_counts: DataFrame | None = None,
    batch_counts: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-substring removal — the ExactSubstr idea of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") re-expressed relationally: every run of ``k``
    consecutive tokens whose text occurs ≥ ``min_occurrences`` times
    ACROSS THE CORPUS (occurrence count — a doc repeating its own
    passage counts every repeat, and ALL copies are removed, the
    variant the paper found strongest) marks its tokens as duplicated;
    covered tokens are dropped and the survivors re-join in order.

    Completes the dedup family between :func:`dedup_lines` (fixed
    line grain) and whole-doc fingerprinting: span dedup catches the
    quoted paragraph inside an otherwise-unique page, which neither
    line- nor doc-grain sees. Output: (doc_id, n_tokens,
    dropped_tokens, text_clean); docs shorter than ``k`` tokens pass
    through untouched.

    Scale shape (vs the paper's suffix array): k-gram construction is
    a map-side array transform; ONE count aggregate on the gram hash;
    one equi-join back to flag duplicated starts; coverage is a
    per-doc k-row sliding-window max (partitioned by doc — never
    global); one ordered per-doc reassembly. Linear in corpus size,
    no suffix array, no self-join — the shuffle keys are gram strings
    and doc ids only.

    ``prior_counts`` (a ``(gram, c)`` relation) shifts the occurrence
    bar by counts accumulated OUTSIDE ``df`` — the streaming span
    gate's hook: a gram already seen ``c`` times by earlier batches
    needs only ``min_occurrences - c`` copies here to flag. With the
    default ``None`` the bar is the in-corpus count alone (the exact
    Lee-et-al batch semantics). ``batch_counts`` supplies the
    IN-corpus ``(gram, c)`` counts pre-computed (and ideally
    materialized) by the caller, so a caller that needs them anyway —
    the span gate persists them as state — doesn't pay the gram
    fan-out and count shuffle twice.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks_arr = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    grams = kgrams(df, id_col, text_col, k)
    if batch_counts is not None:
        occ = batch_counts.select(
            "gram", F.col("c").cast("long").alias("__occ")
        )
    else:
        occ = grams.groupBy("gram").agg(F.count("*").alias("__occ"))
    if prior_counts is not None:
        occ = occ.join(
            prior_counts.select("gram", F.col("c").alias("__prior")),
            "gram",
            "left",
        ).select(
            "gram",
            (F.col("__occ") + F.coalesce(F.col("__prior"), F.lit(0))).alias(
                "__occ"
            ),
        )
    dup = occ.filter(F.col("__occ") >= min_occurrences).select("gram")
    starts = grams.join(dup, "gram", "left_semi").select(
        "doc_id", F.col("spos").alias("pos"), F.lit(1).alias("__start")
    )
    tk = toks_arr.select(
        "doc_id", F.posexplode("__toks").alias("pos", "tok")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(k - 1), 0)
    )
    covered = tk.join(starts, ["doc_id", "pos"], "left").select(
        "doc_id",
        "pos",
        "tok",
        (F.max(F.coalesce(F.col("__start"), F.lit(0))).over(w) == 1).alias(
            "__cov"
        ),
    )
    stats = covered.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("__cov"), 1)).cast("bigint").alias(
            "dropped_tokens"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__cov"), F.struct("pos", "tok")
                        )
                    )
                ),
                lambda s: s.getField("tok"),
            ),
            join_with,
        ).alias("text_clean"),
    )
    # docs with zero tokens never reach the explode — restore them
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("dropped_tokens", F.lit(0))
            .cast("bigint")
            .alias("dropped_tokens"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def dedup_spans_online(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_col: str = "b",
    k: int = 8,
    min_occurrences: int = 2,
    join_with: str = " ",
) -> DataFrame:
    """:func:`dedup_spans` under the streaming span gate's FIRST-WINS
    contract, as ONE relational query: ``df`` carries an ordered batch
    column, and a token of a batch-``i`` doc is covered iff some
    covering k-gram's CUMULATIVE occurrence count through batch ``i``
    meets ``min_occurrences``. This is exactly what
    streaming/span_gate.py computes batch-by-batch against its state
    store — but because the gate's state update is unconditional (raw
    counts, independent of prior drop decisions), the sequential
    replay collapses to a per-gram running sum: no loop, no state, one
    window over the gram counts. tests/test_span_gate.py pins
    stream == this relation on the same split. Output adds
    ``batch_col`` to the dedup_spans columns.

    Scale shape: everything in :func:`dedup_spans` plus one
    (gram-partitioned) cumsum window over the ≤|batches|-row per-gram
    count relation — still linear, still self-join-free.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql import Window

    b = F.col(batch_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), b.alias("__b"), tokens(text_col).alias("__toks")
    )
    # gram construction directly over base: __toks and __b are already
    # here, so no second tokenization and no corpus-sized join to
    # re-attach the batch column
    grams = base.select(
        "doc_id",
        "__b",
        F.posexplode(
            F.when(
                F.size("__toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - k),
                    lambda i: F.array_join(F.slice("__toks", i + 1, k), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("spos", "gram"),
    )
    per_batch = grams.groupBy("gram", "__b").agg(F.count("*").alias("__n"))
    wcum = Window.partitionBy("gram").orderBy("__b")
    cum = per_batch.select(
        "gram", "__b", F.sum("__n").over(wcum).alias("__cum")
    )
    # a (gram, batch) pair is "hot" once the running count reaches the
    # bar — every start of that gram in that batch (and later ones,
    # which have their own >= rows) is a duplicated-span start
    hot = cum.filter(F.col("__cum") >= min_occurrences).select("gram", "__b")
    starts = (
        grams.join(hot, ["gram", "__b"], "left_semi")
        .select("doc_id", F.col("spos").alias("pos"), F.lit(1).alias("__start"))
    )
    tk = base.select(
        "doc_id", "__b", F.posexplode("__toks").alias("pos", "tok")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(k - 1), 0)
    )
    covered = tk.join(starts, ["doc_id", "pos"], "left").select(
        "doc_id",
        "__b",
        "pos",
        "tok",
        (F.max(F.coalesce(F.col("__start"), F.lit(0))).over(w) == 1).alias(
            "__cov"
        ),
    )
    stats = covered.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("__cov"), 1)).cast("bigint").alias(
            "dropped_tokens"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__cov"), F.struct("pos", "tok")
                        )
                    )
                ),
                lambda t: t.getField("tok"),
            ),
            join_with,
        ).alias("text_clean"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), b.alias(batch_col))
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            batch_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("dropped_tokens", F.lit(0))
            .cast("bigint")
            .alias("dropped_tokens"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )
