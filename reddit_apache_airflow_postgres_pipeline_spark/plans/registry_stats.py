"""Query registry, part 6: statistical profiling — exact-arithmetic
Pearson correlation over the fact table and an embedding covariance
(Gram) matrix. Both are built from decimal-exact sums so the results
are bit-identical across engines: the only floating-point ops left at
the end (divide, sqrt) are IEEE-754 correctly-rounded and therefore
engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import _q
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import load_table

_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _pearson_sql() -> str:
    sums = ["COUNT(*) AS n"]
    for m in _MEASURES:
        sums.append(f"SUM(CAST({m} AS DECIMAL(18,2))) AS s_{m}")
    for i, a in enumerate(_MEASURES):
        for b in _MEASURES[i + 1 :]:
            sums.append(
                f"SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)))"
                f" AS s_{a}_{b}"
            )
        sums.append(
            f"SUM(CAST({a} AS DECIMAL(18,2)) * CAST({a} AS DECIMAL(18,2)))"
            f" AS s_{a}_{a}"
        )
    pairs = []
    for i, a in enumerate(_MEASURES):
        for b in _MEASURES[i + 1 :]:
            r = (
                f"(n * CAST(s_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                f" / sqrt((n * CAST(s_{a}_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (n * CAST(s_{b}_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
            )
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, round({r}, 6) AS r FROM agg"
            )
    return (
        "WITH agg AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(pairs)
    )


@_q("q_lineitem_pearson", _pearson_sql())
def q_lineitem_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation across the four lineitem measures in
    ONE aggregation pass (n + 4 sums + 10 product sums, all
    decimal-exact since the inputs are 2-dp quantities), then the r
    formula in doubles — divide and sqrt are correctly-rounded IEEE ops,
    so no engine divergence and no rounding tricks needed until the
    final 6-dp display round. One scan, one 1-row reduce: the profile
    pass a 100 TB table gets from ``df.stat`` without the second job per
    pair."""
    li = load_table(spark, sf_dir, "lineitem")

    def dec(m):
        return F.col(m).cast("decimal(18,2)")

    aggs = [F.count("*").alias("n")]
    for m in _MEASURES:
        aggs.append(F.sum(dec(m)).alias(f"s_{m}"))
    for i, a in enumerate(_MEASURES):
        for b in _MEASURES[i + 1 :]:
            aggs.append(F.sum(dec(a) * dec(b)).alias(f"s_{a}_{b}"))
        aggs.append(F.sum(dec(a) * dec(a)).alias(f"s_{a}_{a}"))
    agg = li.agg(*aggs)

    def d(c):
        return F.col(c).cast("double")

    r_cols, stack_args = [], []
    for i, a in enumerate(_MEASURES):
        for b in _MEASURES[i + 1 :]:
            num = F.col("n") * d(f"s_{a}_{b}") - d(f"s_{a}") * d(f"s_{b}")
            var_a = F.col("n") * d(f"s_{a}_{a}") - d(f"s_{a}") * d(f"s_{a}")
            var_b = F.col("n") * d(f"s_{b}_{b}") - d(f"s_{b}") * d(f"s_{b}")
            name = f"r_{a}_{b}"
            r_cols.append(
                F.round(num / F.sqrt(var_a * var_b), 6).alias(name)
            )
            stack_args.append(f"'{a}', '{b}', {name}")
    # one scan, one 1-row reduce, then stack() unpivots the 6 pair
    # columns into rows — no unionAll re-aggregation per pair.
    return agg.select(*r_cols).select(
        F.expr(
            f"stack({len(stack_args)}, "
            + ", ".join(stack_args)
            + ") AS (col_a, col_b, r)"
        )
    )


@_q(
    "q_embedding_covariance",
    """
    WITH el AS (
      SELECT vec_id, g.i AS i, embedding[g.i] AS x
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) g
      WHERE len(embedding) >= 8),
    pairs AS (
      SELECT a.i AS dim_i, b.i AS dim_j,
             CAST(round(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE), 9)
                  AS DECIMAL(28,12)) AS xy,
             CAST(round(CAST(a.x AS DOUBLE), 9) AS DECIMAL(28,12)) AS xa,
             CAST(round(CAST(b.x AS DOUBLE), 9) AS DECIMAL(28,12)) AS xb
      FROM el a JOIN el b ON b.vec_id = a.vec_id AND b.i >= a.i)
    SELECT dim_i, dim_j,
           round(CAST(SUM(xy) AS DOUBLE) / COUNT(*)
                 - (CAST(SUM(xa) AS DOUBLE) / COUNT(*))
                   * (CAST(SUM(xb) AS DOUBLE) / COUNT(*)), 6) AS cov
    FROM pairs GROUP BY dim_i, dim_j
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance (Gram) matrix over the first 8 dimensions —
    the statistics a whitening / PCA preprocessing stage needs. Products
    are rounded to 9 dp per row and summed as DECIMAL so the reduce is
    order-free (the quantize-audit determinism recipe); cov then comes
    from exact sums with correctly-rounded double division at the end.
    Plan: posexplode → self-equi-join on vec_id (64× fan-out bounded to
    the selected dims) → one hash agg; at 100 TB the same shape runs
    per-partition as a map-side partial Gram before one 36-row reduce.
    The dim cap keeps the demo output small; lift it for the full 64×64
    matrix (2080 upper-triangle cells)."""
    em = load_table(spark, sf_dir, "embeddings")
    el = em.filter(F.size("embedding") >= 8).select(
        "vec_id", F.posexplode("embedding").alias("p", "x")
    ).select(
        "vec_id", (F.col("p") + 1).alias("i"), F.col("x").cast("double").alias("x")
    ).filter(F.col("i") <= 8)
    a = el.alias("a")
    b = el.alias("b")
    pairs = a.join(
        b,
        (F.col("b.vec_id") == F.col("a.vec_id")) & (F.col("b.i") >= F.col("a.i")),
    ).select(
        F.col("a.i").alias("dim_i"),
        F.col("b.i").alias("dim_j"),
        F.round(F.col("a.x") * F.col("b.x"), 9)
        .cast("decimal(28,12)")
        .alias("xy"),
        F.round(F.col("a.x"), 9).cast("decimal(28,12)").alias("xa"),
        F.round(F.col("b.x"), 9).cast("decimal(28,12)").alias("xb"),
    )
    cnt = F.count("*")
    return pairs.groupBy("dim_i", "dim_j").agg(
        F.round(
            F.sum("xy").cast("double") / cnt
            - (F.sum("xa").cast("double") / cnt)
            * (F.sum("xb").cast("double") / cnt),
            6,
        ).alias("cov")
    )


_LN2 = 0.6931471805599453  # double nearest ln(2): engines' log(2) may differ 1 ulp


@_q(
    "q_doc_entropy",
    """
    WITH tc AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
            FROM documents) t
      WHERE tok <> '' GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             SUM(CAST(round(c * ln(c), 9) AS DECIMAL(28,12))) AS sl
      FROM tc GROUP BY doc_id)
    SELECT doc_id, n AS n_tokens, vocab,
           round((ln(n) - CAST(sl AS DOUBLE) / n) / 0.6931471805599453, 6)
             AS entropy_bits
    FROM agg
    """,
)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document (bits) — the
    information-density quality signal next to the repetition family.
    H = ln(n) − Σ c·ln(c) / n, with the per-term products rounded to
    9 dp and summed as DECIMAL so the reduce is order-free; the ln(2)
    divisor is a pinned literal because engines' log(2) can differ by an
    ulp. Plan: explode → (doc, tok) hash agg → per-doc re-agg, all
    map-side-combining."""
    d = load_table(spark, sf_dir, "documents")
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens

    tc = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").alias("vocab"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c")), 9).cast("decimal(28,12)")
        ).alias("sl"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "vocab",
        F.round(
            (F.log("n") - F.col("sl").cast("double") / F.col("n")) / _LN2, 6
        ).alias("entropy_bits"),
    )


@_q(
    "q_token_zipf_slope",
    """
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
            FROM documents) t
      WHERE tok <> '' GROUP BY tok),
    top AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank
      FROM tf ORDER BY n DESC, tok ASC LIMIT 50),
    terms AS (
      SELECT CAST(round(ln(rank), 9) AS DECIMAL(28,12)) AS x,
             CAST(round(ln(n), 9) AS DECIMAL(28,12)) AS y,
             CAST(round(ln(rank) * ln(n), 9) AS DECIMAL(28,12)) AS xy,
             CAST(round(ln(rank) * ln(rank), 9) AS DECIMAL(28,12)) AS xx
      FROM top),
    s AS (SELECT COUNT(*) AS k, CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(xy) AS DOUBLE) AS sxy,
                 CAST(SUM(xx) AS DOUBLE) AS sxx FROM terms)
    SELECT CAST(k AS BIGINT) AS k,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
             AS intercept
    FROM s
    """,
)
def q_token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: least-squares slope of ln(freq) vs
    ln(rank) over the top-50 vocabulary terms — the corpus-shape
    diagnostic a language-data pipeline tracks (natural text ≈ −1).
    Top-k by (freq desc, tok) is TakeOrderedAndProject; the regression
    terms are 9-dp-rounded decimal sums (order-free), with the final
    slope/intercept arithmetic in IEEE-exact doubles."""
    d = load_table(spark, sf_dir, "documents")
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens
    from pyspark.sql import Window

    tf = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(50)
    )
    top = tf.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("n"), F.asc("tok"))
        ),
    )
    lx, ly = F.log("rank"), F.log("n")
    terms = top.select(
        F.round(lx, 9).cast("decimal(28,12)").alias("x"),
        F.round(ly, 9).cast("decimal(28,12)").alias("y"),
        F.round(lx * ly, 9).cast("decimal(28,12)").alias("xy"),
        F.round(lx * lx, 9).cast("decimal(28,12)").alias("xx"),
    )
    s = terms.agg(
        F.count("*").alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    k, sx, sy, sxy, sxx = (F.col(c) for c in ("k", "sx", "sy", "sxy", "sxx"))
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return s.select(
        F.col("k").cast("long").alias("k"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / k, 6).alias("intercept"),
    )


def _triangles_sql() -> str:
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ml import _minhash_sql

    pairs = _minhash_sql(12, 4, 0.7)
    return f"""
    WITH edges AS (SELECT id_a, id_b FROM ({pairs}) p),
    nodes AS (SELECT id_a AS v FROM edges UNION SELECT id_b FROM edges),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.id_a = e1.id_b
      JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles
    """


@_q("q_neardup_triangles", _triangles_sql())
def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate pair graph — the graph-
    analytics sanity check on dedup output (triangle-dense components
    are template families; the count feeds a clustering-coefficient
    drift monitor). Edges come from the same MinHash miner as
    q_dedup_minhash_lsh; with id_a < id_b every triangle is counted
    once via the canonical a<b<c two-hop join. The tiny edge list is
    localCheckpoint()ed so the three-way self-join and the node/edge
    counts reuse one materialization instead of re-mining signatures
    five times (at 100 TB the edge list is a written table anyway)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import neardup

    d = load_table(spark, sf_dir, "documents")
    edges = (
        neardup.minhash_lsh_pairs(
            d, "doc_id", "text", n=3, num_hashes=12, bands=4, threshold=0.7
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.id_a") == F.col("e1.id_b"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = (
        edges.select(F.col("id_a").alias("v"))
        .union(edges.select("id_b"))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    ecnt = edges.agg(F.count("*").alias("n_edges"))
    return (
        ecnt.crossJoin(F.broadcast(nodes))
        .crossJoin(F.broadcast(tri))
        .select("n_edges", "n_nodes", "n_triangles")
    )


@_q(
    "q_doc_unigram_logprob",
    """
    WITH occ AS (
      SELECT doc, tok FROM (
        SELECT doc_id AS doc,
               unnest(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
        FROM documents) t
      WHERE tok <> ''),
    v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY tok),
    tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM v)
    SELECT o.doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(CAST(SUM(CAST(round(log2(v.c * 1.0 / tt.t), 9)
                               AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob
    FROM occ o JOIN v USING (tok), tt
    GROUP BY o.doc
    """,
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal: per-doc mean unigram
    log2-probability under the corpus's own empirical unigram LM
    (improbable-token documents — OCR noise, wrong-language spans —
    score far below the bulk). Per-token logs rounded to 9 dp and
    summed as DECIMAL so the reduce is order-free across engines; one
    vocab agg + token join + per-doc agg (see
    operators/textstats.py:unigram_logprob for the plan story)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import unigram_logprob

    d = load_table(spark, sf_dir, "documents")
    return unigram_logprob(d, "doc_id", "text")


@_q(
    "q_doc_bigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
      WHERE trim(lower(coalesce(text,''))) <> ''),
    occ AS (
      SELECT doc_id AS doc,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1])) AS bg
      FROM toks WHERE len(tk) >= 2),
    bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cbg FROM occ GROUP BY bg),
    ctx AS (SELECT split_part(bg, ' ', 1) AS w1,
                   CAST(SUM(cbg) AS BIGINT) AS cctx
            FROM bgc GROUP BY 1),
    voc AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM (
        SELECT unnest(tk) AS tok FROM toks) u WHERE tok <> '')
    SELECT o.doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(CAST(round(log2((b.cbg + 1) * 1.0 / (c.cctx + voc.v)), 9)
                               AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob
    FROM occ o
      JOIN bgc b USING (bg)
      JOIN ctx c ON c.w1 = split_part(o.bg, ' ', 1), voc
    GROUP BY o.doc
    """,
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy with Laplace smoothing — flags
    word-salad docs the unigram filter can't see. One regex pass for
    bigram occurrences, one bigram agg + context agg, broadcast vocab
    size, per-doc order-free decimal reduce (see
    operators/textstats.py:bigram_logprob)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import bigram_logprob

    d = load_table(spark, sf_dir, "documents")
    return bigram_logprob(d, "doc_id", "text")


@_q(
    "q_cms_token_freq_audit",
    """
    WITH occ AS (
      SELECT unnest(CASE WHEN trim(lower(coalesce(text,''))) = ''
                         THEN []::VARCHAR[]
                         ELSE string_split_regex(trim(lower(coalesce(text,''))),
                                                 '[ \\t\\n\\x0b\\f\\r]+') END) AS tok
      FROM documents),
    cells AS (
      SELECT j AS row,
             CAST(('0x' || substr(md5('cms' || j || ':' || tok), 1, 8))::BIGINT
                  % 256 AS INT) AS col
      FROM occ CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)),
    cms AS (SELECT row, col, COUNT(*) AS c FROM cells GROUP BY row, col),
    exact AS (SELECT tok, COUNT(*) AS exact FROM occ GROUP BY tok),
    probes AS (
      SELECT e.tok, e.exact, j AS row,
             CAST(('0x' || substr(md5('cms' || j || ':' || e.tok), 1, 8))::BIGINT
                  % 256 AS INT) AS col
      FROM exact e CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)),
    est AS (
      SELECT p.tok, p.exact, MIN(COALESCE(s.c, 0)) AS est
      FROM probes p LEFT JOIN cms s ON s.row = p.row AND s.col = p.col
      GROUP BY p.tok, p.exact)
    SELECT tok, CAST(exact AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
           CAST(est - exact AS BIGINT) AS overcount
    FROM est
    """,
)
def q_cms_token_freq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch accuracy audit: build a 4×256 CMS over the
    corpus's token occurrences, point-query every vocabulary token, and
    report estimate vs exact count — overcount ≥ 0 always (CMS never
    underestimates), and its distribution is the ε·N error bound made
    visible, the same audit shape as the MinHash-estimate and IVF-recall
    queries. The sketch is a ≤1024-row relation whatever the corpus
    size; per-shard sketches merge by cell-wise sum
    (operators/sketches.py:cms_merge)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens

    d = load_table(spark, sf_dir, "documents")
    occ = d.select(F.explode(tokens("text")).alias("tok"))
    cms = sketches.cms_build(occ, "tok", d=4, w=256)
    exact = occ.groupBy("tok").agg(F.count("*").alias("exact"))
    est = sketches.cms_estimate(cms, exact.select("tok"), "tok", d=4, w=256)
    return exact.join(est, "tok").select(
        "tok",
        F.col("exact").cast("bigint").alias("exact"),
        "est",
        (F.col("est") - F.col("exact")).cast("bigint").alias("overcount"),
    )


@_q(
    "q_hll_distinct_users_audit",
    """
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events),
    rk AS (
      SELECT event_type, CAST(hv % 32 AS INT) AS register,
             CASE WHEN (hv >> 5) = 0 THEN 56
                  ELSE instr(lpad(bin(hv >> 5), 55, '0'), '1') END AS rank
      FROM h),
    sk AS (SELECT event_type, register, MAX(rank) AS maxrank
           FROM rk GROUP BY 1, 2),
    ag AS (SELECT event_type, COUNT(*) AS pres,
                  SUM(1::BIGINT << (56 - maxrank)) AS zp
           FROM sk GROUP BY event_type),
    est AS (
      SELECT event_type,
             CASE WHEN 5.142952247750223e+19
                       / (zp + (32 - pres) * (1::BIGINT << 56)) <= 80.0
                       AND (32 - pres) > 0
                  THEN round(32.0 * ln(32.0 / (32 - pres)), 4)
                  ELSE round(5.142952247750223e+19
                             / (zp + (32 - pres) * (1::BIGINT << 56)), 4)
             END AS est_users
      FROM ag),
    exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
              FROM events GROUP BY 1)
    SELECT x.event_type AS event_type,
           CAST(x.exact_users AS BIGINT) AS exact_users,
           e.est_users AS est_users,
           round((e.est_users - x.exact_users) / x.exact_users, 4) AS rel_err
    FROM est e JOIN exact x USING (event_type)
    """,
)
def q_hll_distinct_users_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog accuracy audit: per-event-type distinct-user estimate
    from a 32-register sketch RELATION vs the exact distinct count —
    the "distinct users per segment" query whose exact form shuffles
    every raw user id, answered from ≤32 rows per group instead. Rank
    extraction is pure integer/string arithmetic (60-bit hash) and Z is
    summed exactly as a scaled BIGINT, so the estimate replays
    bit-for-bit in the
    oracle — unlike the engine's built-in approx_count_distinct, whose
    HLL++ internals are not portable (q_approx_count_distinct pins that
    one by exactness-at-small-n instead)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    e = load_table(spark, sf_dir, "events")
    sk = sketches.hll_build(e, "user_id", ["event_type"], p=5)
    est = sketches.hll_estimate(sk, ["event_type"], p=5).withColumnRenamed(
        "est", "est_users"
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_users",
        "est_users",
        F.round(
            (F.col("est_users") - F.col("exact_users")) / F.col("exact_users"), 4
        ).alias("rel_err"),
    )


def _pagerank_sql(iters: int, damping: float) -> str:
    """Unrolled-CTE PageRank oracle over the same MinHash pair miner the
    triangle census uses; mirrors operators/clusters.py:pagerank's
    rounding contract (contributions and ranks at 9 dp, DECIMAL sums)."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ml import _minhash_sql

    pairs = _minhash_sql(12, 4, 0.7)
    sql = f"""
    WITH p AS ({pairs}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION ALL SELECT id_b, id_a FROM p),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, round(1.0 / nn.n, 9) AS rank FROM nodes, nn)"""
    for i in range(1, iters + 1):
        sql += f""",
    c{i} AS (SELECT e.dst AS node, round(r.rank / d.deg, 9) AS c
             FROM edges e JOIN r{i-1} r ON r.node = e.src
             JOIN deg d ON d.src = e.src),
    s{i} AS (SELECT node, CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS s
             FROM c{i} GROUP BY node),
    r{i} AS (SELECT nodes.node, round((1.0 - {damping}) / nn.n
                    + {damping} * COALESCE(s{i}.s, 0.0), 9) AS rank
             FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node, nn)"""
    return sql + f"\n    SELECT node, rank FROM r{iters}"


@_q("q_neardup_pagerank", _pagerank_sql(3, 0.85))
def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-duplicate pair graph (3
    deterministic rounds, damping 0.85) — surfaces the hub document of
    each template family, a better canonical-survivor signal than
    min-id on star-shaped clusters. Second iterative algorithm under
    the unrolled-CTE oracle discipline (after kmeans_refine); each
    round is one O(|E|) join + agg, localCheckpoint()ed to keep the
    plan constant-size."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import clusters, neardup

    d = load_table(spark, sf_dir, "documents")
    pairs = neardup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=12, bands=4, threshold=0.7
    ).select("id_a", "id_b")
    return clusters.pagerank(pairs, iters=3, damping=0.85)


def _power_iter_sql(iters: int) -> str:
    """Unrolled power iteration over the symmetrized 8×8 covariance —
    the third iterative algorithm under the rounding-contract oracle
    discipline (after Lloyd refinement and PageRank): per-term products
    round to 9 dp and sum as DECIMAL, each round's vector renormalizes
    and rounds to 6 dp."""
    cov = """
    WITH el AS (
      SELECT vec_id, g.i AS i, embedding[g.i] AS x
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) g
      WHERE len(embedding) >= 8),
    prs AS (
      SELECT a.i AS dim_i, b.i AS dim_j,
             CAST(round(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE), 9)
                  AS DECIMAL(28,12)) AS xy,
             CAST(round(CAST(a.x AS DOUBLE), 9) AS DECIMAL(28,12)) AS xa,
             CAST(round(CAST(b.x AS DOUBLE), 9) AS DECIMAL(28,12)) AS xb
      FROM el a JOIN el b ON b.vec_id = a.vec_id AND b.i >= a.i),
    cov AS (
      SELECT dim_i, dim_j,
             round(CAST(SUM(xy) AS DOUBLE) / COUNT(*)
                   - (CAST(SUM(xa) AS DOUBLE) / COUNT(*))
                     * (CAST(SUM(xb) AS DOUBLE) / COUNT(*)), 6) AS cov
      FROM prs GROUP BY dim_i, dim_j),
    A AS (SELECT dim_i AS i, dim_j AS j, cov AS a FROM cov
          UNION ALL
          SELECT dim_j, dim_i, cov FROM cov WHERE dim_i <> dim_j),
    v0 AS (SELECT unnest(generate_series(1, 8)) AS i, 1.0 AS v)"""
    for k in range(1, iters + 1):
        cov += f""",
    w{k} AS (SELECT A.i,
                    CAST(SUM(CAST(round(A.a * v.v, 9) AS DECIMAL(28,12)))
                         AS DOUBLE) AS w
             FROM A JOIN v{k-1} v ON v.i = A.j GROUP BY A.i),
    n{k} AS (SELECT sqrt(CAST(SUM(CAST(round(w * w, 9) AS DECIMAL(28,12)))
                              AS DOUBLE)) AS nm FROM w{k}),
    v{k} AS (SELECT i, round(w / nm, 6) AS v FROM w{k}, n{k})"""
    return cov + f"""
    SELECT v{iters}.i AS pos, v{iters}.v AS component,
           round(n{iters}.nm, 6) AS eigenvalue
    FROM v{iters}, n{iters}
    """


@_q("q_embedding_principal_component", _power_iter_sql(3))
def q_embedding_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding covariance by 3 rounds of
    power iteration — the PCA direction a whitening / de-biasing
    preprocessing stage removes first. The corpus-scale work is the one
    Gram pass (same plan as q_embedding_covariance); the iteration then
    runs on the tiny 8×8 matrix RELATION (join + agg per round — no
    driver-side numpy), with the rounding contract making all three
    rounds replay bit-for-bit in the oracle. eigenvalue is the Rayleigh
    estimate ‖A·v‖ after the final round. The cov relation is
    localCheckpoint()ed (the triangles/pagerank idiom) so the
    corpus-scale Gram pass appears exactly once: without it the static
    plan re-derives cov inside every unrolled round (148 exchanges,
    r5 verdict) and leans on AQE ReuseExchange to dedup at runtime."""
    cov = q_embedding_covariance(spark, sf_dir).localCheckpoint()
    A = cov.select(
        F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), F.col("cov").alias("a")
    ).unionAll(
        cov.filter(F.col("dim_i") != F.col("dim_j")).select(
            F.col("dim_j").alias("i"), F.col("dim_i").alias("j"), F.col("cov").alias("a")
        )
    )
    v = spark.range(1, 9).select(
        F.col("id").cast("int").alias("i"), F.lit(1.0).alias("v")
    )
    for _ in range(3):
        # w is 8 rows; checkpointing it per round keeps the plan
        # constant-size (nm and v both read the same materialized leaf
        # instead of duplicating the whole prior-round subtree)
        w = (
            A.join(v.withColumnRenamed("i", "j"), "j")
            .select("i", F.round(F.col("a") * F.col("v"), 9).alias("t"))
            .groupBy("i")
            .agg(F.sum(F.col("t").cast("decimal(28,12)")).cast("double").alias("w"))
            .localCheckpoint()
        )
        nm = w.agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w"), 9).cast("decimal(28,12)")).cast(
                    "double"
                )
            ).alias("nm")
        )
        v = w.crossJoin(F.broadcast(nm)).select(
            "i", F.round(F.col("w") / F.col("nm"), 6).alias("v")
        )
    return v.crossJoin(F.broadcast(nm)).select(
        F.col("i").alias("pos"),
        F.col("v").alias("component"),
        F.round(F.col("nm"), 6).alias("eigenvalue"),
    )


def _bpe_ctes(k: int) -> str:
    """The shared unrolled trainer CTE chain (w0 vocabulary -> s0 char
    sequences -> k rounds of pair-count/argmax/replace), with the word
    carried through every s-CTE so apply-side stats can join back."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import _TOKENS_SQL

    sql = (
        """
    WITH w0 AS (
      SELECT tok AS w, COUNT(*) AS freq
      FROM (SELECT unnest("""
        + _TOKENS_SQL
        + """) AS tok FROM documents) t
      WHERE tok <> '' AND tok NOT LIKE '%{%' AND tok NOT LIKE '%}%'
      GROUP BY tok),
    s0 AS (SELECT w, regexp_replace(w, '(.)', '{\\1}', 'g') AS seq, freq FROM w0)"""
    )
    for i in range(1, k + 1):
        sql += f""",
    p{i} AS (
      SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                    j -> [syms[j], syms[j+1]])) AS pr, freq
      FROM (SELECT string_split(trim(seq, '{{}}'), '}}{{') AS syms, freq
            FROM s{i-1}) t),
    c{i} AS (SELECT pr[1] AS l_sym, pr[2] AS r_sym, SUM(freq) AS cnt
             FROM p{i} GROUP BY 1, 2),
    b{i} AS (SELECT * FROM (SELECT l_sym, r_sym, cnt FROM c{i}
                            UNION ALL SELECT '', '', 0)
             ORDER BY cnt DESC, l_sym, r_sym LIMIT 1),
    s{i} AS (SELECT w, replace(seq, '{{' || b.l_sym || '}}{{' || b.r_sym || '}}',
                            '{{' || b.l_sym || b.r_sym || '}}') AS seq, freq
             FROM s{i-1}, b{i} b)"""
    return sql


def _bpe_sql(k: int) -> str:
    """Unrolled-CTE BPE trainer oracle: per round, pair-count over the
    brace-delimited symbol sequences, lexicographic-tie-broken argmax,
    leftmost-non-overlapping replace — mirroring textstats.bpe_learn
    exactly (both engines' replace shares Python str.replace
    semantics)."""
    sql = _bpe_ctes(k)
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, l_sym, r_sym, l_sym || r_sym AS merged,"
        f" CAST(cnt AS BIGINT) AS cnt FROM b{i} WHERE cnt > 0"
        for i in range(1, k + 1)
    )
    return sql + "\n    " + unions


@_q("q_bpe_learn_merges", _bpe_sql(3))
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAINING on the corpus: the first 3 BPE merges learned
    word-level with frequency weighting and a lexicographic tie-break —
    the fourth iterative algorithm under the unrolled-CTE oracle
    discipline. Pair counting runs over the word VOCABULARY (corpus
    frequencies fold into one agg first), the argmax is a top-1
    TakeOrderedAndProject, and each merge applies map-side under a
    1-row broadcast."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import bpe_learn

    return bpe_learn(load_table(spark, sf_dir, "documents"), k=3)


@_q(
    "q_bpe_compression",
    _bpe_ctes(3)
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(freq) AS BIGINT) AS total_tokens,
           round(SUM(length(w) * freq) * 1.0 / SUM(freq), 6)
             AS syms_per_token_initial,
           round(SUM(len(string_split(trim(seq, '{}'), '}{')) * freq) * 1.0
                 / SUM(freq), 6) AS syms_per_token_merged,
           round(SUM(length(w) * freq) * 1.0
                 / SUM(len(string_split(trim(seq, '{}'), '}{')) * freq), 6)
             AS compression
    FROM s3
    """,
)
def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply: the 3 learned BPE merges applied back to the
    vocabulary, reporting token-frequency-weighted symbols-per-token
    before/after and the compression ratio — the objective a tokenizer
    trainer maximizes. Exact integer sums, one bounded vocabulary
    aggregate on top of the trainer plan."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
        bpe_compression_stats,
    )

    return bpe_compression_stats(load_table(spark, sf_dir, "documents"), k=3)


# --------------------------------------------------------------------------
# Binned quantile sketch (operators/sketches.py) — paired audit
# --------------------------------------------------------------------------

_QSK_QS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
_QSK_LO, _QSK_HI, _QSK_BINS = 0.0, 500000.0, 256
# width 500000/256 = 1953.125 — an exact binary fraction, so the bin
# expression has no representation slack between the engines


def _qsketch_sql() -> str:
    width = (_QSK_HI - _QSK_LO) / _QSK_BINS
    qlist = ", ".join(repr(q) for q in _QSK_QS)
    return f"""
    WITH v AS (SELECT o_totalprice AS x FROM orders
               WHERE o_totalprice IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM v),
    b AS (SELECT CAST(floor(LEAST(GREATEST((x - {_QSK_LO!r}) / {width!r}, 0.0),
                                  {float(_QSK_BINS - 1)!r})) AS INT) AS bin,
                 COUNT(*) AS cnt
          FROM v GROUP BY 1),
    c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM b),
    qs AS (SELECT unnest([{qlist}]::DOUBLE[]) AS q),
    t AS (SELECT q, GREATEST(q * n.n, 1e-12) AS target FROM qs, n),
    br AS (SELECT t.q, t.target, MIN(c.bin) AS bin
           FROM t JOIN c ON CAST(c.cum AS DOUBLE) >= t.target GROUP BY 1, 2),
    est AS (SELECT br.q AS q,
                   round({_QSK_LO!r} + (br.bin + (br.target - (c.cum - c.cnt)) / c.cnt)
                         * {width!r}, 4) AS est
            FROM br JOIN c ON c.bin = br.bin),
    r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) - 1 AS rk FROM v),
    t2 AS (SELECT q, q * (n.n - 1) AS pos FROM qs, n),
    ex AS (SELECT t2.q AS q,
                  round(lo_.x + (hi_.x - lo_.x) * (t2.pos - floor(t2.pos)), 4)
                    AS exact
           FROM t2
           JOIN r lo_ ON lo_.rk = CAST(floor(t2.pos) AS BIGINT)
           JOIN r hi_ ON hi_.rk = CAST(ceil(t2.pos) AS BIGINT))
    SELECT e.q AS q, e.est AS est, x.exact AS exact,
           round(abs(e.est - x.exact), 4) AS abs_err
    FROM est e JOIN ex x ON x.q = e.q
    """


@_q("q_quantile_sketch_audit", _qsketch_sql())
def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive quantile sketch, audited: interpolated
    quantiles of o_totalprice from a 256-bin exact-count sketch
    (qsketch_build — ≤ 256 rows however large the table, mergeable by
    bin-wise sum like CMS/HLL; KLL/t-digest were rejected as
    insertion-order-dependent and hence un-oracle-able) vs the EXACT
    sort-based quantiles, computed with a pinned interpolation formula
    (rank join on row_number, lo + (hi−lo)·frac) so both engines
    replay it bit-for-bit rather than trusting builtin percentile
    internals. The exact side's global sort is the audit's cost — at
    100 TB only the sketch path runs; error is bounded by the bin
    width (~1953 here)."""
    from pyspark.sql import Window

    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(F.col("o_totalprice").cast("double").alias("x"))
    )
    sk = sketches.qsketch_build(v, "x", _QSK_LO, _QSK_HI, _QSK_BINS)
    est = sketches.qsketch_quantiles(sk, _QSK_QS, _QSK_LO, _QSK_HI, _QSK_BINS)
    n = v.agg(F.count("*").alias("__N"))
    r = v.select(
        "x", (F.row_number().over(Window.orderBy("x")) - 1).alias("rk")
    )
    qdf = local_df(spark, [(float(q),) for q in _QSK_QS], "q double")
    t2 = qdf.crossJoin(F.broadcast(n)).select(
        "q", (F.col("q") * (F.col("__N") - 1)).alias("pos")
    )
    lo_ = r.select(F.col("rk").alias("__rlo"), F.col("x").alias("__xlo"))
    hi_ = r.select(F.col("rk").alias("__rhi"), F.col("x").alias("__xhi"))
    frac = F.col("pos") - F.floor("pos")
    ex = (
        t2.join(lo_, F.floor("pos").cast("long") == F.col("__rlo"))
        .join(hi_, F.ceil("pos").cast("long") == F.col("__rhi"))
        .select(
            "q",
            F.round(
                F.col("__xlo") + (F.col("__xhi") - F.col("__xlo")) * frac, 4
            ).alias("exact"),
        )
    )
    return est.join(ex, "q").select(
        "q",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")), 4).alias("abs_err"),
    )


def _bpe_tokenize_sql(k: int) -> str:
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import _TOKENS_SQL

    return (
        _bpe_ctes(k)
        + f""",
    wd AS (
      SELECT doc_id, s.i AS pos, s.w AS w
      FROM (SELECT doc_id,
                   unnest(list_transform(toks, (x, j) -> {{'i': j, 'w': x}})) AS s
            FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents) t) u
      WHERE s.w <> '' AND s.w NOT LIKE '%{{%' AND s.w NOT LIKE '%}}%'),
    sy AS (SELECT w, string_split(trim(seq, '{{}}'), '}}{{') AS syms FROM s{k})
    SELECT wd.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(sy.syms)) AS BIGINT) AS n_syms,
           string_agg(array_to_string(sy.syms, ' '), ' | ' ORDER BY wd.pos)
             AS tokenized
    FROM wd JOIN sy ON sy.w = wd.w
    GROUP BY wd.doc_id
    """
    )


@_q("q_bpe_tokenize", _bpe_tokenize_sql(3))
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn-then-TOKENIZE: the 3 learned BPE merges applied back to
    every word occurrence in the corpus (textstats.bpe_apply),
    aggregated per document — word count, post-merge symbol count, and
    the full tokenized string ('sym sym | sym ...', words joined in
    document order). Completes the tokenizer family: learn (merge
    table), compression stats (the objective), apply (the artifact a
    training pipeline actually ships). The merge chain runs on the
    distinct-word vocabulary and one equi-join fans symbols back onto
    the word stream — tokenize-once-per-type at any corpus scale."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
        bpe_apply,
        bpe_learn,
    )

    d = load_table(spark, sf_dir, "documents")
    applied = bpe_apply(d, bpe_learn(d, k=3), k=3)
    return applied.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.size("syms")).cast("bigint").alias("n_syms"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"), F.array_join("syms", " ").alias("s")
                        )
                    )
                ),
                lambda x: x.getField("s"),
            ),
            " | ",
        ).alias("tokenized"),
    )


_LQ_QS = [0.25, 0.5, 0.9]
_LQ_LO, _LQ_HI, _LQ_BINS = 0.0, 128.0, 32  # width 4: exact binary fraction


def _lang_quantiles_sql() -> str:
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import _TOKENS_SQL

    width = (_LQ_HI - _LQ_LO) / _LQ_BINS
    qlist = ", ".join(repr(q) for q in _LQ_QS)
    return f"""
    WITH v AS (SELECT lang, CAST(len({_TOKENS_SQL}) AS DOUBLE) AS x FROM documents),
    b AS (SELECT lang,
                 CAST(floor(LEAST(GREATEST((x - {_LQ_LO!r}) / {width!r}, 0.0),
                                  {float(_LQ_BINS - 1)!r})) AS INT) AS bin,
                 COUNT(*) AS cnt
          FROM v GROUP BY 1, 2),
    c AS (SELECT lang, bin, cnt,
                 SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM b),
    n AS (SELECT lang, SUM(cnt) AS N FROM b GROUP BY lang),
    qs AS (SELECT unnest([{qlist}]::DOUBLE[]) AS q),
    t AS (SELECT n.lang, q, GREATEST(q * n.N, 1e-12) AS target FROM qs, n),
    br AS (SELECT t.lang, t.q, t.target, MIN(c.bin) AS bin
           FROM t JOIN c ON c.lang = t.lang AND CAST(c.cum AS DOUBLE) >= t.target
           GROUP BY 1, 2, 3)
    SELECT br.lang AS lang, br.q AS q,
           round({_LQ_LO!r} + (br.bin + (br.target - (c.cum - c.cnt)) / c.cnt)
                 * {width!r}, 4) AS est
    FROM br JOIN c ON c.lang = br.lang AND c.bin = br.bin
    """


@_q("q_doc_length_quantiles_by_lang", _lang_quantiles_sql())
def q_doc_length_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length quantiles (P25/P50/P90) from GROUPED
    quantile sketches — the per-stratum distribution profile a data
    mixer reads before setting per-language sequence lengths, answered
    from ≤ (langs × 32) sketch rows instead of per-group sorts. The
    grouped variant partitions the cumsum window by language, so no
    single-partition bottleneck appears at any group count. See
    sketches.qsketch_build/qsketch_quantiles(group_cols=...)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "lang", token_count("text").cast("double").alias("x")
    )
    sk = sketches.qsketch_build(d, "x", _LQ_LO, _LQ_HI, _LQ_BINS, ["lang"])
    return sketches.qsketch_quantiles(
        sk, _LQ_QS, _LQ_LO, _LQ_HI, _LQ_BINS, group_cols=["lang"]
    )


@_q(
    "q_embedding_debias",
    f"""
    WITH pc AS (SELECT * FROM ({_power_iter_sql(3)})),
    el AS (
      SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) g
      WHERE len(embedding) >= 8),
    cf AS (
      SELECT el.vec_id,
             CAST(SUM(CAST(round(el.x * pc.component, 9) AS DECIMAL(28,12)))
                  AS DOUBLE) AS coeff
      FROM el JOIN pc ON pc.pos = el.i GROUP BY el.vec_id),
    res AS (
      SELECT el.vec_id,
             sqrt(CAST(SUM(CAST(round(
                    (el.x - cf.coeff * pc.component)
                    * (el.x - cf.coeff * pc.component), 9)
                  AS DECIMAL(28,12))) AS DOUBLE)) AS rn
      FROM el JOIN pc ON pc.pos = el.i JOIN cf ON cf.vec_id = el.vec_id
      GROUP BY el.vec_id)
    SELECT cf.vec_id AS vec_id, round(cf.coeff, 6) AS coeff,
           round(res.rn, 6) AS residual_norm
    FROM cf JOIN res ON res.vec_id = cf.vec_id
    """,
)
def q_embedding_debias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening APPLIED: every embedding's projection onto the learned
    dominant principal direction (q_embedding_principal_component) and
    the norm of what remains after subtracting it — the all-but-the-top
    debiasing step (Mu & Viswanath 2018) a retrieval stack runs so one
    dominant direction can't swamp cosine similarity. The 8-row
    component relation broadcasts onto the exploded corpus twice
    (coefficient pass, residual pass — AQE reuses the explode);
    per-term products round at 9 dp into DECIMAL sums, so the oracle
    replays the projection bit-for-bit. Map-scale at any corpus size;
    the only corpus-scale work beyond the scan is two bounded
    hash-aggs keyed on vec_id."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_stats import (
        q_embedding_principal_component,
    )

    pc = q_embedding_principal_component(spark, sf_dir).select(
        F.col("pos"), F.col("component")
    )
    em = load_table(spark, sf_dir, "embeddings")
    el = (
        em.filter(F.size("embedding") >= 8)
        .select("vec_id", F.posexplode("embedding").alias("p", "x"))
        .select(
            "vec_id",
            (F.col("p") + 1).alias("i"),
            F.col("x").cast("double").alias("x"),
        )
        .filter(F.col("i") <= 8)
    )
    cf = (
        el.join(F.broadcast(pc), el["i"] == pc["pos"])
        .select(
            "vec_id",
            F.round(F.col("x") * F.col("component"), 9)
            .cast("decimal(28,12)")
            .alias("__t"),
        )
        .groupBy("vec_id")
        .agg(F.sum("__t").cast("double").alias("coeff"))
    )
    resid = (
        el.join(F.broadcast(pc), el["i"] == pc["pos"])
        .join(cf, "vec_id")
        .select(
            "vec_id",
            F.round(
                (F.col("x") - F.col("coeff") * F.col("component"))
                * (F.col("x") - F.col("coeff") * F.col("component")),
                9,
            )
            .cast("decimal(28,12)")
            .alias("__r"),
        )
        .groupBy("vec_id")
        .agg(F.sqrt(F.sum("__r").cast("double")).alias("rn"))
    )
    return cf.join(resid, "vec_id").select(
        "vec_id",
        F.round(F.col("coeff"), 6).alias("coeff"),
        F.round(F.col("rn"), 6).alias("residual_norm"),
    )


_WZ_LO, _WZ_HI, _WZ_BINS = 0.0, 512.0, 128  # width 4: exact binary fraction
_WZ_QLO, _WZ_QHI = 0.01, 0.99


def _winsorize_sketch_sql() -> str:
    width = (_WZ_HI - _WZ_LO) / _WZ_BINS
    return f"""
    WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events
               WHERE value IS NOT NULL),
    b AS (SELECT CAST(floor(LEAST(GREATEST((x - {_WZ_LO!r}) / {width!r}, 0.0),
                                  {float(_WZ_BINS - 1)!r})) AS INT) AS bin,
                 COUNT(*) AS cnt
          FROM v GROUP BY 1),
    c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM b),
    n AS (SELECT SUM(cnt) AS N FROM b),
    qs AS (SELECT unnest([{_WZ_QLO!r}, {_WZ_QHI!r}]::DOUBLE[]) AS q),
    t AS (SELECT q, GREATEST(q * n.N, 1e-12) AS target FROM qs, n),
    br AS (SELECT t.q, t.target, MIN(c.bin) AS bin
           FROM t JOIN c ON CAST(c.cum AS DOUBLE) >= t.target GROUP BY 1, 2),
    est AS (SELECT br.q AS q,
                   round({_WZ_LO!r} + (br.bin + (br.target - (c.cum - c.cnt)) / c.cnt)
                         * {width!r}, 4) AS est
            FROM br JOIN c ON c.bin = br.bin),
    th AS (SELECT MIN(CASE WHEN q = {_WZ_QLO!r} THEN est END) AS lo_clip,
                  MIN(CASE WHEN q = {_WZ_QHI!r} THEN est END) AS hi_clip
           FROM est)
    SELECT th.lo_clip AS lo_clip, th.hi_clip AS hi_clip,
           CAST(COUNT(CASE WHEN x < th.lo_clip THEN 1 END) AS BIGINT) AS n_clipped_low,
           CAST(COUNT(CASE WHEN x > th.hi_clip THEN 1 END) AS BIGINT) AS n_clipped_high,
           round(CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_before,
           round(CAST(SUM(CAST(round(
                   CASE WHEN x < th.lo_clip THEN th.lo_clip
                        WHEN x > th.hi_clip THEN th.hi_clip
                        ELSE x END, 9) AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_after
    FROM v, th GROUP BY th.lo_clip, th.hi_clip
    """


@_q("q_winsorize_by_sketch", _winsorize_sketch_sql())
def q_winsorize_by_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization driven by the QUANTILE SKETCH instead of exact
    percentiles — the 100 TB path (q_events_winsorize_clip's exact
    thresholds need a sort; these come from the ≤128-row sketch, error
    bounded by the bin width): clip event values at the sketch P1/P99
    and report the clip counts and before/after means. The threshold
    relation is a 1-row broadcast onto the value scan; means are 9-dp
    DECIMAL-summed so the reduce is order-free."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("value").cast("double").alias("x"))
    )
    sk = sketches.qsketch_build(v, "x", _WZ_LO, _WZ_HI, _WZ_BINS)
    est = sketches.qsketch_quantiles(
        sk, [_WZ_QLO, _WZ_QHI], _WZ_LO, _WZ_HI, _WZ_BINS
    )
    th = est.agg(
        F.min(F.when(F.col("q") == _WZ_QLO, F.col("est"))).alias("lo_clip"),
        F.min(F.when(F.col("q") == _WZ_QHI, F.col("est"))).alias("hi_clip"),
    )
    clipped = F.when(F.col("x") < F.col("lo_clip"), F.col("lo_clip")).when(
        F.col("x") > F.col("hi_clip"), F.col("hi_clip")
    ).otherwise(F.col("x"))
    return (
        v.crossJoin(F.broadcast(th))
        .groupBy("lo_clip", "hi_clip")
        .agg(
            F.count(F.when(F.col("x") < F.col("lo_clip"), 1))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.count(F.when(F.col("x") > F.col("hi_clip"), 1))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.round(
                F.sum(F.round(F.col("x"), 9).cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_before"),
            F.round(
                F.sum(F.round(clipped, 9).cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_after"),
        )
        .select(
            "lo_clip",
            "hi_clip",
            "n_clipped_low",
            "n_clipped_high",
            "mean_before",
            "mean_after",
        )
    )


_HH_PHI = 0.025  # heavy-hitter share threshold
_HH_D, _HH_W = 4, 256


@_q(
    "q_cms_heavy_hitters",
    f"""
    WITH s AS (SELECT lower(coalesce(text, '')) AS t FROM documents),
    occ AS (
      SELECT substr(t, i, 2) AS b
      FROM s, LATERAL (SELECT unnest(generate_series(1, length(t) - 1)) AS i) g
      WHERE substr(t, i, 2) NOT LIKE '% %' AND length(t) >= 2),
    cells AS (
      SELECT j AS row,
             CAST(('0x' || substr(md5('cms' || j || ':' || b), 1, 8))::BIGINT
                  % {_HH_W} AS INT) AS col
      FROM occ CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)),
    cms AS (SELECT row, col, COUNT(*) AS c FROM cells GROUP BY row, col),
    exact AS (SELECT b, COUNT(*) AS exact FROM occ GROUP BY b),
    n AS (SELECT CAST(SUM(exact) AS BIGINT) AS N FROM exact),
    probes AS (
      SELECT e.b, e.exact, j AS row,
             CAST(('0x' || substr(md5('cms' || j || ':' || e.b), 1, 8))::BIGINT
                  % {_HH_W} AS INT) AS col
      FROM exact e CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)),
    est AS (
      SELECT p.b, p.exact, MIN(COALESCE(s2.c, 0)) AS est
      FROM probes p LEFT JOIN cms s2 ON s2.row = p.row AND s2.col = p.col
      GROUP BY p.b, p.exact)
    SELECT b AS bigram, CAST(est.est AS BIGINT) AS est,
           CAST(est.exact AS BIGINT) AS exact,
           CAST(est.est AS DOUBLE) >= {_HH_PHI!r} * n.N AS hh_est,
           CAST(est.exact AS DOUBLE) >= {_HH_PHI!r} * n.N AS hh_exact
    FROM est, n
    WHERE CAST(est.est AS DOUBLE) >= {_HH_PHI!r} * n.N
       OR CAST(est.exact AS DOUBLE) >= {_HH_PHI!r} * n.N
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection from the count-min sketch: character
    bigrams whose ESTIMATED share exceeds φ=2.5% of the stream, next to
    the exact answer — hh_est true with hh_exact false is exactly a CMS
    false positive (overestimates only: CMS can never MISS a true heavy
    hitter, the one-sided guarantee this audit makes visible). The
    candidate set is the distinct-key relation (bounded by the bigram
    alphabet); at stream scale candidates come from each batch and the
    sketch answers the rest — the classic CMS+candidates HH design."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.coalesce(F.col("text"), F.lit("")))
    occ = (
        d.select(t.alias("t"))
        .filter(F.length("t") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
            ).alias("b")
        )
        .filter(~F.col("b").contains(" "))
    )
    cms = sketches.cms_build(occ, "b", d=_HH_D, w=_HH_W)
    # exact feeds three consumers (probe keys, totals, final join);
    # checkpointing the bounded <=|alphabet^2|-row aggregate pins the
    # corpus-scale explode to the two genuine passes (cms + exact)
    # instead of leaning on AQE reuse (review r6)
    exact = occ.groupBy("b").agg(F.count("*").alias("exact")).localCheckpoint()
    n = exact.agg(F.sum("exact").cast("bigint").alias("N"))
    est = sketches.cms_estimate(cms, exact.select("b"), "b", d=_HH_D, w=_HH_W)
    thresh = F.lit(_HH_PHI) * F.col("N")
    return (
        exact.join(est, "b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("b").alias("bigram"),
            F.col("est").cast("bigint").alias("est"),
            F.col("exact").cast("bigint").alias("exact"),
            (F.col("est").cast("double") >= thresh).alias("hh_est"),
            (F.col("exact").cast("double") >= thresh).alias("hh_exact"),
        )
        .filter(F.col("hh_est") | F.col("hh_exact"))
    )


@_q(
    "q_cms_join_size_audit",
    f"""
    WITH ko AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
    kl AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
    ca AS (SELECT j AS row,
                  CAST(('0x' || substr(md5('cms' || j || ':' || k), 1, 8))::BIGINT
                       % 4096 AS INT) AS col,
                  COUNT(*) AS c
           FROM ko CROSS JOIN (VALUES (0), (1), (2), (3)) r(j) GROUP BY 1, 2),
    cb AS (SELECT j AS row,
                  CAST(('0x' || substr(md5('cms' || j || ':' || k), 1, 8))::BIGINT
                       % 4096 AS INT) AS col,
                  COUNT(*) AS c
           FROM kl CROSS JOIN (VALUES (0), (1), (2), (3)) r(j) GROUP BY 1, 2),
    dots AS (SELECT ca.row, SUM(ca.c * cb.c) AS dot
             FROM ca JOIN cb ON cb.row = ca.row AND cb.col = ca.col
             GROUP BY ca.row),
    est AS (SELECT CAST(MIN(COALESCE(dots.dot, 0)) AS BIGINT) AS est
            FROM (VALUES (0), (1), (2), (3)) sp(row)
            LEFT JOIN dots ON dots.row = sp.row),
    exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact
              FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT est.est AS est, exact.exact AS exact,
           CAST(est.est - exact.exact AS BIGINT) AS overcount
    FROM est, exact
    """,
)
def q_cms_join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches: |orders ⋈ lineitem|
    estimated by the CMS inner product (min over rows of the cell-wise
    dot product — AMS/CM, the statistic a cost-based planner wants
    before committing to a shuffle join), next to the exact join count.
    Overcount ≥ 0 always (one-sided collisions, error ≈ ε·|A|·|B| —
    the 4×4096 grid keeps it a small multiple of the true size here);
    both sketches are ≤16384-row relations however large the tables, so the estimate
    costs milliseconds at 100 TB where the exact count costs the join
    itself. See sketches.cms_inner_product."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("k")
    )
    ca = sketches.cms_build(o, "k", w=4096)
    cb = sketches.cms_build(li, "k", w=4096)
    est = sketches.cms_inner_product(ca, cb, w=4096)
    exact = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .agg(F.count("*").cast("bigint").alias("exact"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est",
        "exact",
        (F.col("est") - F.col("exact")).cast("bigint").alias("overcount"),
    )


def _hll_reg_sql(pred: str) -> str:
    """Register CTE body for users matching ``pred`` (p=5, 60-bit)."""
    return f"""
      SELECT CAST(hv % 32 AS INT) AS register,
             CASE WHEN (hv >> 5) = 0 THEN 56
                  ELSE instr(lpad(bin(hv >> 5), 55, '0'), '1') END AS maxrank0
      FROM (SELECT ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
            FROM events WHERE {pred})"""


_HLL_EST_SQL = (
    "CASE WHEN 5.142952247750223e+19"
    " / (zp + (32 - pres) * (1::BIGINT << 56)) <= 80.0"
    " AND (32 - pres) > 0"
    " THEN round(32.0 * ln(32.0 / (32 - pres)), 4)"
    " ELSE round(5.142952247750223e+19"
    " / (zp + (32 - pres) * (1::BIGINT << 56)), 4) END"
)


@_q(
    "q_hll_set_algebra",
    f"""
    WITH ska AS (SELECT register, MAX(maxrank0) AS maxrank
                 FROM ({_hll_reg_sql("event_type = 'click'")}) GROUP BY 1),
    skb AS (SELECT register, MAX(maxrank0) AS maxrank
            FROM ({_hll_reg_sql("event_type = 'purchase'")}) GROUP BY 1),
    sku AS (SELECT register, MAX(maxrank) AS maxrank
            FROM (SELECT * FROM ska UNION ALL SELECT * FROM skb) GROUP BY 1),
    ea AS (SELECT {_HLL_EST_SQL} AS est FROM (
             SELECT COUNT(*) AS pres, SUM(1::BIGINT << (56 - maxrank)) AS zp
             FROM ska)),
    eb AS (SELECT {_HLL_EST_SQL} AS est FROM (
             SELECT COUNT(*) AS pres, SUM(1::BIGINT << (56 - maxrank)) AS zp
             FROM skb)),
    eu AS (SELECT {_HLL_EST_SQL} AS est FROM (
             SELECT COUNT(*) AS pres, SUM(1::BIGINT << (56 - maxrank)) AS zp
             FROM sku)),
    ex AS (SELECT
             (SELECT COUNT(DISTINCT user_id) FROM events
              WHERE event_type = 'click') AS exact_a,
             (SELECT COUNT(DISTINCT user_id) FROM events
              WHERE event_type = 'purchase') AS exact_b,
             (SELECT COUNT(DISTINCT user_id) FROM events
              WHERE event_type IN ('click', 'purchase')) AS exact_union)
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           round(ea.est + eb.est - eu.est, 4) AS est_intersection,
           CAST(ex.exact_a AS BIGINT) AS exact_a,
           CAST(ex.exact_b AS BIGINT) AS exact_b,
           CAST(ex.exact_union AS BIGINT) AS exact_union,
           CAST(ex.exact_a + ex.exact_b - ex.exact_union AS BIGINT)
             AS exact_intersection
    FROM ea, eb, eu, ex
    """,
)
def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on HLL sketches: distinct clickers, distinct
    purchasers, their UNION (register-wise max merge — the estimate the
    sketches answer natively) and their INTERSECTION by
    inclusion-exclusion (the standard HLL derivation; error compounds,
    which is why the exact values sit beside it) — all from two
    ≤32-row relations, vs the exact distinct counts. The audience-
    overlap question every analytics stack answers without ever
    shuffling raw user ids."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    e = load_table(spark, sf_dir, "events")
    ska = sketches.hll_build(e.filter(F.col("event_type") == "click"), "user_id", p=5)
    skb = sketches.hll_build(
        e.filter(F.col("event_type") == "purchase"), "user_id", p=5
    )
    sku = sketches.hll_merge(ska, skb, p=5)

    def est(sk, name):
        return sketches.hll_estimate(sk, p=5).select(F.col("est").alias(name))

    ex = e.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).cast("bigint").alias("exact_a"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).cast("bigint").alias("exact_b"),
        F.count_distinct(
            F.when(
                F.col("event_type").isin("click", "purchase"), F.col("user_id")
            )
        ).cast("bigint").alias("exact_union"),
    )
    return (
        est(ska, "est_a")
        .crossJoin(F.broadcast(est(skb, "est_b")))
        .crossJoin(F.broadcast(est(sku, "est_union")))
        .crossJoin(F.broadcast(ex))
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersection"),
            "exact_a",
            "exact_b",
            "exact_union",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("bigint")
            .alias("exact_intersection"),
        )
    )


def _clustering_coef_sql() -> str:
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ml import _minhash_sql

    pairs = _minhash_sql(12, 4, 0.7)
    return f"""
    WITH p AS (SELECT id_a, id_b FROM ({pairs}) mh),
    sym AS (SELECT id_a AS u, id_b AS v FROM p
            UNION SELECT id_b, id_a FROM p),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
    wedge AS (
      SELECT a.u, a.v AS x, b.v AS y
      FROM sym a JOIN sym b ON b.u = a.u AND b.v > a.v),
    closed AS (
      SELECT w.u, COUNT(*) AS tri
      FROM wedge w JOIN sym e ON e.u = w.x AND e.v = w.y
      GROUP BY w.u)
    SELECT d.u AS doc, d.deg AS degree,
           CAST(coalesce(c.tri, 0) AS BIGINT) AS triangles,
           CASE WHEN d.deg >= 2
                THEN round(2.0 * coalesce(c.tri, 0) / (d.deg * (d.deg - 1)), 6)
                ELSE 0.0 END AS clustering_coef
    FROM deg d LEFT JOIN closed c ON c.u = d.u
    """


@_q("q_neardup_clustering_coef", _clustering_coef_sql())
def q_neardup_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the near-dup graph —
    2·T(v)/(deg·(deg−1)), T(v) the closed wedges centered at v:
    coefficient ≈ 1 marks a tight template family, ≈ 0 a chain-like
    (possibly spurious) link path — the per-node refinement of the
    q_neardup_triangles census. Wedge generation is the symmetric-edge
    self-join bounded by Σ deg² (sparse near-dup graphs keep it tiny);
    the close check is one more equi-join; degree-0/1 nodes get 0 by
    the guarded CASE, keeping ANSI off a 0-division. The edge list is
    localCheckpoint'ed so wedges, closes, and degrees share one
    materialization."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import neardup

    d = load_table(spark, sf_dir, "documents")
    p = neardup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=12, bands=4, threshold=0.7
    ).select("id_a", "id_b")
    sym = (
        p.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(p.select(F.col("id_b"), F.col("id_a")))
        .distinct()
        .localCheckpoint()
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    a, b = sym.alias("a"), sym.alias("b")
    wedge = a.join(
        b,
        (F.col("b.u") == F.col("a.u")) & (F.col("b.v") > F.col("a.v")),
    ).select(F.col("a.u").alias("u"), F.col("a.v").alias("x"), F.col("b.v").alias("y"))
    e = sym.select(F.col("u").alias("__eu"), F.col("v").alias("__ev"))
    closed = (
        wedge.join(
            e, (F.col("__eu") == F.col("x")) & (F.col("__ev") == F.col("y"))
        )
        .groupBy("u")
        .agg(F.count("*").alias("tri"))
    )
    return deg.join(closed, "u", "left").select(
        F.col("u").alias("doc"),
        F.col("deg").alias("degree"),
        F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                F.lit(2.0) * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coef"),
    )


_RB_LO, _RB_HI, _RB_BINS = 0.0, 512.0, 128
_RB_K = 4.4478  # 3 sigma * 1.4826 (the MAD-to-sigma consistency constant)


def _robust_outliers_sql() -> str:
    width = (_RB_HI - _RB_LO) / _RB_BINS
    bin_of = (
        lambda x: f"CAST(floor(LEAST(GREATEST(({x} - {_RB_LO!r}) / {width!r}, 0.0),"
        f" {float(_RB_BINS - 1)!r})) AS INT)"
    )
    med_of = f"""
      SELECT round({_RB_LO!r} + (br.bin + (br.target - (c.cum - c.cnt)) / c.cnt)
                   * {width!r}, 4) AS est
      FROM (SELECT t.target, MIN(c2.bin) AS bin
            FROM (SELECT GREATEST(0.5 * (SELECT SUM(cnt) FROM {{b}}), 1e-12) AS target) t
            JOIN (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM {{b}}) c2
              ON CAST(c2.cum AS DOUBLE) >= t.target
            GROUP BY t.target) br
      JOIN (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM {{b}}) c
        ON c.bin = br.bin"""
    return f"""
    WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events
               WHERE value IS NOT NULL),
    b1 AS (SELECT {bin_of('x')} AS bin, COUNT(*) AS cnt FROM v GROUP BY 1),
    med AS ({med_of.format(b='b1')}),
    d AS (SELECT abs(v.x - med.est) AS x, v.x AS raw FROM v, med),
    b2 AS (SELECT {bin_of('x')} AS bin, COUNT(*) AS cnt FROM d GROUP BY 1),
    mad AS ({med_of.format(b='b2')})
    SELECT med.est AS median_est, mad.est AS mad_est,
           round({_RB_K!r} * mad.est, 4) AS threshold,
           CAST(COUNT(CASE WHEN d.x > round({_RB_K!r} * mad.est, 4)
                           THEN 1 END) AS BIGINT) AS n_outliers,
           round(COUNT(CASE WHEN d.x > round({_RB_K!r} * mad.est, 4)
                            THEN 1 END) * 1.0 / COUNT(*), 6) AS outlier_frac
    FROM d, med, mad
    GROUP BY med.est, mad.est
    """


@_q("q_outliers_by_sketch", _robust_outliers_sql())
def q_outliers_by_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection at sketch cost: median and MAD both
    estimated from ≤128-row quantile sketches (two passes — MAD's
    deviations need the median first, the inherent minimum), then the
    classic |x − med| > 3·1.4826·MAD flag. Mean/stddev z-scores break
    down when the outliers THEMSELVES inflate the scale; median/MAD
    resist 50% contamination — and at 100 TB neither needs the sort an
    exact median costs. Scalars broadcast; error bounded by bin
    width.

    Exactly TWO corpus scans (the inherent minimum — MAD's deviations
    need the median first): scan 1 builds the median sketch, scan 2
    materializes the deviation relation ``d`` via ``localCheckpoint``
    so the MAD-sketch build AND the final outlier aggregate both read
    the checkpoint instead of re-deriving ``d`` from the source
    (verdict r6 — a third scan for free is a third scan of 100 TB)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches

    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("value").cast("double").alias("x"))
    )
    sk1 = sketches.qsketch_build(v, "x", _RB_LO, _RB_HI, _RB_BINS)
    med = sketches.qsketch_quantiles(sk1, [0.5], _RB_LO, _RB_HI, _RB_BINS).select(
        F.col("est").alias("median_est")
    )
    d = (
        v.crossJoin(F.broadcast(med))
        .select(
            "median_est", F.abs(F.col("x") - F.col("median_est")).alias("x")
        )
        .localCheckpoint()
    )
    sk2 = sketches.qsketch_build(d, "x", _RB_LO, _RB_HI, _RB_BINS)
    mad = sketches.qsketch_quantiles(sk2, [0.5], _RB_LO, _RB_HI, _RB_BINS).select(
        F.col("est").alias("mad_est")
    )
    thr = F.round(F.lit(_RB_K) * F.col("mad_est"), 4)
    return (
        d.crossJoin(F.broadcast(mad))
        .groupBy("median_est", "mad_est")
        .agg(
            F.count(F.when(F.col("x") > thr, 1)).cast("bigint").alias("n_outliers"),
            F.round(
                F.count(F.when(F.col("x") > thr, 1)) * F.lit(1.0) / F.count("*"),
                6,
            ).alias("outlier_frac"),
        )
        .select(
            "median_est",
            "mad_est",
            F.round(F.lit(_RB_K) * F.col("mad_est"), 4).alias("threshold"),
            "n_outliers",
            "outlier_frac",
        )
    )


# -- streaming heavy-hitter tracker audit (batch replay) --------------------

_HHT_PHI = 0.034       # share bar; quantized to K/2^32 exactly like the tracker
_HHT_B = 4             # replayed stream batches
_HHT_D, _HHT_W = 4, 256
_HHT_K = int(_HHT_PHI * (1 << 32))  # the tracker's own quantization


def _hh_tracker_sql() -> str:
    probe_cells = (
        "CAST(('0x' || substr(md5('cms' || j || ':' || {k}), 1, 8))::BIGINT"
        f" % {_HHT_W} AS INT)"
    )
    bar = (
        "{est}::HUGEINT * 4294967296::HUGEINT >= "
        f"{_HHT_K}::HUGEINT * " + "{n}::HUGEINT"
    )
    return f"""
    WITH occ AS (
      SELECT CAST(('0x' || substr(md5('hhbatch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % {_HHT_B} AS INT) AS b,
             unnest(string_split_regex(trim(lower(coalesce(text, ''))), '[ \\t\\n\\x0b\\f\\r]+')) AS k
      FROM documents),
    kb AS (SELECT b, k, COUNT(*) AS cnt FROM occ WHERE k <> '' GROUP BY b, k),
    cells AS (
      SELECT b, j AS row, {probe_cells.format(k='k')} AS col, SUM(cnt) AS c
      FROM kb CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)
      GROUP BY 1, 2, 3),
    spine AS (SELECT unnest(generate_series(0, {_HHT_B - 1})) AS bq),
    cum AS (SELECT s.bq, c.row, c.col, SUM(c.c) AS c
            FROM cells c JOIN spine s ON c.b <= s.bq GROUP BY 1, 2, 3),
    ncum AS (SELECT bq, CAST(SUM(c) AS BIGINT) AS n FROM cum WHERE row = 0 GROUP BY bq),
    probes AS (
      SELECT kb.b, kb.k, j AS row, {probe_cells.format(k='kb.k')} AS col
      FROM kb CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)),
    estb AS (SELECT p.b, p.k, MIN(COALESCE(cum.c, 0)) AS est
             FROM probes p LEFT JOIN cum
               ON cum.bq = p.b AND cum.row = p.row AND cum.col = p.col
             GROUP BY p.b, p.k),
    cand AS (SELECT DISTINCT e.k
             FROM estb e JOIN ncum ON ncum.bq = e.b
             WHERE {bar.format(est='e.est', n='ncum.n')}),
    exact AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS exact FROM kb GROUP BY k),
    fin AS (SELECT row, col, c FROM cum WHERE bq = {_HHT_B - 1}),
    pfin AS (
      SELECT exact.k, j AS row, {probe_cells.format(k='exact.k')} AS col
      FROM exact CROSS JOIN (VALUES (0), (1), (2), (3)) r(j)),
    estfin AS (SELECT p.k, CAST(MIN(COALESCE(f.c, 0)) AS BIGINT) AS est
               FROM pfin p LEFT JOIN fin f ON f.row = p.row AND f.col = p.col
               GROUP BY p.k),
    nfin AS (SELECT n FROM ncum WHERE bq = {_HHT_B - 1})
    SELECT e.k AS key, estfin.est AS est, e.exact AS exact,
           (cand.k IS NOT NULL AND {bar.format(est='estfin.est', n='nfin.n')})
             AS hh_tracker,
           ({bar.format(est='e.exact', n='nfin.n')}) AS hh_exact
    FROM exact e
    JOIN estfin ON estfin.k = e.k
    LEFT JOIN cand ON cand.k = e.k, nfin
    WHERE (cand.k IS NOT NULL AND {bar.format(est='estfin.est', n='nfin.n')})
       OR {bar.format(est='e.exact', n='nfin.n')}
    """


@_q("q_hh_tracker_audit", _hh_tracker_sql())
def q_hh_tracker_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational replay of the streaming heavy-hitter tracker
    (streaming/hh_stream.py) proving the one-sided no-miss guarantee
    against the exact answer: the corpus splits into B deterministic
    hash batches; batch i's distinct keys are flagged as candidates iff
    their CMS estimate against the CUMULATIVE sketch (batches ≤ i)
    meets φ·N_i — exactly the tracker's per-micro-batch admission —
    then the final report re-probes candidates against the full sketch,
    exactly ``heavy_hitters()``. ``hh_exact`` true with ``hh_tracker``
    false would be a missed true heavy hitter, which the one-sided CMS
    guarantee makes impossible (pinned by test_hh_stream); the φ·N bar
    runs in the tracker's own quantized-DECIMAL form (_meets_bar), both
    engines comparing identical integers.

    Scale shape: ONE corpus scan (tokenize+count into the per-(batch,
    key) relation, localCheckpointed); every later relation is bounded
    by B×d×w cells or the vocabulary. The B-row spine theta-join and
    the 1-row total are declared BNLJ broadcasts."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import sketches
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import hash_bucket
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens
    from reddit_apache_airflow_postgres_pipeline_spark.streaming.hh_stream import _meets_bar

    def cells_of(key: str):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        sketches._cms_col(key, j, _HHT_W).alias("col"),
                    )
                    for j in range(_HHT_D)
                ]
            )
        ).alias("cell")

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        (hash_bucket(F.col("doc_id"), "hhbatch:") % _HHT_B)
        .cast("int")
        .alias("b"),
        F.explode(tokens("text")).alias("k"),
    ).filter(F.col("k") != "")
    kb = occ.groupBy("b", "k").agg(F.count("*").alias("cnt")).localCheckpoint()
    cells = (
        kb.select("b", "cnt", cells_of("k"))
        .groupBy("b", F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .agg(F.sum("cnt").alias("c"))
    )
    spine = spark.range(_HHT_B).select(F.col("id").cast("int").alias("bq"))
    cum = (
        cells.join(F.broadcast(spine), F.col("b") <= F.col("bq"))
        .groupBy("bq", "row", "col")
        .agg(F.sum("c").alias("c"))
    )
    # stream total per replay point — the tracker's own row-0 idiom
    ncum = (
        cum.filter(F.col("row") == 0)
        .groupBy("bq")
        .agg(F.sum("c").cast("bigint").alias("n"))
    )
    probes = kb.select("b", "k", cells_of("k")).select(
        "b", "k", F.col("cell.row").alias("row"), F.col("cell.col").alias("col")
    )
    est_b = (
        probes.join(
            F.broadcast(cum.withColumnRenamed("bq", "b")), ["b", "row", "col"], "left"
        )
        .groupBy("b", "k")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )
    cand = (
        est_b.join(ncum.withColumnRenamed("bq", "b"), "b")
        .filter(_meets_bar(F.col("est"), F.col("n"), _HHT_PHI))
        .select("k")
        .distinct()
        .withColumn("__cand", F.lit(True))
    )
    exact = kb.groupBy("k").agg(F.sum("cnt").cast("bigint").alias("exact"))
    fin = cum.filter(F.col("bq") == _HHT_B - 1).select("row", "col", "c")
    est_fin = sketches.cms_estimate(
        fin, exact.select("k"), "k", d=_HHT_D, w=_HHT_W
    )
    nfin = ncum.filter(F.col("bq") == _HHT_B - 1).select("n")
    meets_fin = _meets_bar(F.col("est"), F.col("n"), _HHT_PHI)
    return (
        exact.join(est_fin, "k")
        .join(cand, "k", "left")
        .crossJoin(F.broadcast(nfin))
        .select(
            F.col("k").alias("key"),
            "est",
            "exact",
            (F.coalesce(F.col("__cand"), F.lit(False)) & meets_fin).alias(
                "hh_tracker"
            ),
            _meets_bar(F.col("exact"), F.col("n"), _HHT_PHI).alias("hh_exact"),
        )
        .filter(F.col("hh_tracker") | F.col("hh_exact"))
    )
