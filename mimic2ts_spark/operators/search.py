"""Corpus search / retrieval operators for training-data pipelines:
integer-exact BM25 ranked retrieval and benchmark decontamination
(n-gram collision against a held-out eval set).

Not part of the reference surface (it has no text search —
`/root/reference/src/mimic2ts/__init__.py` is numeric ETL only); these
are the retrieval-side companions to operators/dedup.py, sharing its
determinism contract: md5-derived token codes, integer arithmetic
end-to-end, so every result hash-matches the DuckDB oracle bit-exactly.

BM25 exactness: the classic formula

    score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

is float (log + divisions). Engine-private rounding of `log` kills
cross-engine hashes, so both factors are re-derived as exact integer
rationals and evaluated with int64 floor division (`div` in Spark,
`//` in DuckDB — identical for the all-positive operands here):

    idf_scaled(t)  = ⌊SCALE · (2N − 2·df + 1) / (2·df + 1)⌋
                     (the Robertson (N − df + ½)/(df + ½) idf, scaled)
    tf_scaled(d,t) = ⌊SCALE · 22·S·tf / (10·S·tf + 3·S + 9·dl·N)⌋
                     (k1 = 6/5, b = 3/4 cleared of denominators by
                      multiplying through by 10·S; S = Σ dl, N = docs)
    score_scaled   = Σ_t idf_scaled · tf_scaled      (int64)

Bounds: idf_scaled ≤ SCALE·(2N+1), tf_scaled ≤ 2.2·SCALE, so the sum
stays in int64 up to N ≈ 10^8 docs at SCALE = 10^5. Beyond that a real
deployment drops to float scoring (ranking tolerates it; only the
cross-engine oracle needs exact integers) or DECIMAL(38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mimic2ts_spark import memo
from mimic2ts_spark.operators.text import SQL_TOKENS, tokens


SCALE = 100_000
# k1 = 6/5, b = 3/4 — the usual BM25 defaults as exact rationals (the
# integer coefficients 22/10/3/9 in the cleared form derive from them).
TOP_K = 10


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k: int = TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-words query under integer-exact BM25.

    Shape at scale: ONE corpus scan; term frequencies come from an
    explode restricted to the query terms BEFORE the shuffle (the filter
    is inside the per-row array, so non-matching tokens never leave the
    scan stage); doc length is carried through the explode so tf never
    joins back to the corpus. The three tiny sides (per-term df, corpus
    totals) are 1-to-|q|-row aggregates joined by broadcast. Final
    ranking is a TakeOrderedAndProject (no global sort)."""
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("dl"), toks.alias("_toks")
    )
    tf = (
        base.select(
            id_col,
            "dl",
            F.explode(
                F.filter(F.col("_toks"), lambda t: t.isin(*query_terms))
            ).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    totals = df.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("sum_dl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf_scaled",
            F.expr(f"({SCALE} * (2 * (n_docs - df) + 1)) div (2 * df + 1)"),
        )
        .withColumn(
            "tf_scaled",
            F.expr(
                f"({SCALE} * 22 * sum_dl * tf) div "
                "(10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs)"
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum(F.col("idf_scaled") * F.col("tf_scaled")).alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), id_col)
        .limit(k)
    )


def sql_bm25_topk(
    query_terms: tuple[str, ...],
    k: int = TOP_K,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of bm25_topk — same integer rationals, `//` floor
    division (positive operands ⇒ identical to Spark's `div`)."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    toks = SQL_TOKENS.format(text=text_col)
    return f"""
WITH base AS (
    SELECT {id_col}, CAST(len({toks}) AS BIGINT) AS dl, {toks} AS toks
    FROM {table}
),
tf AS (
    SELECT {id_col}, dl, t.term, count(*) AS tf
    FROM base, unnest(list_filter(toks, x -> x IN ({terms}))) AS t(term)
    GROUP BY 1, 2, 3
),
totals AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT tf.{id_col},
           (({SCALE} * (2 * (t.n_docs - d.df) + 1)) // (2 * d.df + 1))
           * (({SCALE} * 22 * t.sum_dl * tf.tf) //
              (10 * t.sum_dl * tf.tf + 3 * t.sum_dl + 9 * tf.dl * t.n_docs))
               AS term_score
    FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN totals t
)
SELECT {id_col}, CAST(sum(term_score) AS BIGINT) AS score_scaled
FROM scored GROUP BY 1
ORDER BY score_scaled DESC, {id_col} LIMIT {k}
"""


# --- hybrid retrieval (lexical ⊕ dense, reciprocal-rank fusion) ------------

RRF_K = 60        # the standard RRF damping constant (Cormack et al. 2009)
RRF_LEG_K = 50    # candidates taken from each leg before fusion
RRF_TOP_K = 10


def hybrid_rrf_topk(
    docs: DataFrame | None,
    vectors: DataFrame,
    query_terms: tuple[str, ...],
    query_vec_id: int = 0,
    leg_k: int = RRF_LEG_K,
    k: int = RRF_TOP_K,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    lex: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a lexical BM25 leg
    and a dense cosine leg — the standard production fusion (RRF,
    Cormack et al. 2009: score = Σ_legs 1/(RRF_K + rank), absent leg
    contributes 0). The doc/vec id spaces are aligned (TESTDATA: vec_id
    ≡ doc_id), so both legs rank the same corpus.

    Shape at scale: each leg is its own already-scale-shaped operator
    (BM25 = one corpus scan + broadcast stats; dense = the ANN family —
    brute force here for the exact oracle, swap in ivf/lsh_topk beyond
    broadcast). Fusion touches only 2·leg_k candidate rows: a full-outer
    join of two k-row sides, driver-free.

    Determinism: ranks are exact ints; each 1/(K+r) is ONE correctly-
    rounded double division and the two-term sum has a fixed order, so
    the fused score is bit-identical cross-engine (CLAUDE.md float
    rule: identical op order)."""
    from pyspark.sql import Window

    # `lex` (r14): a pre-ranked lexical top-leg_k relation
    # ((id_col, score_scaled) — e.g. bm25_from_postings over the
    # persisted index, pytest-pinned bit-equal to the scan form) —
    # serving swap only, the fusion below is unchanged
    if lex is None:
        lex = bm25_topk(docs, query_terms, k=leg_k, id_col=id_col)
    wl = Window.orderBy(F.desc("score_scaled"), id_col)  # ≤ leg_k rows
    lex_r = lex.select(
        F.col(id_col).alias("doc_id"),
        F.row_number().over(wl).cast("long").alias("lex_rank"),
    )
    from mimic2ts_spark.operators.similarity import brute_force_topk

    dense_r = brute_force_topk(
        vectors,
        vectors.where(F.col(vec_id_col) == query_vec_id),
        k=leg_k,
        id_col=vec_id_col,
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("dense_rank"))

    fused = lex_r.join(dense_r, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0))
    return (
        fused.select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(k)
    )


def sql_hybrid_rrf(
    query_terms: tuple[str, ...],
    query_vec_id: int = 0,
    leg_k: int = RRF_LEG_K,
    k: int = RRF_TOP_K,
) -> str:
    """DuckDB mirror of hybrid_rrf_topk: the BM25 query wraps as a CTE
    body (DuckDB accepts a full WITH-query there), the dense leg is the
    ranked-cosine CTE, fusion is the same fixed-order two-term sum."""
    from mimic2ts_spark.operators.similarity import sql_cosine

    bm25 = sql_bm25_topk(query_terms, k=leg_k)
    cos = sql_cosine("q.embedding", "v.embedding")
    return f"""
WITH lex0 AS ({bm25}),
lex AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score_scaled DESC, doc_id) AS BIGINT)
               AS lex_rank
    FROM lex0
),
dense0 AS (
    SELECT v.vec_id AS doc_id, {cos} AS cosine
    FROM embeddings q, embeddings v
    WHERE q.vec_id = {query_vec_id} AND v.vec_id <> q.vec_id
),
dense AS (
    SELECT doc_id, CAST(rn AS BIGINT) AS dense_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rn
        FROM dense0
    ) WHERE rn <= {leg_k}
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
       COALESCE(1.0::DOUBLE / ({RRF_K} + l.lex_rank), 0.0::DOUBLE)
       + COALESCE(1.0::DOUBLE / ({RRF_K} + d.dense_rank), 0.0::DOUBLE) AS rrf_score
FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
ORDER BY rrf_score DESC, doc_id LIMIT {k}
"""


# --- benchmark decontamination --------------------------------------------

DECON_GRAM_N = 5
DECON_BENCH_MOD = 53  # doc_id % MOD == 0 → held-out benchmark doc


def benchmark_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = DECON_GRAM_N,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training docs sharing ≥1 word n-gram with a benchmark/eval set —
    the test-set-contamination sweep every pretraining corpus needs
    (the n-gram-overlap criterion of GPT-3 appx. C / PaLM §C, with the
    gram length scaled down to the synthetic corpus' short docs).

    Shape at scale: both sides take ONE scan each through the shared
    cheap-token-hash shingle pass (operators/dedup.py machinery — no
    per-gram md5 of materialized strings); grams are deduped per side
    (distinct (doc, code) / distinct code) so the join emits each
    shared gram once; the benchmark side is tiny by construction and
    AQE broadcasts it. Rows with fewer than n tokens can't produce a
    gram and are dropped on a SOURCE predicate before the shingle pass
    (a derived-column filter would re-inline the hash pass under
    pushdown — CLAUDE.md round-1 trap).

    Returns (doc_id, n_grams, n_shared_grams): one row per contaminated
    training doc; n_grams is the doc's distinct-gram count for
    thresholding a share fraction downstream."""
    from mimic2ts_spark.operators.dedup import with_shingle_codes

    min_toks = F.size(tokens(F.col(text_col))) >= n
    t = with_shingle_codes(train.where(min_toks), text_col, "codes", n)
    b = with_shingle_codes(bench.where(min_toks), text_col, "codes", n)
    # carry per-doc distinct gram counts without a join back: size() on the
    # deduped array before the explode, grouped back out after the join
    t_grams = t.select(
        F.col(id_col),
        F.size(F.array_distinct("codes")).alias("n_grams"),
        F.explode(F.array_distinct("codes")).alias("code"),
    )
    b_grams = b.select(F.explode(F.array_distinct("codes")).alias("code")).distinct()
    return (
        t_grams.join(b_grams, "code")
        .groupBy(id_col, "n_grams")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def sql_benchmark_contamination(
    train_rel: str,
    bench_rel: str,
    n: int = DECON_GRAM_N,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    from mimic2ts_spark.operators.dedup import (
        sql_shingle_codes_from_tc,
        sql_token_codes,
    )

    toks = SQL_TOKENS.format(text=text_col)
    tc = sql_token_codes(text_col)
    grams = sql_shingle_codes_from_tc("tc", n)
    return f"""
WITH t_base AS (
    SELECT {id_col}, {tc} AS tc FROM {train_rel} WHERE len({toks}) >= {n}
),
b_base AS (
    SELECT {id_col}, {tc} AS tc FROM {bench_rel} WHERE len({toks}) >= {n}
),
t_grams AS (
    SELECT {id_col}, CAST(len(list_distinct({grams})) AS BIGINT) AS n_grams,
           g.code
    FROM t_base, unnest(list_distinct({grams})) AS g(code)
),
b_grams AS (
    SELECT DISTINCT g.code FROM b_base, unnest({grams}) AS g(code)
)
SELECT t.{id_col}, t.n_grams, count(*) AS n_shared_grams
FROM t_grams t JOIN b_grams b ON t.code = b.code
GROUP BY 1, 2
"""


# --- per-doc keyword extraction (top-k TF-IDF terms) ----------------------

TFIDF_TOP_K = 3


def tfidf_topk_terms(
    df: DataFrame,
    k: int = TFIDF_TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, term, score_scaled, rk): each doc's top-k terms under
    integer-exact TF-IDF — the keyword/tagging pass of a corpus indexer.

    score_scaled(d,t) = tf(d,t) · idf_scaled(t), with the same cleared-
    rational idf as BM25 (⌊SCALE·(2N−2df+1)/(2df+1)⌋ — a monotone
    integer image of log-idf's ordering). Bounds: tf ≤ doc length,
    idf ≤ SCALE·(2N+1) — int64-safe to ~10^8 docs at SCALE=1e5 for
    tf ≤ 10^5.

    Shape at scale: ONE corpus scan/tokenize → hash-agg to (doc, term,
    tf) → hash-agg to per-term df (vocab-sized; joined back WITHOUT a
    broadcast hint — at 100 TB the vocab can exceed the broadcast
    budget, and AQE upgrades the join to broadcast at runtime whenever
    it actually fits) → per-doc top-k as a rank window, which plans as
    WindowGroupLimit (per-partition top-k heaps, no global sort).
    Deterministic tie-break: equal scores rank by term ascending."""
    toks = tokens(F.col(text_col))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        # persisted: consumed twice (the per-term df aggregate and the
        # scoring join) — unpersisted the corpus tokenize+explode pass
        # ran per consumer (r14 §5)
        .persist()
    )
    totals = df.select(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            "term",
            F.expr(
                f"tf * (({SCALE} * (2 * (n_docs - df) + 1)) div (2 * df + 1))"
            ).alias("score_scaled"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_scaled"), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "term", "score_scaled", F.col("rk").cast("int").alias("rk"))
    )


def sql_tfidf_topk_terms(
    k: int = TFIDF_TOP_K,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = SQL_TOKENS.format(text=text_col)
    return f"""
WITH tf AS (
    SELECT {id_col}, t.term, CAST(count(*) AS BIGINT) AS tf
    FROM {table}, unnest({toks}) AS t(term)
    GROUP BY 1, 2
),
totals AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {table}),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT tf.{id_col}, tf.term,
           tf.tf * (({SCALE} * (2 * (t.n_docs - d.df) + 1)) // (2 * d.df + 1))
               AS score_scaled
    FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN totals t
)
SELECT {id_col}, term, score_scaled, CAST(rk AS INTEGER) AS rk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY {id_col} ORDER BY score_scaled DESC, term
    ) AS rk
    FROM scored
) WHERE rk <= {k}
"""


def build_postings(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf, dl): the FULL inverted index a persisted
    search artifact stores — one explode + one hash agg over the corpus
    (doc length carried through the explode, so tf never joins back).
    Per-term document frequency is NOT materialized: it is a count over
    the term's postings, recomputed by the reader after any append —
    which is what keeps delta appends stats-consistent for free."""
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("dl"),
        toks.alias("_toks"),
    )
    return (
        base.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def build_canon_postings_artifact(
    spark,
    out_dir: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Persist the CANONICAL inverted index the panel-BM25 evals serve
    from (r15, VERDICT r14 #7 — the r13 codebook-vs-codes doctrine's
    encoded form promoted from a per-process memo to maintained table
    state, `maintain canon-postings`):

      canon_map/  (text_md5, canon)  one row per DISTINCT text (X176)
      postings/   (term, doc_id, tf, dl) over the canonical docs
      doclens/    (doc, dl, nt) carrying EVERY canonical doc —
                  token-less docs have no postings rows but must still
                  count in the BM25 totals

    Every stored row is a pure per-doc function of the canonical set,
    so appends stay stats-consistent for free (df is recomputed by the
    reader, the build_postings contract). Deterministic build ⇒ served
    == scan-form bit-equal (the equality pins in tests/)."""
    import os

    from mimic2ts_spark.operators.dedup import canonical_docs, exact_text_map
    from mimic2ts_spark.operators.text import tokens as _tokens

    os.makedirs(out_dir, exist_ok=True)
    exact_text_map(docs, text_col=text_col, id_col=id_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "canon_map"))
    canon = canonical_docs(docs, text_col=text_col, id_col=id_col)
    build_postings(canon, text_col=text_col, id_col=id_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "postings"))
    toks = _tokens(F.col(text_col))
    canon.select(
        F.col(id_col).alias("doc"),
        F.size(toks).cast("long").alias("dl"),
        F.size(F.array_distinct(toks)).cast("long").alias("nt"),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "doclens"))
    n_canon = spark.read.parquet(os.path.join(out_dir, "doclens")).count()
    _write_canon_postings_meta(
        out_dir, {"text_col": text_col, "id_col": id_col, "n_canon": n_canon}
    )
    return {
        "n_docs": docs.count(),
        "n_canon": n_canon,
        "n_postings": spark.read.parquet(
            os.path.join(out_dir, "postings")
        ).count(),
    }


def append_canon_postings_artifact(
    spark,
    out_dir: str,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Grow the canon-postings artifact by a delta batch at O(delta)
    cost: delta texts anti-join the stored canon_map by md5 — only
    GENUINELY NEW texts band into new canonical docs (min id within the
    delta), whose postings/doclens rows append; byte-identical arrivals
    resolve through the map and touch nothing. IDEMPOTENT on redelivery
    (a replayed batch's md5s all hit the map). NEW-ids contract like
    every other append here (single-writer, delta ids larger than
    stored ids) — a delta re-sending a stored text under a smaller id
    cannot retroactively re-canonicalize; the stored canonical wins."""
    import json
    import os

    from mimic2ts_spark.operators.text import tokens as _tokens

    map_dir = os.path.join(out_dir, "canon_map")
    stored = spark.read.parquet(map_dir)
    # a row repeated within the batch is one doc, not two
    d = delta.withColumn("_h", F.md5(F.col(text_col))).dropDuplicates(
        ["_h", id_col]
    )
    new = d.join(
        stored.select(F.col("text_md5").alias("_h")), "_h", "left_anti"
    )
    new_map = new.groupBy(F.col("_h").alias("text_md5")).agg(
        F.min(id_col).alias("canon")
    )
    new_canon = (
        new.join(
            new_map.select(
                F.col("text_md5").alias("_h"),
                F.col("canon").alias(id_col),
            ),
            ["_h", id_col],
        )
        .drop("_h")
        # settle before the appends touch the dirs being read
        .localCheckpoint(eager=True)
    )
    n_new = new_canon.count()
    if n_new:
        build_postings(new_canon, text_col=text_col, id_col=id_col).write.mode(
            "append"
        ).parquet(os.path.join(out_dir, "postings"))
        toks = _tokens(F.col(text_col))
        new_canon.select(
            F.col(id_col).alias("doc"),
            F.size(toks).cast("long").alias("dl"),
            F.size(F.array_distinct(toks)).cast("long").alias("nt"),
        ).write.mode("append").parquet(os.path.join(out_dir, "doclens"))
        # map rows derive from the CHECKPOINTED new_canon (each row IS
        # its md5 group's min-id canonical), severing lineage from the
        # canon_map dir being appended
        new_canon.select(
            F.md5(F.col(text_col)).alias("text_md5"),
            F.col(id_col).alias("canon"),
        ).write.mode("append").parquet(map_dir)
    meta_path = os.path.join(out_dir, "_canon_postings_meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        meta = {"text_col": text_col, "id_col": id_col, "n_canon": None}
    if meta.get("n_canon") is not None:
        meta["n_canon"] = int(meta["n_canon"]) + n_new
        _write_canon_postings_meta(out_dir, meta)
    return {"n_delta": n_new, "n_canon": meta.get("n_canon")}


def _write_canon_postings_meta(out_dir: str, meta: dict) -> None:
    """Write the meta to a temp name, then rename it over the final name
    (atomic on POSIX): a crash mid-write leaves the previous meta (or
    none), never a truncated one. A write that raises removes its temp
    file."""
    import json
    import os

    path = os.path.join(out_dir, "_canon_postings_meta.json")
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def load_canon_postings(spark, out_dir: str):
    """(postings, doclens) DataFrames in the shape the panel-BM25 evals
    consume: postings (term, doc, tf, dl), doclens (doc, dl, nt)."""
    import os

    postings = memo.read_parquet(
        spark, os.path.join(out_dir, "postings")
    ).select("term", F.col("doc_id").alias("doc"), "tf", "dl")
    doclens = memo.read_parquet(spark, os.path.join(out_dir, "doclens"))
    return postings, doclens


def corpus_stats(df: DataFrame, text_col: str = "text") -> dict:
    """{n_docs, sum_dl}: the two scalars BM25 needs besides postings —
    maintained additively across appends (new docs only, single-writer)."""
    r = df.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("sum_dl"),
    ).collect()[0]
    return {"n_docs": int(r["n_docs"]), "sum_dl": int(r["sum_dl"])}


def bm25_from_postings(
    spark,
    postings_dir: str,
    stats: dict,
    query_terms: tuple[str, ...],
    k: int = TOP_K,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k served FROM the persisted index: the postings scan is
    pruned to the query terms (term-sorted files ⇒ rowgroup min/max
    stats skip non-matching rowgroups — `PushedFilters: [In(term, …)]`),
    df per term counts the term's postings, and n_docs/sum_dl come from
    the maintained stats. The identical integer-exact scoring expression
    as bm25_topk, so index-served results bit-equal the corpus-scan
    form at any append state.

    `allowed` (a one-column doc-id relation, X224 — the lexical twin of
    the X219/X221 filtered-ANN doctrine): candidates semi-join the
    allowed set BEFORE the top-k cut, so the cut always ranks k allowed
    survivors — never the under-returning post-filter of a fixed
    top-k. Scoring scalars (df, n_docs, sum_dl) stay CORPUS-level, the
    production convention (the filter restricts candidates, it does
    not redefine term rarity — and it must not retrain/rewrite any
    artifact state, the X221 rule). Pytest-pinned equal to filtering
    the full scored relation pre-cut."""
    tf = memo.read_parquet(spark, postings_dir).where(
        F.col("term").isin(*query_terms)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias("doc_id"))
        # after df is derived from the UNfiltered postings (corpus-level
        # rarity), candidates restrict to allowed docs pre-cut
        tf = tf.join(ids, "doc_id", "left_semi")
    n_docs, sum_dl = stats["n_docs"], stats["sum_dl"]
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn(
            "idf_scaled",
            F.expr(f"({SCALE}L * (2L * ({n_docs}L - df) + 1L)) div (2L * df + 1L)"),
        )
        .withColumn(
            "tf_scaled",
            F.expr(
                f"({SCALE}L * 22L * {sum_dl}L * tf) div "
                f"(10L * {sum_dl}L * tf + 3L * {sum_dl}L + 9L * dl * {n_docs}L)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum(F.col("idf_scaled") * F.col("tf_scaled")).alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), "doc_id")
        .limit(k)
    )


# --- token-phrase search ----------------------------------------------------


def phrase_occurrences(
    df: DataFrame,
    phrases: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-phrase match counts per (phrase, doc) — the
    positional-postings query BM25's bag-of-words scoring cannot
    express (quote search, boilerplate span lookup, benchmark-prompt
    containment at token granularity).

    Anchor intersection: token w at position pos matching phrase term
    index i anchors candidate start pos - i; a start where ALL k term
    indexes anchored is one occurrence. One corpus pass: posexplode of
    the shared whitespace tokenization, broadcast join against the tiny
    (phrase, idx, term) table (map-side filter — only phrase-vocabulary
    tokens survive the join), then two hash aggregates. Work is
    O(matching tokens), never O(tokens x phrases); duplicate terms
    inside a phrase are correct because each term index must anchor the
    SAME start from its OWN position (count(DISTINCT idx) = k).

    Scale shape (100 TB): the only raw-volume pass is scan ->
    posexplode -> broadcast-hash-join; the (phrase, doc, anchor)
    shuffle carries only phrase-vocabulary hits. For a standing corpus,
    the same join runs against a positional-postings artifact pruned to
    the phrase vocabulary (the X152 pattern); the scan form here is the
    artifact-free equivalent."""
    spark = df.sparkSession
    term_rows = []
    for p in phrases:
        terms = p.split()
        for i, t in enumerate(terms):
            term_rows.append((p, i, t, len(terms)))
    terms_df = spark.createDataFrame(
        term_rows, "phrase string, idx int, term string, k int"
    )
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    hits = toks.join(
        F.broadcast(terms_df), F.col("tok") == F.col("term"), "inner"
    ).select("phrase", id_col, (F.col("pos") - F.col("idx")).alias("anchor"), "idx", "k")
    starts = (
        hits.groupBy("phrase", id_col, "anchor")
        .agg(
            F.countDistinct("idx").alias("_n"),
            F.max("k").alias("_k"),
        )
        .where(F.col("_n") == F.col("_k"))
    )
    return starts.groupBy("phrase", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def sql_phrase_occurrences(
    phrases: tuple[str, ...], table: str = "documents"
) -> str:
    """DuckDB oracle for phrase_occurrences: identical tokenization
    (SQL_TOKENS), 0-based positions via generate_series, identical
    anchor-intersection aggregation."""
    values = ", ".join(
        f"('{p}', {i}, '{t}', {len(p.split())})"
        for p in phrases
        for i, t in enumerate(p.split())
    )
    toks = SQL_TOKENS.format(text="text")
    return f"""
WITH toklist AS (
    SELECT doc_id, {toks} AS toks FROM {table}
),
tokpos AS MATERIALIZED (
    SELECT doc_id, i - 1 AS pos, toks[i] AS tok
    FROM toklist, UNNEST(generate_series(1, len(toks))) AS s(i)
),
terms(phrase, idx, term, k) AS (VALUES {values}),
hits AS (
    SELECT t.phrase, x.doc_id, x.pos - t.idx AS anchor, t.idx, t.k
    FROM tokpos x JOIN terms t ON x.tok = t.term
),
starts AS (
    SELECT phrase, doc_id, anchor
    FROM hits
    GROUP BY phrase, doc_id, anchor
    HAVING count(DISTINCT idx) = max(k)
)
SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM starts
GROUP BY phrase, doc_id
"""


def build_positional_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, doc_id, positions): the POSITIONAL inverted index that
    serves phrase queries without a corpus scan — one posexplode + one
    collect-over-group pass. Positions are sorted (array_sort: grouped
    collect order is nondeterministic) so the artifact is deterministic
    and mergeable per (term, doc). Array-grouped rather than flat
    (term, doc, pos) rows: one row per posting keeps the term-sorted
    file's rowgroup min/max stats tight, and the reader explodes only
    phrase-vocabulary rows."""
    toks = tokens(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.array_sort(F.collect_list(F.col("pos").cast("long"))).alias("positions"))
    )


def phrase_from_postings(
    spark, postings_dir: str, phrases: tuple[str, ...]
) -> DataFrame:
    """Phrase occurrences served FROM the persisted positional index:
    the postings scan is pruned to the phrase vocabulary (term-sorted
    files ⇒ `PushedFilters: [In(term, …)]` skips rowgroups), then the
    identical anchor-intersection aggregation as phrase_occurrences —
    index-served results bit-equal the corpus-scan form (pinned by
    pytest). Cost is the phrase vocabulary's postings, never the
    corpus."""
    terms = sorted({t for p in phrases for t in p.split()})
    term_rows = [
        (p, i, t, len(p.split()))
        for p in phrases
        for i, t in enumerate(p.split())
    ]
    terms_df = spark.createDataFrame(
        term_rows, "phrase string, idx int, term string, k int"
    )
    hits = (
        memo.read_parquet(spark, postings_dir)
        .where(F.col("term").isin(*terms))
        .select("term", "doc_id", F.explode("positions").alias("pos"))
        .join(F.broadcast(terms_df), "term")
        .select(
            "phrase",
            "doc_id",
            (F.col("pos") - F.col("idx")).alias("anchor"),
            "idx",
            "k",
        )
    )
    starts = (
        hits.groupBy("phrase", "doc_id", "anchor")
        .agg(F.countDistinct("idx").alias("_n"), F.max("k").alias("_k"))
        .where(F.col("_n") == F.col("_k"))
    )
    return starts.groupBy("phrase", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


# --- substring (grep) search + trigram index ---------------------------------
# Char-level containment search — the retrieval mode neither BM25 (bag
# of words) nor phrase search (token-aligned) covers: needles may cross
# token boundaries ("hash ta") or sit inside words ("ilter"). The scan
# form is one corpus pass; the artifact form serves a standing corpus
# from a trigram inverted index (the code-search / pg_trgm design):
# every occurrence of a needle contains every char trigram of the
# needle, so docs holding ALL needle trigrams are a complete candidate
# superset, verified by the exact count expression.


def substring_occurrences(
    df: DataFrame,
    needles: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NON-OVERLAPPING occurrence counts per (needle, doc) — python
    str.count semantics, pytest-pinned — via the replace-difference
    identity (length(text) - length(replace(text, needle, ''))) /
    length(needle): pure integer math, bit-exact in both engines.
    k-row broadcast crossJoin (k = panel size) then one replace pass
    per (row, needle); rows with zero occurrences drop."""
    spark = df.sparkSession
    needles_df = spark.createDataFrame([(n,) for n in needles], "needle string")
    n_occ = F.expr(
        f"(length({text_col}) - length(replace({text_col}, needle, ''))) "
        f"div length(needle)"
    ).cast("long")
    return (
        df.crossJoin(F.broadcast(needles_df))
        .select("needle", F.col(id_col).alias("doc_id"), n_occ.alias("n_occurrences"))
        .where(F.col("n_occurrences") > 0)
    )


def sql_substring_occurrences(
    needles: tuple[str, ...], table: str = "documents"
) -> str:
    """DuckDB oracle: identical replace-difference count (integer //)."""
    values = ", ".join(f"('{n}')" for n in needles)
    return f"""
WITH needles(needle) AS (VALUES {values}),
counted AS (
    SELECT n.needle, d.doc_id,
           CAST((length(d.text) - length(replace(d.text, n.needle, '')))
                // length(n.needle) AS BIGINT) AS n_occurrences
    FROM {table} d CROSS JOIN needles n
)
SELECT needle, doc_id, n_occurrences FROM counted WHERE n_occurrences > 0
"""


def build_trigram_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(gram, doc_id) distinct char-trigram inverted index — one pass:
    per-doc distinct trigrams (array_distinct over a transform of
    overlapping substrings; the explicit CASE guards sequence()'s
    DESCENDING rendering of 1..len-2 when len < 3)."""
    grams = F.expr(
        f"CASE WHEN length({text_col}) < 3 THEN array() "
        f"ELSE array_distinct(transform(sequence(1, length({text_col}) - 2), "
        f"i -> substring({text_col}, i, 3))) END"
    )
    return df.select(
        F.explode(grams).alias("gram"), F.col(id_col).alias("doc_id")
    )


def substring_from_trigram_postings(
    spark,
    postings_dir: str,
    corpus: DataFrame,
    needles: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring search served from the persisted trigram index:
    candidates = docs holding ALL distinct trigrams of the needle
    (complete superset — an occurrence contains each of its trigrams),
    from a gram-pruned index scan (pushed In(gram, …), gram-sorted
    files => rowgroup skip); then the exact replace-difference count
    verifies candidates against the corpus via one doc_id join.
    Bit-equals the corpus-scan substring_occurrences (pytest-pinned).
    Cost: needle-vocabulary postings + |candidates| text fetches, never
    a corpus scan. Needles must be >= 3 chars (no trigrams below)."""
    short = [n for n in needles if len(n) < 3]
    if short:
        raise ValueError(f"needles shorter than 3 chars have no trigrams: {short}")
    gram_rows = []
    for n in needles:
        grams = sorted({n[i : i + 3] for i in range(len(n) - 2)})
        for g in grams:
            gram_rows.append((n, g, len(grams)))
    vocab = sorted({g for _, g, _ in gram_rows})
    grams_df = spark.createDataFrame(gram_rows, "needle string, gram string, k int")
    cand = (
        memo.read_parquet(spark, postings_dir)
        .where(F.col("gram").isin(*vocab))
        .join(F.broadcast(grams_df), "gram")
        .groupBy("needle", "doc_id")
        .agg(F.countDistinct("gram").alias("_n"), F.max("k").alias("_k"))
        .where(F.col("_n") == F.col("_k"))
        .select("needle", "doc_id")
    )
    n_occ = F.expr(
        f"(length({text_col}) - length(replace({text_col}, needle, ''))) "
        f"div length(needle)"
    ).cast("long")
    return (
        cand.join(corpus.withColumnRenamed(id_col, "doc_id"), "doc_id")
        .select("needle", "doc_id", n_occ.alias("n_occurrences"))
        .where(F.col("n_occurrences") > 0)
    )


def bm25_topk_maxscore(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k: int = TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    _stats: dict | None = None,
) -> DataFrame:
    """MaxScore-pruned BM25 top-k (Turtle & Flood 1995, restated for a
    batch engine) — PROVABLY identical output to bm25_topk:

    - per-term max contribution U(t) over matched postings (|q| scalar
      rows); anchor = the argmax-U term (ties: term asc);
    - θ = the k-th best exact total among docs MATCHING the anchor
      (score desc, id asc);
    - prune theorem: a doc not matching the anchor scores at most
      B = Σ_{t≠anchor} U(t); if B < θ STRICTLY, no such doc can reach
      the top-k even on ties (a tie needs score = θ > B ≥ its score),
      so the answer is exactly the anchor-matching top-k and the
      non-anchor postings never reach the final aggregate. Otherwise
      fall back to full scoring — equal output either way.

    Integer-exact contributions make every comparison exact; the
    driver oracle runs FULL scoring, so the gate's hash compare
    re-proves the prune lossless on real data each round. `_stats`
    (tests) records which branch ran and the θ/B scalars."""
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("dl"), toks.alias("_toks")
    )
    tf = (
        base.select(
            id_col,
            "dl",
            F.explode(
                F.filter(F.col("_toks"), lambda t: t.isin(*query_terms))
            ).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    totals = df.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("sum_dl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf_scaled",
            F.expr(f"({SCALE} * (2 * (n_docs - df) + 1)) div (2 * df + 1)"),
        )
        .withColumn(
            "tf_scaled",
            F.expr(
                f"({SCALE} * 22 * sum_dl * tf) div "
                "(10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs)"
            ),
        )
        .withColumn("contrib", F.col("idf_scaled") * F.col("tf_scaled"))
        .persist()
    )
    # bounded scalar collects (broadcast-budget: |q| rows + k rows)
    umax = {
        r.term: r.u
        for r in scored.groupBy("term").agg(F.max("contrib").alias("u")).collect()
    }
    full_tail = (
        lambda s: s.groupBy(id_col)
        .agg(F.sum("contrib").alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), id_col)
        .limit(k)
    )
    if not umax:
        return full_tail(scored)
    anchor = min(umax, key=lambda t: (-umax[t], t))
    bound_rest = sum(u for t, u in umax.items() if t != anchor)
    anchor_ids = scored.where(F.col("term") == anchor).select(id_col)
    anchor_top = full_tail(scored.join(anchor_ids, id_col, "left_semi"))
    top_rows = anchor_top.collect()
    pruned = len(top_rows) == k and bound_rest < top_rows[-1].score_scaled
    if _stats is not None:
        _stats.update(
            pruned=pruned,
            bound_rest=bound_rest,
            theta=top_rows[-1].score_scaled if len(top_rows) == k else None,
        )
    return anchor_top if pruned else full_tail(scored)


# --- known-item retrieval eval (integer-exact MRR@k) ------------------------

MRR_PANEL = 32      # known-item queries drawn from the corpus
MRR_QTERMS = 4      # most-frequent tokens taken from each query doc
MRR_K = 10          # ranking depth
MRR_RR_SCALE = 2520  # lcm(1..10): rr = MRR_RR_SCALE // rank is exact int


def _panel_bm25_ranked(
    base: DataFrame,
    pdocs: DataFrame,
    n_terms: int,
    k: int,
    exclude_self: bool = False,
) -> DataFrame:
    """Shared panel-BM25 ranking core (known_item_mrr / neardup_map_at_k):
    given the persisted canonical base (doc, dl, _toks) and the panel
    (qid), build each query's n_terms most-frequent tokens and return
    the per-query top-k ranking (qid, doc, score_scaled, rank). ONE
    corpus token pass (explode → broadcast vocabulary join), broadcast
    per-term df + 1-row totals, per-query top-k as a WindowGroupLimit.
    exclude_self drops the query doc from the candidate pool BEFORE
    ranking (ranks shift up) — trivial self-retrieval would otherwise
    occupy rank 1 of every near-dup eval."""
    from mimic2ts_spark.operators.text import token_code

    wq = Window.partitionBy("qid").orderBy(F.desc("cnt"), "_tc", "term")
    qterms = (
        base.join(F.broadcast(pdocs), base["doc"] == pdocs["qid"])
        .select("qid", F.explode(F.col("_toks")).alias("term"))
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_tc", token_code(F.col("term")))
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_terms)
        .select("qid", "term")
        # persisted: ≤ panel·n_terms rows, consumed twice (the vocab
        # distinct and the per-query scoring join) — r14 §5
        .persist()
    )
    vocab = qterms.select("term").distinct()
    # persisted: consumed twice (dfreq's broadcast job + the scoring
    # pass) — without it the corpus explode runs once per consumer
    tf = (
        base.select("doc", "dl", F.explode(F.col("_toks")).alias("term"))
        .join(F.broadcast(vocab), "term")
        .groupBy("doc", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    totals = base.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    term_scores = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "term_score",
            F.expr(f"({SCALE} * (2 * (n_docs - df) + 1)) div (2 * df + 1)")
            * F.expr(
                f"({SCALE} * 22 * sum_dl * tf) div "
                "(10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs)"
            ),
        )
    )
    per_query = (
        term_scores.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc")
        .agg(F.sum("term_score").alias("score_scaled"))
    )
    if exclude_self:
        per_query = per_query.where(F.col("doc") != F.col("qid"))
    wr = Window.partitionBy("qid").orderBy(F.desc("score_scaled"), "doc")
    return (
        per_query.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        # persisted: ≤ panel·k rows, every caller consumes it ≥ 2×
        # (self_hit + top1 / hits + report) — unpersisted the whole
        # scoring pass re-ran per consumer (r14 §5)
        .persist()
    )


def _panel_bm25_ranked_from_postings(
    postings: DataFrame,
    doclens: DataFrame,
    pdocs: DataFrame,
    n_terms: int,
    k: int,
    exclude_self: bool = False,
) -> DataFrame:
    """_panel_bm25_ranked SERVED from a persisted (term, doc, tf, dl)
    postings relation + a (doc, dl) doclens relation (r13
    codebook-vs-codes doctrine: the eval reads the indexed form, never
    re-tokenizing the corpus per call). Value-identical to the scan
    form by construction: a doc's postings tf IS its per-term token
    count (qterms' groupBy-count), the vocab-pruned postings ARE the
    scan form's explode→vocab-join→agg rows, and totals from doclens
    equal base's ungrouped aggregate (doclens carries EVERY doc,
    including token-less ones the postings can't represent). Same
    scoring expressions, same tie orders — pytest-pinned row-for-row
    against the scan form."""
    from mimic2ts_spark.operators.text import token_code

    wq = Window.partitionBy("qid").orderBy(F.desc("cnt"), "_tc", "term")
    qterms = (
        postings.join(F.broadcast(pdocs), postings["doc"] == pdocs["qid"])
        .select("qid", "term", F.col("tf").alias("cnt"))
        .withColumn("_tc", token_code(F.col("term")))
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_terms)
        .select("qid", "term")
        # persisted: ≤ panel·n_terms rows, consumed twice (the vocab
        # distinct and the per-query scoring join) — unpersisted each
        # consumer re-ran the postings×panel term selection (r14 §5)
        .persist()
    )
    vocab = qterms.select("term").distinct()
    # persisted: consumed twice (dfreq's broadcast job + the scoring
    # pass), exactly like the scan form's tf
    tf = postings.join(F.broadcast(vocab), "term").persist()
    totals = doclens.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    term_scores = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "term_score",
            F.expr(f"({SCALE} * (2 * (n_docs - df) + 1)) div (2 * df + 1)")
            * F.expr(
                f"({SCALE} * 22 * sum_dl * tf) div "
                "(10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs)"
            ),
        )
    )
    per_query = (
        term_scores.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc")
        .agg(F.sum("term_score").alias("score_scaled"))
    )
    if exclude_self:
        per_query = per_query.where(F.col("doc") != F.col("qid"))
    wr = Window.partitionBy("qid").orderBy(F.desc("score_scaled"), "doc")
    return (
        per_query.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        # persisted: ≤ panel·k rows, every caller consumes it ≥ 2×
        # (self_hit + top1 / hits + report) — unpersisted the whole
        # scoring pass re-ran per consumer (r14 §5)
        .persist()
    )


def known_item_mrr(
    docs: DataFrame | None,
    panel: int = MRR_PANEL,
    n_terms: int = MRR_QTERMS,
    k: int = MRR_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    pre_canonical: bool = False,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """Known-item retrieval eval — the retrieval family's measured
    quality number (completing the eval triad: X156 scores ANN, X167
    scores dedup banding, this scores BM25): draw `panel` queries from
    the corpus itself (each query = the `n_terms` most-frequent tokens
    of one md5-chosen document, ties md5-code then token — the
    standard known-item query simulation), rank the corpus by
    integer-exact BM25 per query, and report where each query's SOURCE
    document landed. Term choice matters: this corpus has a 31-word
    shared vocabulary with no rare terms, so md5-random term picks
    measured MRR 0.03 (nothing is discriminative) while the doc's own
    tf signal measures 0.88 — the eval scores BM25's tf/dl arithmetic,
    which is the part the engine owns.

    Output: one row per query — (qid, rank_found [0 = missed top-k],
    rr_scaled [= MRR_RR_SCALE // rank, 0 on miss], top1_doc).
    MRR = avg(rr_scaled) / MRR_RR_SCALE; reciprocal ranks are exact
    integers (lcm(1..k) clears every denominator), so the report is
    bit-exact cross-engine — no float MRR ever materializes.

    Exact-first: panel, scoring corpus and stats all use md5 CANONICAL
    docs — byte-identical copies of a known item would tie its score
    and turn the eval into a tie-break lottery (the X167 lesson).

    Shape at scale: ONE corpus token pass (explode → broadcast
    vocabulary join — at most panel·n_terms distinct terms), broadcast
    per-term df + 1-row totals (declared scalar cross join), per-query
    top-k as a WindowGroupLimit, and the panel/report joins are all
    panel-sized broadcasts. With `postings`/`doclens` (r14) the eval is
    SERVED from the persisted canonical postings instead — zero
    tokenize work per call, value-identical (see
    _panel_bm25_ranked_from_postings)."""
    from mimic2ts_spark.operators.dedup import canonical_docs
    from mimic2ts_spark.operators.sketch import kmv_code

    if postings is not None:
        # SERVED form (r14): panel eligibility + totals from the slim
        # (doc, dl, nt) doclens relation — nt = distinct-token count,
        # exactly base's size(array_distinct(_toks)) — and the ranking
        # from the persisted postings; no corpus tokenize per call.
        pdocs = (
            doclens.where(F.col("nt") >= n_terms)
            .select("doc", kmv_code(F.col("doc")).alias("_c"))
            .orderBy("_c", "doc")
            .limit(panel)
            .select(F.col("doc").alias("qid"))
            # persisted: ≤ panel rows, consumed twice (the term
            # selection and the report join) — r14 §5
            .persist()
        )
        ranked = _panel_bm25_ranked_from_postings(
            postings, doclens, pdocs, n_terms, k
        )
    else:
        # pre_canonical=True declares docs already canonical (the shared
        # artifact) — canonical_docs is idempotent, so skipping it is
        # value-identical
        canon = (
            docs if pre_canonical else canonical_docs(docs, text_col, id_col)
        )
        toks = tokens(F.col(text_col))
        base = canon.select(
            F.col(id_col).alias("doc"),
            F.size(toks).cast("long").alias("dl"),
            toks.alias("_toks"),
        ).persist()
        pdocs = (
            base.where(F.size(F.array_distinct(F.col("_toks"))) >= n_terms)
            .select("doc", kmv_code(F.col("doc")).alias("_c"))
            .orderBy("_c", "doc")
            .limit(panel)
            .select(F.col("doc").alias("qid"))
            # persisted: ≤ panel rows, consumed twice — r14 §5
            .persist()
        )
        ranked = _panel_bm25_ranked(base, pdocs, n_terms, k)
    self_hit = ranked.where(F.col("doc") == F.col("qid")).select(
        "qid", F.col("rank").alias("_self_rank")
    )
    top1 = ranked.where(F.col("rank") == 1).select(
        "qid", F.col("doc").alias("top1_doc")
    )
    return (
        pdocs.join(F.broadcast(self_hit), "qid", "left")
        .join(F.broadcast(top1), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("_self_rank"), F.lit(0)).cast("long").alias(
                "rank_found"
            ),
            F.when(
                F.col("_self_rank").isNotNull(),
                F.expr(f"{MRR_RR_SCALE}L div _self_rank"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rr_scaled"),
            "top1_doc",
        )
    )


def sql_known_item_mrr(
    table: str = "documents",
    panel: int = MRR_PANEL,
    n_terms: int = MRR_QTERMS,
    k: int = MRR_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror — same canonicals, same md5 panel/term selection,
    same integer rationals and floor divisions (all-positive), same
    (score DESC, doc ASC) tie-break."""
    from mimic2ts_spark.operators.text import SQL_CODE, SQL_TOKENS

    dcode = SQL_CODE.format(tok=f"CAST({id_col} AS VARCHAR)")
    tcode = SQL_CODE.format(tok="term")
    toks = SQL_TOKENS.format(text=text_col)
    return f"""
WITH canon_ids AS (
    SELECT min({id_col}) AS {id_col} FROM {table} GROUP BY md5({text_col})
),
base AS MATERIALIZED (
    SELECT d.{id_col} AS doc, CAST(len({toks}) AS BIGINT) AS dl,
           {toks} AS toks
    FROM {table} d JOIN canon_ids c ON c.{id_col} = d.{id_col}
),
pdocs AS (
    SELECT doc AS qid FROM base
    WHERE len(list_distinct(toks)) >= {n_terms}
    ORDER BY {dcode.replace(f'CAST({id_col} AS VARCHAR)', 'CAST(doc AS VARCHAR)')}, doc
    LIMIT {panel}
),
qterms AS MATERIALIZED (
    SELECT qid, term FROM (
        SELECT qid, term,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cnt DESC, {tcode}, term) AS rn
        FROM (SELECT p.qid, t.term, count(*) AS cnt
              FROM base b JOIN pdocs p ON p.qid = b.doc,
                   unnest(b.toks) AS t(term) GROUP BY 1, 2)
    ) WHERE rn <= {n_terms}
),
tf AS (
    SELECT b.doc, b.dl, t.term, count(*) AS tf
    FROM base b, unnest(b.toks) AS t(term)
    WHERE t.term IN (SELECT DISTINCT term FROM qterms)
    GROUP BY 1, 2, 3
),
totals AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
per_query AS (
    SELECT q.qid, tf.doc, CAST(sum(
        (({SCALE} * (2 * (t.n_docs - d.df) + 1)) // (2 * d.df + 1))
        * (({SCALE} * 22 * t.sum_dl * tf.tf) //
           (10 * t.sum_dl * tf.tf + 3 * t.sum_dl + 9 * tf.dl * t.n_docs))
    ) AS BIGINT) AS score_scaled
    FROM tf JOIN dfreq d ON tf.term = d.term
    JOIN qterms q ON q.term = tf.term
    CROSS JOIN totals t
    GROUP BY 1, 2
),
ranked AS MATERIALIZED (
    SELECT qid, doc, rank FROM (
        SELECT qid, doc,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score_scaled DESC, doc) AS rank
        FROM per_query
    ) WHERE rank <= {k}
)
SELECT p.qid,
       CAST(coalesce(s.rank, 0) AS BIGINT) AS rank_found,
       CAST(CASE WHEN s.rank IS NOT NULL THEN {MRR_RR_SCALE} // s.rank
                 ELSE 0 END AS BIGINT) AS rr_scaled,
       t1.doc AS top1_doc
FROM pdocs p
LEFT JOIN (SELECT qid, rank FROM ranked WHERE doc = qid) s ON s.qid = p.qid
LEFT JOIN (SELECT qid, doc FROM ranked WHERE rank = 1) t1 ON t1.qid = p.qid
"""


def neardup_map_at_k(
    docs: DataFrame | None,
    pairs: DataFrame | None = None,
    panel: int = MRR_PANEL,
    n_terms: int = MRR_QTERMS,
    k: int = MRR_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    pre_canonical: bool = False,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """MAP@k retrieval eval against NEAR-DUP ground truth (X207) — the
    multi-relevant companion of known_item_mrr: each panel query's
    relevant set is its near-dup partners (canonical minhash pairs, the
    X2-over-canonicals relation), the query DOC ITSELF is excluded
    from the candidate pool (trivial self-retrieval would occupy rank 1
    of every query), and average precision is reported per query as an
    exact integer rational:

        ap_num    = Σ_i hit_idx_i · (2520 div rank_i)   (2520 = lcm(1..10),
                    so 2520/rank is EXACT for every rank ≤ k=10)
        ap_scaled = ap_num div min(n_rel, k)             (floor; both engines)
        MAP       = avg(ap_scaled) / 2520                (consumer-side)

    Unlike the known-item panel (single relevant, tf signal ⇒ MRR 0.88),
    partners are NEAR — not byte — duplicates, so BM25 ranks them
    variably and AP is informative; the panel is restricted to docs
    that HAVE partners (47 at sf0.01 / 466 at sf0.1 — fires at every
    gate scale, the r07 eval-construction lesson).

    Shape at scale: the ground-truth pair relation is the exact-first
    banded X2 (never all-pairs); everything else is the shared
    _panel_bm25_ranked core — one corpus token pass, broadcast
    panel/df/totals joins, WindowGroupLimit top-k."""
    from mimic2ts_spark.operators.dedup import canonical_docs, minhash_lsh_pairs
    from mimic2ts_spark.operators.sketch import kmv_code

    if postings is None:
        # the canonical slim table is consumed by BOTH legs (the default
        # ground-truth pair derivation and the BM25 base) — persist it
        # once or the md5 canonicalization re-runs per consumer.
        # pre_canonical=True declares docs already canonical (the shared
        # artifact); canonical_docs is idempotent, so skipping it is
        # value-identical.
        canon = (
            (docs if pre_canonical else canonical_docs(docs, text_col, id_col))
            .select(id_col, text_col)
            .persist()
        )
        if pairs is None:
            # X2 over the SHARED canonical table — value-identical to
            # canonical_near_dup_pairs(docs) (which canonicalizes
            # internally)
            pairs = minhash_lsh_pairs(
                canon,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                on_duplicates="ignore",  # canonicals: distinct probe key
            )
        toks = tokens(F.col(text_col))
        base = canon.select(
            F.col(id_col).alias("doc"),
            F.size(toks).cast("long").alias("dl"),
            toks.alias("_toks"),
        ).persist()
    else:
        # SERVED form (r14): ground truth must be supplied (the shared
        # pair artifact) — the eval reads the persisted canonical
        # postings + doclens, no corpus tokenize per call.
        assert pairs is not None, "postings-served form requires pairs"
    rel = (
        pairs.select(F.col("doc_a").alias("qid"), F.col("doc_b").alias("rel"))
        .union(pairs.select(F.col("doc_b").alias("qid"), F.col("doc_a").alias("rel")))
        .distinct()
        # persisted: pair-relation sized, consumed by nrel (itself
        # evaluated twice: panel build + report join) AND the hits
        # join — unpersisted the pair scan ran up to 6× (r14 §5)
        .persist()
    )
    nrel = rel.groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    if postings is not None:
        eligible = doclens.where(F.col("nt") >= n_terms).select(
            F.col("doc").alias("qid")
        )
    else:
        eligible = base.where(
            F.size(F.array_distinct(F.col("_toks"))) >= n_terms
        ).select(F.col("doc").alias("qid"))
    pdocs = (
        eligible.join(nrel.select("qid"), "qid")
        .select("qid", kmv_code(F.col("qid")).alias("_c"))
        .orderBy("_c", "qid")
        .limit(panel)
        .select("qid")
        # persisted: ≤ panel rows, consumed twice (term selection +
        # report join) — r14 §5
        .persist()
    )
    if postings is not None:
        ranked = _panel_bm25_ranked_from_postings(
            postings, doclens, pdocs, n_terms, k, exclude_self=True
        )
    else:
        ranked = _panel_bm25_ranked(base, pdocs, n_terms, k, exclude_self=True)
    hits = ranked.join(
        rel.select("qid", F.col("rel").alias("doc")), ["qid", "doc"]
    )
    wh = Window.partitionBy("qid").orderBy("rank")
    ap = (
        hits.withColumn("hit_idx", F.row_number().over(wh).cast("long"))
        .select(
            "qid",
            F.expr(f"hit_idx * ({MRR_RR_SCALE}L div rank)").alias("_term"),
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.sum("_term").cast("long").alias("ap_num"),
        )
    )
    # broadcast the PANEL side (≤`panel` rows by construction) into the
    # n_rel join — `nrel` is corpus-derived (one row per doc with ≥1
    # near-dup partner: unbounded, potentially huge on exactly the
    # dup-heavy corpora this eval targets; at 100 TB a broadcast hint on
    # it forces an OOM-scale exchange — VERDICT r09 #1). `ap` is
    # panel-derived (≤panel rows), so its hint stays.
    return (
        F.broadcast(pdocs).join(nrel, "qid")
        .join(F.broadcast(ap), "qid", "left")
        .select(
            "qid",
            "n_rel",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("ap_num"), F.lit(0)).cast("long").alias("ap_num"),
            F.expr(f"coalesce(ap_num, 0L) div least(n_rel, {k}L)")
            .cast("long")
            .alias("ap_scaled"),
        )
    )


def sql_neardup_map(
    pairs_sql: str,
    table: str = "documents",
    panel: int = MRR_PANEL,
    n_terms: int = MRR_QTERMS,
    k: int = MRR_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of neardup_map_at_k — same canonicals, md5 panel
    order, integer rationals and floor divisions (all-positive), same
    (score DESC, doc ASC) tie-break and self-exclusion; `pairs_sql` is
    the same canonical-minhash SQL the ground-truth Spark side uses
    (full WITH-queries compose as CTE bodies, r05)."""
    from mimic2ts_spark.operators.text import SQL_CODE, SQL_TOKENS

    dcode = SQL_CODE.format(tok="CAST(qid AS VARCHAR)")
    tcode = SQL_CODE.format(tok="term")
    toks = SQL_TOKENS.format(text=text_col)
    return f"""
WITH canon_ids AS (
    SELECT min({id_col}) AS {id_col} FROM {table} GROUP BY md5({text_col})
),
base AS MATERIALIZED (
    SELECT d.{id_col} AS doc, CAST(len({toks}) AS BIGINT) AS dl,
           {toks} AS toks
    FROM {table} d JOIN canon_ids c ON c.{id_col} = d.{id_col}
),
ndpairs AS MATERIALIZED ({pairs_sql}),
rel AS MATERIALIZED (
    SELECT doc_a AS qid, doc_b AS rel FROM ndpairs
    UNION
    SELECT doc_b AS qid, doc_a AS rel FROM ndpairs
),
nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
pdocs AS (
    SELECT qid FROM (
        SELECT b.doc AS qid FROM base b JOIN nrel r ON r.qid = b.doc
        WHERE len(list_distinct(b.toks)) >= {n_terms}
    )
    ORDER BY {dcode}, qid
    LIMIT {panel}
),
qterms AS MATERIALIZED (
    SELECT qid, term FROM (
        SELECT qid, term,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cnt DESC, {tcode}, term) AS rn
        FROM (SELECT p.qid, t.term, count(*) AS cnt
              FROM base b JOIN pdocs p ON p.qid = b.doc,
                   unnest(b.toks) AS t(term) GROUP BY 1, 2)
    ) WHERE rn <= {n_terms}
),
tf AS (
    SELECT b.doc, b.dl, t.term, count(*) AS tf
    FROM base b, unnest(b.toks) AS t(term)
    WHERE t.term IN (SELECT DISTINCT term FROM qterms)
    GROUP BY 1, 2, 3
),
totals AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
per_query AS (
    SELECT q.qid, tf.doc, CAST(sum(
        (({SCALE} * (2 * (t.n_docs - d.df) + 1)) // (2 * d.df + 1))
        * (({SCALE} * 22 * t.sum_dl * tf.tf) //
           (10 * t.sum_dl * tf.tf + 3 * t.sum_dl + 9 * tf.dl * t.n_docs))
    ) AS BIGINT) AS score_scaled
    FROM tf JOIN dfreq d ON tf.term = d.term
    JOIN qterms q ON q.term = tf.term
    CROSS JOIN totals t
    WHERE tf.doc <> q.qid
    GROUP BY 1, 2
),
ranked AS MATERIALIZED (
    SELECT qid, doc, rank FROM (
        SELECT qid, doc,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score_scaled DESC, doc) AS rank
        FROM per_query
    ) WHERE rank <= {k}
),
hits AS (
    SELECT r.qid, r.rank,
           row_number() OVER (PARTITION BY r.qid ORDER BY r.rank) AS hit_idx
    FROM ranked r JOIN rel ON rel.qid = r.qid AND rel.rel = r.doc
),
ap AS (
    SELECT qid, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(sum(hit_idx * ({MRR_RR_SCALE} // rank)) AS BIGINT) AS ap_num
    FROM hits GROUP BY 1
)
SELECT p.qid, n.n_rel,
       CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(a.ap_num, 0) AS BIGINT) AS ap_num,
       CAST(coalesce(a.ap_num, 0) // least(n.n_rel, {k}) AS BIGINT)
           AS ap_scaled
FROM pdocs p
JOIN nrel n ON n.qid = p.qid
LEFT JOIN ap a ON a.qid = p.qid
"""


# --- impact-ordered index + MaxScore serving --------------------------------
#
# bm25_topk_maxscore (above) proves the prune theorem but cannot WIN on
# wall clock: computing the per-term bounds U(t) requires scoring every
# posting first, so the prune only skips the final aggregate. The classic
# fix (Turtle & Flood 1995 §5; every production engine since) is to store
# the impact bounds IN the index: u_max(t) is a per-term scalar computed
# once at build time, so serving reads |q| stat rows, exact-scores only
# the anchor term's (rare) document set, and the corpus-sized doc-keyed
# aggregate + top-k sort never run when the bound prunes.


def _contrib_exprs(n_docs: int, sum_dl: int) -> "F.Column":
    """idf_scaled * tf_scaled with build-time global scalars inlined —
    the exact integer contribution shared by every BM25 path here.
    Expects columns term/df/tf/dl in scope."""
    return F.expr(
        f"(({SCALE}L * (2L * ({n_docs}L - df) + 1L)) div (2L * df + 1L))"
        f" * (({SCALE}L * 22L * {sum_dl}L * tf) div "
        f"(10L * {sum_dl}L * tf + 3L * {sum_dl}L + 9L * dl * {n_docs}L))"
    )


def build_term_impacts(postings: DataFrame, stats: dict) -> DataFrame:
    """(term, df, u_max): the impact half of a MaxScore-servable index —
    exact per-term df and the exact MAXIMUM single-document contribution,
    computed once over the postings at build time (one agg pass; the
    join back for df rides the same term-hashed shuffle). u_max and df
    embed the build-time corpus scalars, so a postings APPEND must
    rebuild this table (single-writer, same contract as the versioned
    layouts) — serving against stale impacts could under-bound and
    break the prune theorem."""
    n_docs, sum_dl = stats["n_docs"], stats["sum_dl"]
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        postings.join(dfreq, "term")
        .withColumn("contrib", _contrib_exprs(n_docs, sum_dl))
        .groupBy("term", "df")
        .agg(F.max("contrib").cast("long").alias("u_max"))
    )


# Per-(index, panel) driver memo of the |q| collected impact rows — the
# in-memory term dictionary every serving system keeps hot. Bounded at
# |q| rows per distinct panel; keyed on the index DIR plus an artifact
# FINGERPRINT (memo.fingerprint of the impacts dir), so both
# a rebuilt index (new tempdir) and an IN-PLACE rebuild (maintain
# postings-append --impacts) miss the memo and re-collect fresh stats —
# stale u_max could under-bound B and silently break the prune theorem
# (ADVICE r08). Like the PQ codebook / coarse centroid row caches
# (CLAUDE.md r05), this is driver-side ROW state: immune to
# release_storage and deliberately NOT a plan cache.
_TERM_IMPACTS_CACHE: dict = {}


def _term_impacts_cached(spark, impacts_dir: str, query_terms: tuple):
    key = (impacts_dir, memo.fingerprint(impacts_dir), tuple(query_terms))
    if key not in _TERM_IMPACTS_CACHE:
        _TERM_IMPACTS_CACHE[key] = (
            memo.read_parquet(spark, impacts_dir)
            .where(F.col("term").isin(*query_terms))
            .collect()
        )
    return _TERM_IMPACTS_CACHE[key]


def bm25_topk_maxscore_from_postings(
    spark,
    postings_dir: str,
    impacts_dir: str,
    stats: dict,
    query_terms: tuple[str, ...],
    k: int = TOP_K,
    _stats: dict | None = None,
) -> DataFrame:
    """MaxScore BM25 top-k SERVED from the impact-ordered index —
    provably identical output to bm25_from_postings on the same
    postings (the driver oracle runs full scoring, re-proving the prune
    lossless on real data every gate run):

    1. |q| impact rows (term, df, u_max) collected — bounded driver
       work, the only non-scan cost when the prune fires;
    2. anchor = argmax-u_max term (ties term asc); candidates = docs
       matching the anchor — a pushed `term = anchor` postings scan;
    3. exact-score the candidates only: the term-IN-q postings scan
       semi-joins the anchor doc set BEFORE the doc-keyed aggregate, so
       the shuffle carries |anchor docs|·|q| rows instead of n·|q|;
    4. θ = k-th candidate score; a non-candidate doc scores ≤
       B = Σ_{t≠anchor} u_max(t) (it matches no anchor), so B < θ
       STRICTLY ⇒ the candidate top-k is the global top-k even on ties
       (a tie needs score = θ > B). Otherwise fall back to full serving
       — equal output either way.

    The win condition is a query mixing one rare high-idf term with a
    low-impact tail (the Turtle & Flood regime): anchor postings are
    the rare term's, and the corpus-sized aggregate never runs."""
    postings = memo.read_parquet(spark, postings_dir)
    imp = _term_impacts_cached(spark, impacts_dir, query_terms)
    full = lambda: bm25_from_postings(  # noqa: E731
        spark, postings_dir, stats, query_terms, k
    )
    if not imp:
        return full()
    umax = {r.term: r.u_max for r in imp}
    dfreq = {r.term: r.df for r in imp}
    anchor = min(umax, key=lambda t: (-umax[t], t))
    bound_rest = sum(u for t, u in umax.items() if t != anchor)
    n_docs, sum_dl = stats["n_docs"], stats["sum_dl"]
    # Route decision is DRIVER-SIDE from the already-collected impacts:
    # df(anchor) is known before any plan is built. A common anchor
    # (df > n/8) means the candidate aggregate would approach the full
    # one — skip the two-phase plan outright. The anchor-id broadcast is
    # budget-safe by the same known scalar (8 bytes/id, hard cap), never
    # a guess; past the cap a plain semi join still prunes the shuffle.
    if _stats is not None:
        _stats.update(anchor=anchor, anchor_df=dfreq.get(anchor))
    if dfreq[anchor] * 8 > n_docs:
        if _stats is not None:
            _stats.update(pruned=False, routed_full=True)
        return full()
    anchor_ids = postings.where(F.col("term") == anchor).select("doc_id")
    if dfreq[anchor] <= 2_000_000:  # ≤ ~16 MB of long ids
        anchor_ids = F.broadcast(anchor_ids)
    df_col = F.create_map(
        *[x for t in dfreq for x in (F.lit(t), F.lit(dfreq[t]))]
    )[F.col("term")]
    cand = (
        postings.where(F.col("term").isin(*query_terms))
        .join(anchor_ids, "doc_id", "left_semi")
        .withColumn("df", df_col.cast("long"))
        .withColumn("contrib", _contrib_exprs(n_docs, sum_dl))
    )
    anchor_top = (
        cand.groupBy("doc_id")
        .agg(F.sum("contrib").alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), "doc_id")
        .limit(k)
    )
    top_rows = anchor_top.collect()  # bounded: k rows
    pruned = len(top_rows) == k and bound_rest < top_rows[-1].score_scaled
    if _stats is not None:
        _stats.update(
            pruned=pruned,
            bound_rest=bound_rest,
            theta=top_rows[-1].score_scaled if len(top_rows) == k else None,
        )
    if pruned:
        # rebuild as a DataFrame plan (the caller writes/sinks it):
        # createDataFrame of the k collected rows is a LocalTableScan
        # that PRESERVES the exact (score desc, id asc) order the limit
        # produced — re-sorting 10 local rows with orderBy would add an
        # exchange + AQE job that costs more than the candidate job
    # (measured 0.65 s of the serving path at the 100x sweep)
        return spark.createDataFrame(top_rows, anchor_top.schema)
    return full()
