"""Extension harness queries: text analysis, dedup, similarity search
(the LLM-training-data operators) over `documents` / `embeddings`, each
with a DuckDB oracle mirroring the exact arithmetic (see operators/text.py
/dedup.py/similarity.py for the determinism rules)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mimic2ts_spark import memo
from mimic2ts_spark.session import session_tmpdir

from mimic2ts_spark.operators import dedup as D
from mimic2ts_spark.operators import multimodal as _mm
from mimic2ts_spark.operators import similarity as S
from mimic2ts_spark.operators import text as X


def _sql_sub(sql: str, old: str, new: str, count: int = -1) -> str:
    """str.replace with a drift guard: oracle SQL composed by textual
    substitution must FAIL LOUDLY if the target substring ever drifts —
    a silent no-op would compare the derived query against the RAW
    oracle, and on a corpus without the distinguishing rows the gate
    hash could still pass, hiding the broken oracle (ADVICE r08)."""
    assert old in sql, f"oracle-SQL substitution target drifted: {old[:80]!r}"
    return sql.replace(old, new, count)


def _spread_src(spark, path):
    """The resolved, spread read of `path`. Memoized per (session, file
    content): ensure_parallelism costs an optimizer pass and an RDD
    partition probe per call, and its decision is fixed for a fixed
    file and session."""
    return memo.plan(spark, path, _spread)


def _spread(spark, path):
    from mimic2ts_spark.operators.spread import ensure_parallelism

    return ensure_parallelism(memo.read_parquet(spark, path))


def _docs(spark, sf_dir):
    # spread: the doc corpus is compute-dense per byte (md5 token hashing)
    # and small files otherwise land in one split → one busy core
    return _spread_src(spark, f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return _spread_src(spark, f"{sf_dir}/embeddings.parquet")


# --- text analysis ---------------------------------------------------------


def q_text_stats(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        X.mean_token_len(t).alias("mean_tok_len"),
        X.stopword_ratio(t).alias("stop_ratio"),
        X.bpe_ish_token_count(t).alias("n_bpe_tokens"),
    )


Q_TEXT_STATS_SQL = f"""
SELECT doc_id,
       {X.SQL_TOKEN_COUNT.format(text='text')} AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST({X.sql_char_sum('text')} AS DOUBLE)
         / CAST({X.SQL_TOKEN_COUNT.format(text='text')} AS DOUBLE) AS mean_tok_len,
       CAST({X.SQL_STOP_HITS.format(text='text')} AS DOUBLE)
         / CAST({X.SQL_TOKEN_COUNT.format(text='text')} AS DOUBLE) AS stop_ratio,
       CAST(len(regexp_extract_all(text, '{X.BPE_ISH_PATTERN}')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""


def q_text_quality(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        X.quality_score(t).alias("quality"),
        X.lang_id(t).alias("lang_pred"),
    )


Q_TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       least(1.0, CAST({X.SQL_TOKEN_COUNT.format(text='text')} AS DOUBLE) / 200.0) * 0.5
       + least(1.0, (CAST({X.SQL_STOP_HITS.format(text='text')} AS DOUBLE)
                     / CAST({X.SQL_TOKEN_COUNT.format(text='text')} AS DOUBLE)) * 4.0) * 0.5
         AS quality,
       CASE WHEN {X.SQL_STOP_HITS.format(text='text')} >= 2 THEN 'en' ELSE 'und' END AS lang_pred
FROM documents
"""


def q_text_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", X.fingerprint(F.col("text")).alias("fp")
    )


Q_TEXT_FINGERPRINT_SQL = f"SELECT doc_id, {X.sql_fingerprint('text')} AS fp FROM documents"


# --- dedup -----------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir))


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_dedup_minhash(spark, sf_dir):
    # registered X2 oracle BASELINE — the dup guard warns, not raises.
    # r14: served from the shared per-corpus disk artifact (_raw_pairs
    # — value-identical by deterministic derivation; the oracle still
    # derives from scratch), the q_dedup_pipeline/_canon_pairs pattern.
    return _raw_pairs(spark, sf_dir, threshold=0.8)


_MH_COLS = ",\n       ".join(
    f"{D.sql_minhash('codes', j)} AS mh{j}" for j in range(D.NUM_HASHES)
)
_BANDED = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, {D.sql_band_key(b)} AS key FROM sig"
    for b in range(D.BANDS)
)
Q_DEDUP_MINHASH_SQL = f"""
WITH tok AS (
    SELECT doc_id, {D.sql_token_codes('text')} AS tc FROM documents
),
codes_t AS (
    SELECT doc_id, {D.sql_shingle_codes_from_tc('tc')} AS codes FROM tok
),
codes2 AS (SELECT * FROM codes_t WHERE len(codes) > 0),
sig AS (
    SELECT doc_id, codes,
       {_MH_COLS}
    FROM codes2
),
banded AS (
{_BANDED}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           {D.SQL_JACCARD.format(a='ca.codes', b='cb.codes')} AS jaccard
    FROM cand c
    JOIN codes2 ca ON ca.doc_id = c.doc_a
    JOIN codes2 cb ON cb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""


# The derived relations below are disk artifacts (memo.artifact): the
# driver gate releases Spark storage between queries, so a plan-cache
# memo would rebuild per consumer, while disk pays the one-pass build
# once per corpus per process. Each derivation is deterministic and its
# parquet round-trip lossless, so every consumer's oracle hash is
# unchanged; the oracles still derive from scratch.


# The canonical near-dup pair relation. Consumers: q_dedup_pipeline (the
# pairs themselves), q_graph_communities_canonical (edge list),
# q_retrieval_map (ground truth), _dedup_cluster_labels (CC input).
def _canon_pairs(spark, sf_dir, threshold: float = 0.8):
    def build(out):
        # canonical_near_dup_pairs ≡ canonical_docs → minhash_lsh_pairs
        # at the same threshold with the dup probe skipped (canonicals
        # are distinct on the probe key by construction), so building
        # over the shared canonical-docs artifact gives the same relation
        # without re-running the canonicalization.
        D.minhash_lsh_pairs(
            _canon_docs(spark, sf_dir),
            threshold=threshold,
            on_duplicates="ignore",
        ).write.mode("overwrite").parquet(out)
        return out

    inputs = [f"{sf_dir}/documents.parquet"]
    path = memo.artifact("canon_pairs", inputs, build, sf_dir, threshold)
    return memo.read_parquet(spark, path)


# The RAW minhash-LSH pair relation: q_dedup_minhash registers these
# pairs and q_graph_communities consumes them as its edge list. The
# dup-guard probe (warn) runs once inside the build.
def _raw_pairs(spark, sf_dir, threshold: float = 0.8):
    def build(out):
        D.minhash_lsh_pairs(
            _docs(spark, sf_dir), threshold=threshold, on_duplicates="warn"
        ).write.mode("overwrite").parquet(out)
        return out

    inputs = [f"{sf_dir}/documents.parquet"]
    path = memo.artifact("raw_pairs", inputs, build, sf_dir, threshold)
    return memo.read_parquet(spark, path)


# The raw EMBEDDING LSH pair relation: q_dedup_embedding_lsh registers
# it and q_decontaminate_semantic projects its cross-set rows.
def _raw_emb_pairs(spark, sf_dir, threshold: float = 0.45):
    def build(out):
        S.embedding_near_dup_pairs_lsh(
            _embs(spark, sf_dir), threshold=threshold, on_duplicates="warn"
        ).write.mode("overwrite").parquet(out)
        return out

    inputs = [f"{sf_dir}/embeddings.parquet"]
    path = memo.artifact("raw_emb_pairs", inputs, build, sf_dir, threshold)
    return memo.read_parquet(spark, path)


# The md5-CANONICAL documents relation (dedup.canonical_docs).
# Consumers: q_jl_projection, q_dedup_recall, q_dedup_winnow,
# q_dedup_containment_canonical, q_retrieval_mrr, q_retrieval_map and
# the _canon_pairs build.
def _canon_docs(spark, sf_dir):
    def build(out):
        D.canonical_docs(_docs(spark, sf_dir)).write.mode("overwrite").parquet(
            out
        )
        return out

    inputs = [f"{sf_dir}/documents.parquet"]
    path = memo.artifact("canon_docs", inputs, build, sf_dir)
    # spread on read: canonical docs feed the same compute-dense md5 /
    # token hashing passes as _docs (the r01 one-split trap)
    return _spread_src(spark, path)


# The md5-CANONICAL vectors relation (kmeans.canonical_vectors).
# Consumers: q_dedup_embedding_lsh_canonical, q_dedup_semantic_canonical
# and the q_ann_knn_graph_canonical graph build.
def _canon_vecs(spark, sf_dir):
    from mimic2ts_spark.operators.kmeans import canonical_vectors

    def build(out):
        canonical_vectors(_embs(spark, sf_dir)).write.mode(
            "overwrite"
        ).parquet(out)
        return out

    inputs = [f"{sf_dir}/embeddings.parquet"]
    path = memo.artifact("canon_vecs", inputs, build, sf_dir)
    # spread on read: canonical vectors feed the same compute-dense
    # quantize/md5/hyperplane passes as _embs (the r01 one-split trap)
    return _spread_src(spark, path)


# (postings, doclens) of the CANONICAL inverted index the panel-BM25
# evals (q_retrieval_mrr, q_retrieval_map) serve from, built by the
# `maintain canon-postings` artifact builder: postings over the
# canonical docs, and doclens carrying EVERY canonical doc (token-less
# docs have no postings rows but still count in the BM25 totals).
def _canon_postings(spark, sf_dir):
    from mimic2ts_spark.operators.search import (
        build_canon_postings_artifact,
        load_canon_postings,
    )

    def build(out):
        build_canon_postings_artifact(spark, out, _docs(spark, sf_dir))
        return out

    inputs = [f"{sf_dir}/documents.parquet"]
    path = memo.artifact("canon_postings", inputs, build, sf_dir)
    return load_canon_postings(spark, path)


def q_dedup_pipeline(spark, sf_dir):
    """Composed recipe: exact dedup -> MinHash-LSH near-dup on canonical
    docs (see canonical_near_dup_pairs). Served from the shared
    per-corpus disk artifact (_canon_pairs — value-identical by
    deterministic derivation; the oracle still derives from scratch)."""
    return _canon_pairs(spark, sf_dir, threshold=0.8)


Q_DEDUP_PIPELINE_SQL = _sql_sub(
    Q_DEDUP_MINHASH_SQL,
    "FROM documents",
    """FROM (SELECT d.* FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
            ON k.doc_id = d.doc_id)""",
)


def q_dedup_ngram(spark, sf_dir):
    # registered X4 oracle BASELINE — the dup guard warns, not raises
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.8, on_duplicates="warn"
    )


# Oracle uses the same EXACT candidate pruning as the Spark AllPairs
# implementation (dedup.py ngram_jaccard_pairs): (1) length filter —
# J >= t implies min(|A|,|B|) >= ceil(t * max(|A|,|B|)); (2) prefix
# filter — on a globally sorted code order, any pair with
# |A∩B| >= ceil(t*|A|) must collide inside the first
# |A| - ceil(t*|A|) + 1 codes. Both are supersets of the answer, and
# the final exact-Jaccard verify keeps only J >= t, so the result is
# identical to the naive all-pairs join (which took 37 s of the 48 s
# total DuckDB gate budget at sf0.01 — this form runs in well under a
# second).
Q_DEDUP_NGRAM_SQL = f"""
WITH tok AS (
    SELECT doc_id, {D.sql_token_codes('text')} AS tc FROM documents
),
codes_t AS (
    SELECT doc_id,
           list_sort(list_distinct({D.sql_shingle_codes_from_tc('tc')})) AS codes
    FROM tok
),
codes2 AS (
    SELECT doc_id, codes, len(codes) AS n FROM codes_t WHERE len(codes) > 0
),
pref AS (
    SELECT doc_id, n,
           unnest(codes[1 : n - CAST(ceil(0.8 * n) AS BIGINT) + 1]) AS code
    FROM codes2
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pref a JOIN pref b
      ON a.code = b.code AND a.doc_id < b.doc_id
     AND least(a.n, b.n) >= CAST(ceil(0.8 * greatest(a.n, b.n)) AS BIGINT)
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           {D.SQL_JACCARD.format(a='ca.codes', b='cb.codes')} AS jaccard
    FROM cand c
    JOIN codes2 ca ON ca.doc_id = c.doc_a
    JOIN codes2 cb ON cb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""


def q_dedup_recall(spark, sf_dir):
    """X167 — dedup recall eval (the X156 eval story for the dedup
    family): MinHash-LSH banding (X2) scored against the EXACT AllPairs
    n-gram Jaccard reference (X4, completeness property-tested), so the
    banding dials (NUM_HASHES x BANDS at threshold 0.8) get a measured
    candidate-recall instead of a theoretical S-curve. Reported per
    exact-jaccard decile — banding misses concentrate just above the
    threshold, exactly where the decile breakdown shows it. recall =
    n_hit / n_exact as one cast-division on per-group counts (n_exact
    > 0 by construction: groups exist only from exact rows). Both legs
    run on CANONICAL docs (exact-first doctrine): byte-identical copies
    collide in EVERY band, so they measure nothing about banding while
    making both legs Θ(cluster²) on duplicate-heavy corpora — over
    canonicals the eval stays ~flat at the 10×/100× sweeps AND scores
    only the pairs banding can actually miss."""
    # r14: the canonical slim projection feeds THREE independent legs
    # (ngram / minhash / simhash) — read the shared per-corpus
    # canonical-docs artifact (_canon_docs) and persist the slim
    # projection once (guide §5: cache reused-and-expensive inputs;
    # the legs' internal persists are downstream derivations, not
    # canonically identical plans, so no CacheManager eviction).
    docs = _canon_docs(spark, sf_dir).select("doc_id", "text").persist()
    # canonical docs are distinct on the probe key by construction —
    # skip the dup-guard probe job on all three legs
    exact = D.ngram_jaccard_pairs(docs, threshold=0.8, on_duplicates="ignore")
    # r14: minhash-over-canonicals IS the _canon_pairs relation
    # (canonical_near_dup_pairs ≡ canonical_docs → minhash_lsh_pairs at
    # the same threshold) — read the shared per-corpus disk artifact
    # instead of re-running the banding pipeline inside this eval.
    lsh = (
        _canon_pairs(spark, sf_dir, threshold=0.8)
        .select("doc_a", "doc_b")
        .withColumn("hit_mh", F.lit(1))
    )
    sh = (
        D.simhash_pairs(docs, max_hamming=3, on_duplicates="ignore")
        .select("doc_a", "doc_b")
        .withColumn("hit_sh", F.lit(1))
    )
    return (
        exact.join(lsh, ["doc_a", "doc_b"], "left")
        .join(sh, ["doc_a", "doc_b"], "left")
        .groupBy(
            F.expr("CAST(floor(jaccard * 10) AS BIGINT)").alias("jacc_decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit_mh").cast("long").alias("n_hit_minhash"),
            F.count("hit_sh").cast("long").alias("n_hit_simhash"),
        )
        .withColumn(
            "recall_minhash",
            F.col("n_hit_minhash").cast("double") / F.col("n_exact").cast("double"),
        )
        .withColumn(
            "recall_simhash",
            F.col("n_hit_simhash").cast("double") / F.col("n_exact").cast("double"),
        )
    )




def q_dedup_incremental(spark, sf_dir):
    """Delta-vs-corpus near-dup (the production dedup cadence): docs
    with doc_id % 10 == 0 play the incoming shard, the rest the
    accepted corpus; only (new, existing) pairs are emitted. Exact
    AllPairs pruning (sorted-prefix postings equi-join + length filter
    + exact verify) mirrored by the oracle."""
    return D.incremental_ngram_pairs(
        _docs(spark, sf_dir), is_new=(F.col("doc_id") % 10 == 0), threshold=0.8
    )


Q_DEDUP_INCREMENTAL_SQL = f"""
WITH tok AS (
    SELECT doc_id, {D.sql_token_codes('text')} AS tc FROM documents
),
codes_t AS (
    SELECT doc_id,
           list_sort(list_distinct({D.sql_shingle_codes_from_tc('tc')})) AS codes
    FROM tok
),
codes2 AS (
    SELECT doc_id, (doc_id % 10 = 0) AS is_new, codes, len(codes) AS n
    FROM codes_t WHERE len(codes) > 0
),
pref AS (
    SELECT doc_id, is_new, n,
           unnest(codes[1 : n - CAST(ceil(0.8 * n) AS BIGINT) + 1]) AS code
    FROM codes2
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
    FROM pref a JOIN pref b
      ON a.code = b.code AND a.is_new AND NOT b.is_new
     AND least(a.n, b.n) >= CAST(ceil(0.8 * greatest(a.n, b.n)) AS BIGINT)
),
pairs AS (
    SELECT c.doc_new, c.doc_old,
           {D.SQL_JACCARD.format(a='ca.codes', b='cb.codes')} AS jaccard
    FROM cand c
    JOIN codes2 ca ON ca.doc_id = c.doc_new
    JOIN codes2 cb ON cb.doc_id = c.doc_old
)
SELECT doc_new, doc_old, jaccard FROM pairs WHERE jaccard >= 0.8
"""


def q_ingest_admission(spark, sf_dir):
    """X137 — the incremental-ingest ADMISSION CONTROL decision table,
    composing the production ordering (exact first, then fuzzy —
    corpus.py's load-bearing stage order) at the delta cadence: for
    every incoming doc (doc_id % 10 == 0), decide
    reject_exact      in-batch exact duplicate (not its group's min id),
    reject_near_dup   n-gram-Jaccard near-dup of the accepted corpus
                      (delta-vs-corpus AllPairs join, never corpus²),
    admit             otherwise → eligible to merge into the versioned
                      corpus (tests/test_extensions.py drives the merge
                      end-to-end; the report itself is pure/plan-clean).

    The exact gate PRUNES the fuzzy probe side — BOTH sides: exact-
    rejected batch docs never enter the n-gram candidate join (their
    decision is sealed by precedence), and the CORPUS side keeps one
    md5-canonical per exact group, which is REPORT-PRESERVING by a
    small theorem: identical text ⇒ identical shingle sets ⇒ a new doc
    has a near-dup among corpus copies iff it has one among their
    canonicals. On the 100-copy adversarial corpus this removes ~99% of
    both sides of the candidate join (31.8 s → seconds at the 100×
    sweep), the ordering lesson corpus.py encodes applied inside one
    query."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    batch = d.where(F.col("doc_id") % 10 == 0)
    keep = F.min("doc_id").over(W.partitionBy(F.md5(F.col("text"))))
    # r15 re-adjudication (VERDICT r14 #3): the r14 persist of `keyed`
    # won only 3/5 fresh interleaved pairs (keep min 1.096 vs revert
    # 1.091 s) while the driver had measured it as a regression — the
    # materialization cost of a cold persist cancels the saved window
    # re-run at this size. Reverted per the ≥4/5 rule.
    keyed = batch.select("doc_id", keep.alias("_keep"))
    rejected_exact = keyed.where(F.col("doc_id") != F.col("_keep")).select("doc_id")
    corpus_dups = (
        d.where(F.col("doc_id") % 10 != 0)
        .select("doc_id", keep.alias("_keep"))
        .where(F.col("doc_id") != F.col("_keep"))
        .select("doc_id")
    )
    d_pruned = d.join(
        rejected_exact.unionByName(corpus_dups), "doc_id", "left_anti"
    )
    near_new = (
        D.incremental_ngram_pairs(
            d_pruned, is_new=(F.col("doc_id") % 10 == 0), threshold=0.8
        )
        .select("doc_new")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        keyed.join(near_new, F.col("doc_id") == F.col("doc_new"), "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("_keep"), F.lit("reject_exact"))
            .when(F.col("_near").isNotNull(), F.lit("reject_near_dup"))
            .otherwise(F.lit("admit"))
            .alias("decision"),
        )
    )


def _q_ingest_admission_sql():
    # mirror the two-sided pruning: the near CTE runs on documents
    # minus the exact-rejected batch docs (decision sealed by
    # precedence) and minus corpus exact-duplicates (report-preserving
    # — identical text has identical shingle sets)
    pruned_near = _sql_sub(
        Q_DEDUP_INCREMENTAL_SQL, "FROM documents", "FROM docs_pruned"
    )
    assert "docs_pruned" in pruned_near  # the tok CTE's single source
    return f"""
WITH keepers AS (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
    FROM documents WHERE doc_id % 10 = 0
),
corpus_keepers AS (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
    FROM documents WHERE doc_id % 10 != 0
),
docs_pruned AS (
    SELECT d.* FROM documents d
    LEFT JOIN keepers k ON k.doc_id = d.doc_id
    LEFT JOIN corpus_keepers ck ON ck.doc_id = d.doc_id
    WHERE (d.doc_id % 10 = 0 AND k.doc_id = k.keep)
       OR (d.doc_id % 10 != 0 AND ck.doc_id = ck.keep)
),
near AS ({pruned_near}),
near_ids AS (SELECT DISTINCT doc_new FROM near)
SELECT k.doc_id,
       CASE WHEN k.doc_id != k.keep THEN 'reject_exact'
            WHEN n.doc_new IS NOT NULL THEN 'reject_near_dup'
            ELSE 'admit' END AS decision
FROM keepers k LEFT JOIN near_ids n ON n.doc_new = k.doc_id
"""


Q_INGEST_ADMISSION_SQL = _q_ingest_admission_sql()


def q_dedup_ngram_blocked(spark, sf_dir):
    """ngram_jaccard_pairs with a blocking key (`source`): buckets are
    additionally bounded by the block — the unconditional hot-bucket
    dial for corpora whose boilerplate exceeds the sampled hot set.
    Pairs never span blocks (mirrored in the oracle)."""
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        block_col="source",
        threshold=0.8,
        on_duplicates="warn",  # registered oracle baseline
    )


Q_DEDUP_NGRAM_BLOCKED_SQL = f"""
WITH tok AS (
    SELECT doc_id, source, {D.sql_token_codes('text')} AS tc FROM documents
),
codes_t AS (
    SELECT doc_id, source,
           list_distinct({D.sql_shingle_codes_from_tc('tc')}) AS codes
    FROM tok
),
codes2 AS (SELECT * FROM codes_t WHERE len(codes) > 0),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {D.SQL_JACCARD.format(a='a.codes', b='b.codes')} AS jaccard
    FROM codes2 a JOIN codes2 b
      ON a.doc_id < b.doc_id AND a.source = b.source
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""


def q_dedup_simhash(spark, sf_dir):
    # registered X3 oracle BASELINE — the dup guard warns, not raises
    return D.simhash_pairs(
        _docs(spark, sf_dir), max_hamming=3, on_duplicates="warn"
    )


Q_DEDUP_SIMHASH_SQL = f"""
WITH sig AS (
    SELECT doc_id, {D.sql_simhash('text')} AS sig FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


# the full ngram and minhash WITH-queries compose as CTE bodies
# (DuckDB accepts a WITH-query wrapped as a CTE body; MATERIALIZED so
# neither leg re-runs per reference — the r6 CTE-inlining lesson);
# both legs read the canonical-docs subquery (the pipeline-SQL rewrite).
_CANON_FROM = """FROM (SELECT d.* FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
            ON k.doc_id = d.doc_id)"""
Q_DEDUP_RECALL_SQL = f"""
WITH exact AS MATERIALIZED ({_sql_sub(Q_DEDUP_NGRAM_SQL, "FROM documents", _CANON_FROM)}),
lsh AS MATERIALIZED ({_sql_sub(Q_DEDUP_MINHASH_SQL, "FROM documents", _CANON_FROM)}),
sh AS MATERIALIZED ({_sql_sub(Q_DEDUP_SIMHASH_SQL, "FROM documents", _CANON_FROM)})
SELECT CAST(floor(e.jaccard * 10) AS BIGINT) AS jacc_decile,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(l.doc_a) AS BIGINT) AS n_hit_minhash,
       CAST(count(s.doc_a) AS BIGINT) AS n_hit_simhash,
       CAST(count(l.doc_a) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_minhash,
       CAST(count(s.doc_a) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_simhash
FROM exact e
LEFT JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
LEFT JOIN sh s ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b
GROUP BY 1
"""



def q_dedup_embedding(spark, sf_dir):
    return S.embedding_near_dup_pairs(_embs(spark, sf_dir), threshold=0.45)


Q_DEDUP_EMBEDDING_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {S.sql_cosine('a.embedding', 'b.embedding')} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {S.sql_cosine('a.embedding', 'b.embedding')} >= 0.45
"""


def q_dedup_embedding_lsh(spark, sf_dir):
    """Beyond-broadcast embedding near-dup: LSH-bucketed candidate join +
    exact cosine verify (no collect, corpus size unbounded) — the scale
    path q_dedup_embedding's broadcast form caps out of."""
    # registered X24 oracle BASELINE — the dup guard warns, not raises.
    # r14: served from the shared per-corpus disk artifact
    # (_raw_emb_pairs — q_decontaminate_semantic projects the same
    # relation; value-identical, the oracle derives from scratch).
    return _raw_emb_pairs(spark, sf_dir, threshold=0.45)


def q_dedup_embedding_lsh_canonical(spark, sf_dir):
    """X203 — exact-first LSH embedding near-dup (completing the
    exact-first family for the LAST raw pair query without a registered
    twin: X24, and the registered remedy for X202's dup-heavy output
    wall): byte-identical vectors collapse to min-id canonicals, THEN
    the LSH-bucketed candidate join + exact cosine verify runs over
    canonicals only — identical vectors co-bucket under every
    deterministic hash (r07 lesson), so a c-copy cluster pays Θ(c²)
    pairs in any banded stage unless removed first; output becomes true
    cross-content pairs, exact groups reconstruct the rest."""
    # r14: canonicals from the shared per-corpus disk artifact
    # (_canon_vecs — value-identical by deterministic derivation)
    canon = _canon_vecs(spark, sf_dir)
    # canonicals are distinct on the probe key by construction — skip
    return S.embedding_near_dup_pairs_lsh(
        canon, threshold=0.45, on_duplicates="ignore"
    )


_LSH_BANDED_DUP = "\nUNION ALL\n".join(
    f"SELECT vec_id, embedding, {t} AS tbl, {S.sql_lsh_bucket('embedding', t)} AS bucket FROM e"
    for t in range(S.LSH_TABLES)
)
Q_DEDUP_EMBEDDING_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
banded AS (
{_LSH_BANDED_DUP}
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM banded a JOIN banded b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       {S.sql_cosine('ea.embedding', 'eb.embedding')} AS cosine
FROM cand c
JOIN e ea ON ea.vec_id = c.vec_a
JOIN e eb ON eb.vec_id = c.vec_b
WHERE {S.sql_cosine('ea.embedding', 'eb.embedding')} >= 0.45
"""


def _lsh_canon_sql():
    from mimic2ts_spark.operators.kmeans import sql_canonical_vectors

    # the X24 chain verbatim with its base CTE swapped to the canonical
    # subquery (the X160/X199 hoist pattern; MATERIALIZED — the banded
    # UNION references it once per LSH table)
    return _sql_sub(
        Q_DEDUP_EMBEDDING_LSH_SQL,
        "WITH e AS (SELECT vec_id, embedding FROM embeddings),",
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM "
        f"{sql_canonical_vectors()} c),",
        1,
    )


Q_DEDUP_EMBEDDING_LSH_CANON_SQL = _lsh_canon_sql()


# --- similarity search -----------------------------------------------------


def q_ann_bruteforce(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    return S.brute_force_topk(embs, embs.where(F.col("vec_id") < 5), k=10)


Q_ANN_BRUTEFORCE_SQL = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           {S.sql_cosine('q.embedding', 'v.embedding')} AS cosine
    FROM q, v WHERE q.vec_id <> v.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
"""


def q_ann_lsh(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    return S.lsh_topk(embs, embs.where(F.col("vec_id") < 5), k=5)


_LSH_BANDED_V = "\nUNION ALL\n".join(
    f"SELECT vec_id, embedding, {t} AS tbl, {S.sql_lsh_bucket('embedding', t)} AS bucket FROM e"
    for t in range(S.LSH_TABLES)
)
Q_ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
banded AS (
{_LSH_BANDED_V}
),
qb AS (SELECT * FROM banded WHERE vec_id < 5),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
    FROM qb q JOIN banded v ON q.tbl = v.tbl AND q.bucket = v.bucket
    WHERE q.vec_id <> v.vec_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           {S.sql_cosine('eq.embedding', 'ev.embedding')} AS cosine
    FROM cand c
    JOIN e eq ON eq.vec_id = c.query_id
    JOIN e ev ON ev.vec_id = c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


N_BALANCED_SHARDS = 8


def q_shard_balanced(spark, sf_dir):
    """X174 — token-balanced shard assignment: writers want N output
    shards with near-equal TOKEN mass, not near-equal doc counts (doc
    sizes are heavy-tailed, and hash sharding balances only in
    expectation). Size-descending snake round-robin — the distributed
    LPT bin packing — over a SCALE-SAFE global rank: per-weight-group
    offsets (a tiny distinct-weights cumulative) + row_number
    partitioned by the weight value, so no single-partition window ever
    materializes the corpus; the oracle runs the naive global
    row_number and must produce identical shard masses (pytest also
    pins rank equality and that the snake beats md5-hash sharding's
    token imbalance). Output: per-shard (n_docs, sum_tokens)."""
    from mimic2ts_spark.operators.split import distributed_rank, snake_shard
    from mimic2ts_spark.operators.text import token_count

    docs = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("w")
    )
    ranked = distributed_rank(docs, weight_col="w", id_col="doc_id")
    return (
        ranked.withColumn("shard", snake_shard(F.col("rank"), N_BALANCED_SHARDS))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("sum_tokens"),
        )
    )


def _q_shard_balanced_sql():
    from mimic2ts_spark.operators.text import SQL_TOKENS

    n = N_BALANCED_SHARDS
    toks = SQL_TOKENS.format(text="text")
    return f"""
WITH t AS (
    SELECT doc_id, CAST(len({toks}) AS BIGINT) AS w FROM documents
),
r AS (
    SELECT doc_id, w,
           row_number() OVER (ORDER BY w DESC, doc_id) AS rnk
    FROM t
),
s AS (
    SELECT w,
           CAST(CASE WHEN (rnk - 1) % {2 * n} < {n} THEN (rnk - 1) % {2 * n}
                     ELSE {2 * n - 1} - (rnk - 1) % {2 * n} END AS BIGINT) AS shard
    FROM r
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS sum_tokens
FROM s GROUP BY shard
"""


Q_SHARD_BALANCED_SQL = _q_shard_balanced_sql()


def q_kcenter_coreset(spark, sf_dir):
    """X173 — greedy k-center coreset (Gonzalez farthest-point,
    2-approx): an 8-vector diversity-maximizing selection over the
    embedding corpus — corpus-level data selection (seed-set picking,
    eval-panel construction), the global companion of per-query MMR.
    Integer-exact quantized distances; each round is one running-min
    tightening pass + one bounded argmax; oracle unrolls the identical
    greedy as CTE steps."""
    from mimic2ts_spark.operators.kmeans import kcenter_coreset

    return kcenter_coreset(_embs(spark, sf_dir))


def _q_kcenter_sql():
    from mimic2ts_spark.operators.kmeans import sql_kcenter_coreset

    return sql_kcenter_coreset("embeddings")


Q_KCENTER_CORESET_SQL = _q_kcenter_sql()


def q_ann_lsh_multiprobe(spark, sf_dir):
    """X171 — multi-probe LSH ANN (Lv et al. 2007): queries probe the
    base bucket plus the 2 lowest-|projection| single-bit flips per
    table, recovering most of an extra hash table's recall with ZERO
    index growth (the corpus keeps its base buckets — multi-probe is
    query-side only). Candidates are a SUPERSET of q_ann_lsh's, so
    recall vs the exact panel is monotone non-decreasing (theorem,
    pytest-pinned with the measured gain); cost grows by at most
    (1+nprobe)x candidates and the shuffle stays on (table, bucket)."""
    embs = _embs(spark, sf_dir)
    return S.lsh_multiprobe_topk(embs, embs.where(F.col("vec_id") < 5), k=5)


_QPROJ = "\nUNION ALL\n".join(
    f"SELECT vec_id, {t} AS tbl, {p} AS plane, "
    f"({S.sql_lsh_proj('embedding', t, p)}) AS proj FROM qe"
    for t in range(S.LSH_TABLES)
    for p in range(S.LSH_PLANES)
)
Q_ANN_LSH_MULTIPROBE_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
qe AS (SELECT vec_id, embedding FROM e WHERE vec_id < 5),
banded AS (
{_LSH_BANDED_V}
),
qproj AS MATERIALIZED (
{_QPROJ}
),
qbase AS (
    SELECT vec_id, tbl,
           CAST(sum(CASE WHEN proj > 0 THEN (1 << plane) ELSE 0 END) AS BIGINT)
               AS bucket
    FROM qproj GROUP BY vec_id, tbl
),
flips AS (
    SELECT vec_id, tbl, plane,
           row_number() OVER (PARTITION BY vec_id, tbl
                              ORDER BY abs(proj), plane) AS rn
    FROM qproj
),
qprobes AS (
    SELECT vec_id, tbl, bucket FROM qbase
    UNION ALL
    SELECT f.vec_id, f.tbl, xor(b.bucket, CAST((1 << f.plane) AS BIGINT)) AS bucket
    FROM flips f JOIN qbase b ON b.vec_id = f.vec_id AND b.tbl = f.tbl
    WHERE f.rn <= {S.LSH_NPROBE}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
    FROM qprobes q JOIN banded v ON q.tbl = v.tbl AND q.bucket = v.bucket
    WHERE q.vec_id <> v.vec_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           {S.sql_cosine('eq.embedding', 'ev.embedding')} AS cosine
    FROM cand c
    JOIN e eq ON eq.vec_id = c.query_id
    JOIN e ev ON ev.vec_id = c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


# X180/X181 — the k-NN graph is trained state shared by nine
# graph-family queries. Like the X177 search indexes (and unlike the
# CC-labels plan cache) it is a disk artifact: the gate's per-query
# release_storage() cannot force a rebuild, so only the FIRST graph
# query per gate run pays the ~15 s build. Deterministic build ⇒ the
# artifact is byte-stable and every oracle hash is unaffected.
#
# The graph artifact under memo key `key` (default `sf_dir`); `build`
# returns the graph DataFrame (default: the registered X180 oracle
# BASELINE, whose dup guard warns instead of raising). Builds may read
# either corpus table, so both are fingerprinted.
def _knn_graph(spark, sf_dir, key=None, build=None):
    from mimic2ts_spark.operators.knn import knn_graph

    def write(out):
        g = (
            build()
            if build is not None
            else knn_graph(_embs(spark, sf_dir), on_duplicates="warn")
        )
        g.write.mode("overwrite").parquet(out)
        return out

    inputs = [f"{sf_dir}/embeddings.parquet", f"{sf_dir}/documents.parquet"]
    path = memo.artifact("knn_graph", inputs, write, key or sf_dir)
    return memo.read_parquet(spark, path)


def q_ann_knn_graph(spark, sf_dir):
    """X180 — corpus k-NN graph via NN-Descent (Dong et al., WWW 2011):
    deterministic md5-random start graph, 3 rounds of 'compare each
    node with its neighbors' neighbors, keep the k closest' — two
    corpus joins + one windowed top-k per round, O(n·k²) candidates
    regardless of corpus size (the bulk-synchronous alternative to
    HNSW's sequential inserts). Integer-exact quantized L2²; the
    oracle unrolls the identical rounds; graph QUALITY (recall@8 vs
    the true k-NN graph: 0.72 at sf0.001) is pinned by a python-replay
    pytest, which the algorithm-sharing oracle cannot judge."""
    g = _knn_graph(spark, sf_dir)
    return g.select(F.col("id").alias("vec_id"), "nbr", "d2", "rank")


def _q_ann_knn_graph_sql():
    from mimic2ts_spark.operators.knn import sql_knn_graph

    return sql_knn_graph("embeddings")


Q_ANN_KNN_GRAPH_SQL = _q_ann_knn_graph_sql()


def q_ann_knn_graph_canonical(spark, sf_dir):
    """X199 — exact-first kNN-graph build (the registered form of the
    README's dup-heavy routing for X180, same composition family as
    X157/X158/X160): byte-identical vectors collapse to min-id
    canonicals FIRST, then NN-Descent builds the graph over canonicals
    only. Identical vectors are their own nearest neighbors — a c-copy
    cluster wastes its whole neighbor list on copies and pays Θ(c·k²)
    candidate work for zero information; over canonicals the graph
    stores only cross-content structure and exact groups reconstruct
    the copies' neighborhoods by label lookup. Own disk-memo key (the
    raw X180 artifact stays the oracle baseline)."""
    from mimic2ts_spark.operators.knn import knn_graph

    g = _knn_graph(
        spark,
        sf_dir,
        key=sf_dir + ":canon",
        # canonicals are distinct on the probe key BY CONSTRUCTION —
        # skip the probe job; r14: canonicals from the shared
        # per-corpus disk artifact (_canon_vecs)
        build=lambda: knn_graph(
            _canon_vecs(spark, sf_dir), on_duplicates="ignore"
        ),
    )
    return g.select(F.col("id").alias("vec_id"), "nbr", "d2", "rank")


def _q_ann_knn_graph_canonical_sql():
    from mimic2ts_spark.operators.kmeans import sql_canonical_vectors
    from mimic2ts_spark.operators.knn import sql_knn_graph

    inner = sql_knn_graph("canon")
    return _sql_sub(
        inner,
        "WITH ",
        f"WITH canon AS MATERIALIZED (SELECT * FROM {sql_canonical_vectors()} c),\n",
        1,
    )


Q_ANN_KNN_GRAPH_CANONICAL_SQL = _q_ann_knn_graph_canonical_sql()


def q_ann_knn_beam(spark, sf_dir):
    """X181 — graph-ANN serving: fixed-hop beam search over the X180
    k-NN graph (4 md5-min entry seeds, beam 32, 4 hops — measured
    recall@5 0.94 on the sf0.001 panel, above multi-probe LSH's 0.84).
    Per hop: the tiny frontier broadcasts against the graph and the
    coordinate table (both stay partitioned), one distinct, one int64
    kernel rescore, one per-query top-beam (WindowGroupLimit). The
    graph artifact is the memoized X180 state."""
    embs = _embs(spark, sf_dir)
    from mimic2ts_spark.operators.knn import knn_beam_topk

    return knn_beam_topk(
        embs, embs.where(F.col("vec_id") < 32), _knn_graph(spark, sf_dir)
    )


def _q_ann_knn_beam_sql():
    from mimic2ts_spark.operators.knn import sql_knn_beam_topk

    return sql_knn_beam_topk("embeddings", query_pred="id < 32")


Q_ANN_KNN_BEAM_SQL = _q_ann_knn_beam_sql()


def q_graph_seed_distance(spark, sf_dir):
    """X183 — multi-source BFS seed distance over the X180 k-NN graph:
    every vector scored by its minimum hop count from 8 md5-min
    trusted seeds through the undirected graph (-1 = unreached within
    4 hops) — trusted-seed proximity filtering through embedding
    space, the graph-traversal companion of PageRank/LPA. Whole-set
    min-propagation: one edge join + one min-groupBy per round,
    checkpointed; the graph is the memoized X180 artifact."""
    from mimic2ts_spark.operators.knn import seed_hop_distance

    return seed_hop_distance(
        _embs(spark, sf_dir), _knn_graph(spark, sf_dir)
    )


def _q_graph_seed_distance_sql():
    from mimic2ts_spark.operators.knn import sql_seed_hop_distance

    return sql_seed_hop_distance("embeddings")


Q_GRAPH_SEED_DISTANCE_SQL = _q_graph_seed_distance_sql()


def q_knn_diagnostics(spark, sf_dir):
    """X185 — k-NN graph diagnostics, two classic signals in one pass
    over the memoized X180 graph:
    - kth_d2: distance to the farthest kept neighbor — the standard
      kNN outlier score (Ramaswamy et al. 2000); large = isolated,
      the data-quality filter for stray/corrupt embeddings;
    - indeg: reverse-edge count — hubness (Radovanović et al. 2010),
      the high-dim pathology diagnostic (hubs appear in many neighbor
      lists and distort retrieval).
    Two hash aggs + two broadcast joins back to the node list; the
    max-rank row is fetched by an (id, rank) equi-join, not a sort."""
    g = _knn_graph(spark, sf_dir)
    nodes = _embs(spark, sf_dir).select(F.col("vec_id").alias("id"))
    kthr = g.groupBy("id").agg(F.max("rank").alias("kth_rank")).select(
        F.col("id").alias("kid"), "kth_rank"
    )
    kth = g.join(
        kthr, (g["id"] == kthr["kid"]) & (g["rank"] == kthr["kth_rank"])
    ).select("kid", "kth_rank", F.col("d2").alias("kth_d2"))
    indeg = g.groupBy(F.col("nbr").alias("iid")).agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    return (
        nodes.join(kth, nodes["id"] == kth["kid"], "left")
        .join(indeg, nodes["id"] == indeg["iid"], "left")
        .select(
            nodes["id"].alias("vec_id"),
            F.coalesce(F.col("kth_rank"), F.lit(0)).cast("long").alias("kth_rank"),
            F.coalesce(F.col("kth_d2"), F.lit(-1)).cast("long").alias("kth_d2"),
            F.coalesce(F.col("indeg"), F.lit(0)).cast("long").alias("indeg"),
        )
    )


def _q_knn_diagnostics_sql():
    from mimic2ts_spark.operators.knn import KNN_ROUNDS, sql_knn_graph

    graph = sql_knn_graph("embeddings")
    body = graph.strip().removeprefix("WITH")
    chain = body.split(f"\nSELECT id AS vec_id")[0]
    return f"""
WITH {chain},
g AS (SELECT id, nbr, d2, rank FROM nb{KNN_ROUNDS}),
kthr AS (SELECT id, max(rank) AS kth_rank FROM g GROUP BY id),
kth AS (
    SELECT g.id, k.kth_rank, g.d2 AS kth_d2
    FROM g JOIN kthr k ON k.id = g.id AND g.rank = k.kth_rank
),
indeg AS (SELECT nbr AS id, CAST(count(*) AS BIGINT) AS indeg FROM g GROUP BY 1)
SELECT b.id AS vec_id,
       CAST(coalesce(k.kth_rank, 0) AS BIGINT) AS kth_rank,
       CAST(coalesce(k.kth_d2, -1) AS BIGINT) AS kth_d2,
       CAST(coalesce(i.indeg, 0) AS BIGINT) AS indeg
FROM base b
LEFT JOIN kth k ON k.id = b.id
LEFT JOIN indeg i ON i.id = b.id
"""


Q_KNN_DIAGNOSTICS_SQL = _q_knn_diagnostics_sql()


def q_graph_trustrank(spark, sf_dir):
    """X191 — TrustRank (Gyöngyi et al., VLDB 2004): personalized
    PageRank whose teleport mass goes ONLY to the 8 md5-min trusted
    seeds (X183's set), run over the directed X180 k-NN graph — the
    graded random-walk companion of the hop-quantized seed-distance
    BFS (spam-demotion / trusted-proximity curation scoring).
    Integer-exact scaled arithmetic (the X89 contract: mass splits,
    never amplifies); one shuffle join + one hash agg per round."""
    from mimic2ts_spark.operators.graph import trustrank_scaled
    from mimic2ts_spark.operators.sketch import kmv_code

    g = _knn_graph(spark, sf_dir)
    edges = g.select(F.col("id").alias("src"), F.col("nbr").alias("dst"))
    seeds = (
        _embs(spark, sf_dir)
        .select(F.col("vec_id").alias("node"), kmv_code(F.col("vec_id")).alias("_c"))
        .orderBy("_c", "node")
        .limit(8)
        .select("node")
    )
    return trustrank_scaled(edges, seeds)


def _q_graph_trustrank_sql():
    from mimic2ts_spark.operators.graph import sql_trustrank
    from mimic2ts_spark.operators.knn import KNN_ROUNDS, sql_knn_graph

    graph = sql_knn_graph("embeddings")
    chain = graph.strip().removeprefix("WITH").split("\nSELECT id AS vec_id")[0]
    inner = sql_trustrank(
        f"SELECT id AS src, nbr AS dst FROM nb{KNN_ROUNDS}",
        "SELECT id AS node FROM coded ORDER BY code, id LIMIT 8",
    )
    inner_body = inner.strip().removeprefix("WITH")
    return f"WITH {chain},\n{inner_body}"


Q_GRAPH_TRUSTRANK_SQL = _q_graph_trustrank_sql()


_AUDIT_PKS = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
]
_AUDIT_FKS = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def q_constraint_audit(spark, sf_dir):
    """X192 — warehouse constraint audit: the data-quality gate every
    ingest at scale runs before publishing a snapshot — in ONE report:
    - pk_dup_<t>: primary-key duplicate rows (count − distinct) for
      each dimension/fact key;
    - fk_orphan_<t.c>: child rows whose key has no parent (left_anti
      against the broadcast parent key set — dims broadcast, facts
      stream);
    - null_key_<t.c>: NULL foreign keys (counted separately — an
      orphan check's anti join would conflate them).
    Every check is one linear pass with pushdown-friendly single-column
    scans; the report is a fixed small table of (check, n_bad).

    r14 shape: ONE scan per audited table computes ALL of that table's
    checks (guide §2.4 — remove redundant passes): the pk-dup distinct
    agg, every fk's orphan count (broadcast LEFT join against the
    distinct parent keys + an isNotNull∧miss conditional sum — row
    multiplicity is preserved because parent keys are distinct, so the
    left join is value-identical to the former per-check anti join) and
    every fk's null count fold into one aggregate, unpivoted via
    stack(). lineitem drops from 6 single-column scans to 1 three-column
    scan; the whole report from 20 table passes to 7. Counts are
    definitionally unchanged (order-insensitive oracle)."""
    pk_of = dict(_AUDIT_PKS)
    fks_of: dict = {}
    for ct, ck, pt, pk in _AUDIT_FKS:
        fks_of.setdefault(ct, []).append((ck, pt, pk))
    tables = list(dict.fromkeys([t for t, _ in _AUDIT_PKS] + list(fks_of)))
    rows = []
    for t in tables:
        pk = pk_of.get(t)
        fks = fks_of.get(t, [])
        cols = list(dict.fromkeys(([pk] if pk else []) + [ck for ck, _, _ in fks]))
        df = memo.read_parquet(spark, f"{sf_dir}/{t}.parquet").select(*cols)
        for i, (ck, pt, ppk) in enumerate(fks):
            parent = (
                memo.read_parquet(spark, f"{sf_dir}/{pt}.parquet")
                .select(F.col(ppk).alias(ck))
                .distinct()
                .withColumn(f"_hit_{i}", F.lit(1))
            )
            df = df.join(F.broadcast(parent), ck, "left")
        aggs, names = [], []
        if pk:
            aggs.append(
                (F.count(pk) - F.countDistinct(pk))
                .cast("long")
                .alias(f"_c{len(aggs)}")
            )
            names.append(f"pk_dup_{t}")
        for i, (ck, _pt, _ppk) in enumerate(fks):
            aggs.append(
                F.sum(
                    F.when(
                        F.col(ck).isNotNull() & F.col(f"_hit_{i}").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias(f"_c{len(aggs)}")
            )
            names.append(f"fk_orphan_{t}.{ck}")
            aggs.append(
                F.sum(F.when(F.col(ck).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"_c{len(aggs)}")
            )
            names.append(f"null_key_{t}.{ck}")
        stack_args = ", ".join(f"'{n}', _c{i}" for i, n in enumerate(names))
        rows.append(
            df.agg(*aggs).select(
                F.expr(f"stack({len(names)}, {stack_args}) AS (check, n_bad)")
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _q_constraint_audit_sql():
    parts = []
    for t, pk in _AUDIT_PKS:
        parts.append(
            f"SELECT 'pk_dup_{t}' AS \"check\", "
            f"CAST(count({pk}) - count(DISTINCT {pk}) AS BIGINT) AS n_bad "
            f"FROM {t}"
        )
    for ct, ck, pt, pk in _AUDIT_FKS:
        parts.append(
            f"SELECT 'fk_orphan_{ct}.{ck}' AS \"check\", "
            f"CAST(count(*) AS BIGINT) AS n_bad FROM {ct} c "
            f"WHERE c.{ck} IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck})"
        )
        parts.append(
            f"SELECT 'null_key_{ct}.{ck}' AS \"check\", "
            f"CAST(sum(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_bad FROM {ct}"
        )
    return "\nUNION ALL\n".join(parts)


Q_CONSTRAINT_AUDIT_SQL = _q_constraint_audit_sql()


APPORTION_BUDGET = 10_000


def q_sample_apportion(spark, sf_dir):
    """X193 — exact proportional sample allocation via Hamilton's
    largest-remainder method (the apportionment classic): given a
    fixed sample budget, each event_type gets floor(budget·cnt/total)
    seats plus one of the leftover seats in descending remainder order
    (ties by type) — allocations sum to the budget EXACTLY, no float
    rounding drift ever (the mixture-sampling companion of X72/X122:
    those weight, this seats). All arithmetic int64: budget·cnt ≤
    1e4·rows stays far inside int64; the group table is tiny so the
    remainder window is harmless."""
    from pyspark.sql import Window

    ev = memo.read_parquet(spark, f"{sf_dir}/events.parquet")
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    totals = counts.agg(F.sum("n_rows").cast("long").alias("total"))
    b = APPORTION_BUDGET
    seats = counts.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "n_rows",
        F.expr(f"({b}L * n_rows) div total").alias("base"),
        F.expr(f"({b}L * n_rows) % total").alias("rem"),
    )
    wr = Window.orderBy(F.desc("rem"), "event_type")
    wl = Window.partitionBy(F.lit(1))
    return (
        seats.withColumn("_rk", F.row_number().over(wr))
        .withColumn("_left", F.lit(b) - F.sum("base").over(wl))
        .select(
            "event_type",
            "n_rows",
            (
                F.col("base")
                + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0)
            ).cast("long").alias("alloc"),
        )
    )


Q_SAMPLE_APPORTION_SQL = f"""
WITH counts AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
),
totals AS (SELECT sum(n_rows) AS total FROM counts),
seats AS (
    SELECT event_type, n_rows,
           ({APPORTION_BUDGET} * n_rows) // total AS base,
           ({APPORTION_BUDGET} * n_rows) % total AS rem
    FROM counts CROSS JOIN totals
)
SELECT event_type, n_rows,
       CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, event_type)
                        <= {APPORTION_BUDGET} - (SELECT sum(base) FROM seats)
                   THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM seats
"""


def _mutual_knn_labels(spark, sf_dir):
    """(vec_id, cluster_id) for every vector — CC over the mutual edge
    set of the memoized X180 graph; shared by X186/X190. Disk path
    memo (the _knn_graph pattern): the CC pointer-jumping rounds run
    once per (process, corpus) and survive the gate's per-query
    storage flushes."""

    def build():
        from mimic2ts_spark.operators.cluster import connected_components

        g = _knn_graph(spark, sf_dir)
        e = g.select("id", "nbr")
        rev = e.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
        mutual = e.intersect(rev).where(F.col("id") < F.col("nbr"))
        pairs = mutual.select(
            F.col("id").alias("doc_a"), F.col("nbr").alias("doc_b")
        )
        comp = connected_components(pairs)
        nodes = _embs(spark, sf_dir).select(F.col("vec_id").alias("id"))
        return (
            nodes.join(comp.withColumnRenamed("node", "id"), "id", "left")
            .select(
                F.col("id").alias("vec_id"),
                F.coalesce(F.col("comp"), F.col("id")).cast("long").alias(
                    "cluster_id"
                ),
            )
        )

    return _knn_graph(spark, sf_dir, key=sf_dir + ":mutual_labels", build=build)


def q_cluster_mutual_knn(spark, sf_dir):
    """X186 — mutual-kNN clustering: connected components over the
    MUTUAL edge set (i→j AND j→i — the parameter-free denoised graph;
    one-way edges are how hubs attach to everything, so requiring
    reciprocity is the classic cluster-extraction step on kNN graphs).
    Composes X180's graph with the X30 CC machinery; every vector is
    labeled with its component's min id (self when unpaired)."""
    return _mutual_knn_labels(spark, sf_dir)


def _q_cluster_mutual_knn_sql():
    from mimic2ts_spark.operators.knn import KNN_ROUNDS, sql_knn_graph

    graph = sql_knn_graph("embeddings")
    body = graph.strip().removeprefix("WITH")
    chain = body.split(f"\nSELECT id AS vec_id")[0]
    return f"""
WITH RECURSIVE {chain},
g AS (SELECT id, nbr FROM nb{KNN_ROUNDS}),
mutual AS (
    SELECT a.id, a.nbr FROM g a JOIN g b ON b.id = a.nbr AND b.nbr = a.id
    WHERE a.id < a.nbr
),
sym AS (
    SELECT id AS u, nbr AS v FROM mutual
    UNION
    SELECT nbr, id FROM mutual
),
reach(node, lab) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM sym) AS t(u)
    UNION
    SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node
),
comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
SELECT b.id AS vec_id, CAST(coalesce(c.comp, b.id) AS BIGINT) AS cluster_id
FROM base b LEFT JOIN comp c ON c.node = b.id
"""


Q_CLUSTER_MUTUAL_KNN_SQL = _q_cluster_mutual_knn_sql()


def q_semantic_representatives(spark, sf_dir):
    """X190 — keep-best semantic curation: per mutual-kNN cluster
    (X186 labels, shared memo) keep the member with the highest
    quality score (X10's fixed fp expression tree, doc_id ≡ vec_id) —
    the SemDeDup-style 'keep one good exemplar per semantic
    neighborhood' selection, composing graph + cluster + text-quality
    families end-to-end. Per-cluster argmax is a row_number=1
    WindowGroupLimit; sizes ride the same labels."""
    from pyspark.sql import Window as W

    labels = _mutual_knn_labels(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"),
        X.quality_score(F.col("text")).alias("q"),
    )
    labeled = labels.join(docs, "vec_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("q"), "vec_id")
    reps = (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("vec_id").alias("rep_id"), F.col("q").alias("rep_quality"))
    )
    counts = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return reps.join(counts, "cluster_id")


def _q_semantic_representatives_sql():
    from mimic2ts_spark.operators import text as _X

    quality = (
        f"least(1.0, CAST({_X.SQL_TOKEN_COUNT.format(text='d.text')} AS DOUBLE) / 200.0) * 0.5"
        f" + least(1.0, (CAST({_X.SQL_STOP_HITS.format(text='d.text')} AS DOUBLE)"
        f" / CAST({_X.SQL_TOKEN_COUNT.format(text='d.text')} AS DOUBLE)) * 4.0) * 0.5"
    )
    body = Q_CLUSTER_MUTUAL_KNN_SQL.rsplit("SELECT b.id AS vec_id", 1)[0].rstrip()
    return f"""{body},
labels AS (
    SELECT b.id AS vec_id, CAST(coalesce(c.comp, b.id) AS BIGINT) AS cluster_id
    FROM base b LEFT JOIN comp c ON c.node = b.id
),
labeled AS (
    SELECT l.vec_id, l.cluster_id, {quality} AS q
    FROM labels l JOIN documents d ON d.doc_id = l.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY q DESC, vec_id) AS rn
    FROM labeled
),
counts AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
    FROM labeled GROUP BY 1
)
SELECT r.cluster_id, r.vec_id AS rep_id, r.q AS rep_quality, c.n_members
FROM ranked r JOIN counts c USING (cluster_id)
WHERE r.rn = 1
"""


Q_SEMANTIC_REPS_SQL = _q_semantic_representatives_sql()


def q_doc_hash_vectors(spark, sf_dir):
    """X187 — feature hashing (the hashing trick, Weinberger et al.
    2009): text → 64-dim signed integer count vector with NO trained
    model (bucket = md5(token) % 64, ±1 sign from the next hash bit —
    the sign makes collisions cancel in expectation). Long-form
    output; one explode + one hash agg. The dense form is a drop-in
    `embedding` column for the whole vector family — the bridge that
    runs similarity ops on corpora that ship no embeddings (X188)."""
    from mimic2ts_spark.operators.text import hashed_vector_rows

    return hashed_vector_rows(_docs(spark, sf_dir))


def q_sq8_quantize(spark, sf_dir):
    """X211 — scalar quantization (operators/pq.py sq8_quantize_rows):
    per-dim affine int8 codes, the standard cheap compression tier
    below PQ (Faiss ScalarQuantizer / Lucene int8 vectors). One
    posexplode pass + a 64-row broadcast stats join; reconstruction
    error bounded by one step per dim (pytest); codes bit-equal
    cross-engine (identical IEEE op order, floor, least)."""
    from mimic2ts_spark.operators.pq import sq8_quantize_rows

    return sq8_quantize_rows(_embs(spark, sf_dir))


def _q_sq8_sql():
    from mimic2ts_spark.operators.pq import sql_sq8_quantize_rows

    return sql_sq8_quantize_rows("embeddings")


Q_SQ8_QUANTIZE_SQL = _q_sq8_sql()


def q_winnow_fingerprints(spark, sf_dir):
    """X216 — winnowing fingerprints (operators/dedup.py
    winnow_fingerprints; Schleimer et al. SIGMOD 2003, the MOSS
    algorithm): per-window (min gram code, leftmost pos) selections —
    the fingerprint sketch with the LOCALITY GUARANTEE random "hash %
    p" sampling lacks: any shared run of ≥ W+SHINGLE_N−1 tokens
    contributes a common fingerprint code to both docs (pytest-pinned,
    with the ~2/(W+1) density bound). Zero shuffles: the argmin folds W
    shifted slices of the (code,pos) struct array with least() (struct
    ordering probed identical cross-engine); oracle replays it as a
    windowed struct MIN."""
    return D.winnow_fingerprints(_docs(spark, sf_dir))


Q_WINNOW_SQL = D.sql_winnow_fingerprints()


def q_winnow_overlap(spark, sf_dir):
    """X217 — winnowed local-overlap pairs (operators/dedup.py
    winnow_overlap_pairs): canonical doc pairs sharing ≥ 2 fingerprint
    codes — the MOSS plagiarism/quote report the X216 sketch serves.
    Exact-first BY CONSTRUCTION (copies share all fingerprints ⇒ pair
    generation belongs on canonicals; exact groups reconstruct copy
    membership), so the pair volume tracks true cross-content overlap
    at every sweep factor. r14: the canonical base comes from the
    shared per-corpus artifact (_canon_docs; canonical_docs is
    idempotent, so the relation is identical)."""
    return D.winnow_overlap_pairs(_canon_docs(spark, sf_dir), pre_canonical=True)


Q_WINNOW_OVERLAP_SQL = D.sql_winnow_overlap()


def q_cdc_chunks(spark, sf_dir):
    """X215 — content-defined chunking (operators/dedup.py cdc_chunks):
    the storage-dedup primitive (LBFS/Rabin lineage) — chunk boundaries
    cut where a local rolling fingerprint (the shared shingle code)
    satisfies % CDC_MOD == 0, so identical paragraphs across revisions
    share chunk hashes WITHOUT pairwise comparison and an insertion
    only perturbs chunks inside the edit region (pytest-pinned against
    fixed-size chunking, which loses every downstream chunk). One scan,
    all array ops; the corpus shows real sub-document sharing (2205
    chunks → 2011 distinct hashes at sf0.001)."""
    return D.cdc_chunks(_docs(spark, sf_dir))


Q_CDC_CHUNKS_SQL = D.sql_cdc_chunks()


SQ8_TOPK_QUERIES = 32
SQ8_TOPK_K = 10


def q_sq8_topk(spark, sf_dir):
    """X212/X226 — SQ8 top-k SERVED from the persisted codes artifact
    (`maintain sq8-codes` layout; operators/pq.py serve_sq8_artifact)
    under the full oracle gate — the X222 served-equals-scan doctrine
    applied to the SQ8 rung (VERDICT r13 #2): the corpus floats are
    never re-encoded per query; the stored int8 codes decode with the
    artifact's integer-midpoint expression (dec = lo + ((2·code+1)
    (hi−lo)) div 510 — every division on non-negative int64, distances
    associative integer sums) inside one kernel pass. Bit-equals the
    scan-form sq8_l2_panel because the stored codes ARE the kernel's
    intermediate (sq8_encode_codes; equality also pytest-pinned), so
    the oracle stays the byte-identical scan-form SQL and each gate
    run re-proves served == scan. Recall vs the exact quantized-L2
    panel is measured as the q_ann_recall 'sq8' leg (0.987 at sf0.001,
    floor-pinned)."""
    from mimic2ts_spark.operators.pq import serve_sq8_artifact

    art = _codes_artifact_dir(spark, sf_dir, "sq8")
    embs = _embs(spark, sf_dir)
    qs = embs.where(F.col("vec_id") < SQ8_TOPK_QUERIES)
    return serve_sq8_artifact(spark, art, qs, k=SQ8_TOPK_K)


def _q_sq8_topk_sql():
    from mimic2ts_spark.operators.pq import sql_sq8_l2_panel

    return sql_sq8_l2_panel(SQ8_TOPK_QUERIES, SQ8_TOPK_K)


Q_SQ8_TOPK_SQL = _q_sq8_topk_sql()


JL_PAIR_PANEL = 64
JL_RATIO_SCALE = 100_000


def q_jl_projection(spark, sf_dir):
    """X209 — JL random projection + distance-preservation eval
    (operators/text.py jl_project_rows): project the X187 hashed
    integer vectors 64→16 dims with a ±1 md5-derived sign matrix
    (Achlioptas 2003 — the database-friendly JL transform; the cheap
    pre-reduction before ANN/clustering when embeddings are wide), and
    score the result the way JL is actually certified: a 64-pair
    md5-chosen panel reports d_proj/(16·d_orig) per pair as a scaled
    integer — E[ratio] = 1 by the JL moment identity, so the
    distribution concentrating near JL_RATIO_SCALE is the preservation
    evidence (floor pytest-pinned). All integer math: int addition is
    associative (r04), so no float order discipline anywhere and the
    oracle is exact by construction. Panel docs are CANONICAL
    (byte-identical texts share a hashed vector ⇒ d_orig = 0 pairs
    would hit the ANSI zero-division trap); zero-distance pairs from
    distinct-text collisions are filtered with the same predicate both
    engines. Scale shape: the sign matrix is a 1024-row global join
    side (AQE broadcasts), the panel is a TakeOrderedAndProject —
    never a corpus-wide single-partition window."""
    from pyspark.sql import Window as W

    from mimic2ts_spark.operators.sketch import kmv_code
    from mimic2ts_spark.operators.text import (
        JL_DIM,
        hashed_vector_rows,
        jl_project_rows,
    )

    # canonicalization consumed by TWO subtrees (the hashed-vector pass
    # and the panel ranking) — read the shared canonical-docs artifact
    # (r14 _canon_docs) and persist the slim projection once or it
    # re-runs per consumer (measured 5.2 s → 2.6 s at sf0.1)
    docs = _canon_docs(spark, sf_dir).select("doc_id", "text").persist()

    ranked = (
        docs.select("doc_id", kmv_code(F.col("doc_id")).alias("_c"))
        .orderBy("_c", "doc_id")
        .limit(2 * JL_PAIR_PANEL)
        .withColumn("rn", F.row_number().over(W.orderBy("_c", "doc_id")))
    )
    pairs = (
        ranked.where(F.col("rn") <= JL_PAIR_PANEL)
        .select(F.col("rn").alias("pair_id"), F.col("doc_id").alias("doc_a"))
        .join(
            ranked.where(F.col("rn") > JL_PAIR_PANEL).select(
                (F.col("rn") - JL_PAIR_PANEL).alias("pair_id"),
                F.col("doc_id").alias("doc_b"),
            ),
            "pair_id",
        )
        # 64 rows, referenced 4x (both sides of both distance passes) —
        # persisted or the TakeOrdered panel subtree re-runs per use
        .persist()
    )

    # r14: the report consumes ONLY the 2·64 panel docs' vectors, so the
    # hashed-vector tokenize+md5 pass and the sign-matrix projection run
    # over the PANEL SUBSET, not the corpus (guide §1.2 step 1: don't
    # compute rows the output throws away — the projection join+groupBy
    # over the full corpus ran TWICE per call, once per unpersisted
    # pair_dist leg). Value-identical: hashing/projection are per-doc
    # local, the sign-matrix entries are md5-derived constants
    # independent of which dims survive the subset, and the semi join
    # is a pure filter (panel ids are provably distinct — disjoint
    # row_number slices). Same-day A/B (3 process pairs, best-of-3 each,
    # sf0.1): old min 4.04 / median 4.53 s → new min 2.69 / median
    # 3.01 s; oracle unchanged (it derives the full-corpus form from
    # scratch).
    panel_ids = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    pdocs = docs.join(F.broadcast(panel_ids), "doc_id", "left_semi")
    hv = hashed_vector_rows(pdocs).persist()
    pj = jl_project_rows(hv)

    def pair_dist(rows_df, key, val, out):
        a = pairs.join(
            rows_df, rows_df["doc_id"] == pairs["doc_a"]
        ).select("pair_id", key, F.col(val).alias("_a"))
        b = pairs.join(
            rows_df, rows_df["doc_id"] == pairs["doc_b"]
        ).select("pair_id", key, F.col(val).alias("_b"))
        d = (
            F.coalesce(F.col("_a"), F.lit(0)) - F.coalesce(F.col("_b"), F.lit(0))
        )
        return (
            a.join(b, ["pair_id", key], "full")
            .groupBy("pair_id")
            .agg(F.sum(d * d).cast("long").alias(out))
        )

    od = pair_dist(hv, "dim", "v", "d_orig")
    pd_ = pair_dist(pj, "j", "p", "d_proj")
    return (
        pairs.join(od, "pair_id")
        .join(pd_, "pair_id")
        .where(F.col("d_orig") > 0)
        .select(
            F.col("pair_id").cast("long").alias("pair_id"),
            "doc_a",
            "doc_b",
            "d_orig",
            "d_proj",
            F.expr(
                f"({JL_RATIO_SCALE}L * d_proj) div ({JL_DIM}L * d_orig)"
            ).alias("ratio_scaled"),
        )
    )


def _q_jl_projection_sql():
    from mimic2ts_spark.operators.text import (
        JL_DIM,
        SQL_CODE,
        jl_project_rows,  # noqa: F401 — parity anchor
        sql_hashed_vector_rows,
        sql_jl_project_rows,
    )

    dcode = SQL_CODE.format(tok="CAST(doc_id AS VARCHAR)")
    hv_sql = sql_hashed_vector_rows("canon").strip()
    pj_sql = sql_jl_project_rows("hv").strip()
    return f"""
WITH canon AS MATERIALIZED (
    SELECT d.* FROM documents d
    JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
      ON k.doc_id = d.doc_id
),
hv AS MATERIALIZED ({hv_sql}),
pj AS MATERIALIZED (SELECT * FROM {pj_sql} t),
ranked AS (
    SELECT doc_id, row_number() OVER (ORDER BY _c, doc_id) AS rn
    FROM (SELECT doc_id, {dcode} AS _c FROM canon
          ORDER BY _c, doc_id LIMIT {2 * JL_PAIR_PANEL})
),
pairs AS MATERIALIZED (
    SELECT a.rn AS pair_id, a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ranked a JOIN ranked b ON b.rn = a.rn + {JL_PAIR_PANEL}
    WHERE a.rn <= {JL_PAIR_PANEL}
),
od AS (
    SELECT pair_id, CAST(sum(
        (coalesce(va, 0) - coalesce(vb, 0)) * (coalesce(va, 0) - coalesce(vb, 0))
    ) AS BIGINT) AS d_orig
    FROM (
        SELECT coalesce(a.pair_id, b.pair_id) AS pair_id, a.va, b.vb
        FROM (SELECT p.pair_id, r.dim, r.v AS va
              FROM pairs p JOIN hv r ON r.doc_id = p.doc_a) a
        FULL JOIN (SELECT p.pair_id, r.dim, r.v AS vb
                   FROM pairs p JOIN hv r ON r.doc_id = p.doc_b) b
          ON a.pair_id = b.pair_id AND a.dim = b.dim
    ) GROUP BY 1
),
pd AS (
    SELECT pair_id, CAST(sum(
        (coalesce(pa, 0) - coalesce(pb, 0)) * (coalesce(pa, 0) - coalesce(pb, 0))
    ) AS BIGINT) AS d_proj
    FROM (
        SELECT coalesce(a.pair_id, b.pair_id) AS pair_id, a.pa, b.pb
        FROM (SELECT p.pair_id, r.j, r.p AS pa
              FROM pairs p JOIN pj r ON r.doc_id = p.doc_a) a
        FULL JOIN (SELECT p.pair_id, r.j, r.p AS pb
                   FROM pairs p JOIN pj r ON r.doc_id = p.doc_b) b
          ON a.pair_id = b.pair_id AND a.j = b.j
    ) GROUP BY 1
)
SELECT CAST(p.pair_id AS BIGINT) AS pair_id, p.doc_a, p.doc_b,
       o.d_orig, j.d_proj,
       ({JL_RATIO_SCALE} * j.d_proj) // ({JL_DIM} * o.d_orig) AS ratio_scaled
FROM pairs p
JOIN od o ON o.pair_id = p.pair_id
JOIN pd j ON j.pair_id = p.pair_id
WHERE o.d_orig > 0
"""


Q_JL_PROJECTION_SQL = _q_jl_projection_sql()


def q_quality_classifier(spark, sf_dir):
    """X208 — hashed-linear quality classifier APPLY (operators/text.py
    classifier_scores): the model-apply stage of a fasttext-style
    filter — score = Σ w[h(token) mod 4096], keep iff ≥ 0 — completing
    the quality family (X10's heuristic ratios + X121's gate measure
    content; this measures the LEARNED-filter plumbing: hashing trick,
    shared collision weights, margin, gate). Weights are deterministic
    md5-derived stand-ins (documented stub, like the multimodal
    codecs); trained scalars are a one-column swap."""
    from mimic2ts_spark.operators.text import classifier_scores

    return classifier_scores(_docs(spark, sf_dir))


def _q_quality_classifier_sql():
    from mimic2ts_spark.operators.text import sql_classifier_scores

    return sql_classifier_scores("documents")


Q_QUALITY_CLASSIFIER_SQL = _q_quality_classifier_sql()


def _q_doc_hash_vectors_sql():
    from mimic2ts_spark.operators.text import sql_hashed_vector_rows

    return sql_hashed_vector_rows("documents")


Q_DOC_HASH_VECTORS_SQL = _q_doc_hash_vectors_sql()


def q_lexical_vector_topk(spark, sf_dir):
    """X188 — similarity search over DERIVED vectors: the X187 hashed
    doc vectors (integer counts, exactly representable as doubles)
    feed the exact cosine top-k machinery — lexical nearest-docs with
    zero model dependencies. Zero-norm vectors (all signs cancelled)
    are excluded by an exact integer check BEFORE the cosine (ANSI /0
    trap). Declared bounded brute-force leg (5-query side); the scale
    path is the same derived column through lsh/ivf/knn_graph."""
    from mimic2ts_spark.operators.text import (
        hashed_vector_rows,
        hashed_vectors_dense,
    )

    rows = hashed_vector_rows(_docs(spark, sf_dir))
    nonzero = (
        rows.groupBy("doc_id")
        .agg(F.sum(F.col("v") * F.col("v")).alias("_n2"))
        .where(F.col("_n2") > 0)
        .select("doc_id")
    )
    dense = hashed_vectors_dense(rows.join(nonzero, "doc_id")).persist()
    return S.brute_force_topk(
        dense, dense.where(F.col("vec_id") < 5), k=5
    )


def _q_lexical_vector_topk_sql():
    from mimic2ts_spark.operators.text import (
        sql_hashed_vector_rows,
        sql_hashed_vectors_dense,
    )

    rows = sql_hashed_vector_rows("documents").strip()
    dense = sql_hashed_vectors_dense("nzrows")
    return f"""
WITH hrows AS MATERIALIZED ({rows}),
nz AS (SELECT doc_id FROM hrows GROUP BY doc_id HAVING sum(v * v) > 0),
nzrows AS (SELECT h.* FROM hrows h JOIN nz USING (doc_id)),
dense AS MATERIALIZED (SELECT * FROM {dense} d),
scored AS (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           {S.sql_cosine('q.embedding', 'v.embedding')} AS cosine
    FROM dense q CROSS JOIN dense v
    WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 5
"""


Q_LEXICAL_VECTOR_TOPK_SQL = _q_lexical_vector_topk_sql()


def q_lexical_knn_graph(spark, sf_dir):
    """X195 — the X187 bridge feeding the graph family: the NN-Descent
    k-NN graph built over the hashed doc vectors (text corpora get
    graph-ANN with NO embedding model); identical algorithm and
    oracle chain, the vector table is just the derived dense form.
    Zero vectors stay in (L2 distance has no norm division)."""
    def build():
        from mimic2ts_spark.operators.knn import knn_graph
        from mimic2ts_spark.operators.text import (
            hashed_vector_rows,
            hashed_vectors_dense,
        )

        dense = hashed_vectors_dense(hashed_vector_rows(_docs(spark, sf_dir)))
        return knn_graph(dense)

    g = _knn_graph(spark, sf_dir, key=sf_dir + ":lex", build=build)
    return g.select(F.col("id").alias("vec_id"), "nbr", "d2", "rank")


def _q_lexical_knn_graph_sql():
    from mimic2ts_spark.operators.knn import sql_knn_graph
    from mimic2ts_spark.operators.text import (
        sql_hashed_vector_rows,
        sql_hashed_vectors_dense,
    )

    rows = sql_hashed_vector_rows("documents").strip()
    dense = sql_hashed_vectors_dense(f"({rows}) hr")
    return sql_knn_graph(f"({dense.strip()}) hv")


Q_LEXICAL_KNN_GRAPH_SQL = _q_lexical_knn_graph_sql()


CF_TOP_K = 5
CF_SCALE = 100_000


def q_item_cf(spark, sf_dir):
    """X189 — item-item collaborative filtering from the event stream
    (Sarwar et al. 2001): items = the props JSON `k` values, baskets =
    users; similarity = exact scaled Jaccard of the items' user sets —
    jac_scaled = SCALE·|A∩B| div (|A|+|B|−|A∩B|), pure int64 — with
    top-5 neighbors per item (ties ascending item id). Shape: distinct
    (user, item) once, co-occurrence via a within-user self-join (Σ
    per-user items² fan-out — basket-bound like X105, never corpus²),
    one hash agg, per-item WindowGroupLimit; per-item user counts
    joined back WITHOUT a broadcast hint — the item vocabulary is
    unbounded at 100 TB, so AQE picks the strategy (it still broadcasts
    when the counts table is small)."""
    ev = memo.read_parquet(spark, f"{sf_dir}/events.parquet")
    # persisted: consumed THREE times (sizes + both self-join sides) —
    # without it the events scan + JSON parse + distinct runs per
    # consumer (guide §5; the r14 multi-consumer-subtree pass)
    ui = ev.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("item"),
    ).where(F.col("item").isNotNull()).distinct().persist()
    sizes = ui.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = ui.alias("a"), ui.alias("b")
    co = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .where(F.col("a.item") != F.col("b.item"))
        .groupBy(F.col("a.item").alias("item"), F.col("b.item").alias("nbr"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    scored = (
        co.join(sizes, "item")
        .join(
            sizes.select(F.col("item").alias("nbr"), F.col("n").alias("nn")),
            "nbr",
        )
        .withColumn(
            "jac_scaled",
            F.expr(f"({CF_SCALE}L * inter) div (n + nn - inter)"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item").orderBy(
        F.desc("jac_scaled"), F.desc("inter"), "nbr"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= CF_TOP_K)
        .select("item", "nbr", "inter", "jac_scaled", "rank")
    )


Q_ITEM_CF_SQL = f"""
WITH ui AS MATERIALIZED (
    SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
),
sizes AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM ui GROUP BY 1),
co AS (
    SELECT a.item AS item, b.item AS nbr, CAST(count(*) AS BIGINT) AS inter
    FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item <> b.item
    GROUP BY 1, 2
),
scored AS (
    SELECT c.item, c.nbr, c.inter,
           ({CF_SCALE} * c.inter) // (s.n + t.n - c.inter) AS jac_scaled
    FROM co c JOIN sizes s ON s.item = c.item JOIN sizes t ON t.item = c.nbr
)
SELECT item, nbr, inter, jac_scaled, rank FROM (
    SELECT item, nbr, inter, jac_scaled,
           CAST(row_number() OVER (PARTITION BY item
                ORDER BY jac_scaled DESC, inter DESC, nbr) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= {CF_TOP_K}
"""


def q_ann_ivf(spark, sf_dir):
    """X8 — IVF-flat with TRAINED cells (r05): k-means coarse centroids
    (integer-exact Lloyd, memoized per sf_dir and shared with IVF-PQ's
    coarse step), int-L2 cell assignment + nprobe probing, exact cosine
    re-rank within the probed cells."""
    embs = _embs(spark, sf_dir)
    return S.ivf_topk(
        embs, embs.where(F.col("vec_id") < 5), k=5, cache_key=sf_dir
    )


# Per-corpus persisted IVF index (the `maintain ivf` layout: centroids
# JSON + cid-PARTITIONED postings), a disk artifact like
# _search_index_dir (deterministic training keeps the served oracle
# hash fixed). train_coarse shares the q_ann_ivf cache_key, so the
# artifact's cells ARE the scan form's cells.
def _ivf_index_dir(spark, sf_dir):
    import os

    from mimic2ts_spark.operators.dupguard import memoized_count
    from mimic2ts_spark.operators.kmeans import (
        KM_ROUNDS,
        save_centroids,
        train_coarse,
    )

    def build(out):
        embs = _embs(spark, sf_dir)
        n = memoized_count(embs.select("vec_id"))
        cents = train_coarse(
            embs, S.derived_cells(n), n=n, cache_key=sf_dir
        )
        save_centroids(
            cents, os.path.join(out, "centroids.json"),
            meta={"n_base": n, "n_cells": len(cents), "rounds": KM_ROUNDS,
                  "id_col": "vec_id", "vec_col": "embedding"},
        )
        # Hashing on cid first makes exactly one file per cell (guide §6
        # small-files): without it the kernel's ~63 scan tasks each write
        # a file per cell they touch (1,010 files for 16 cells at sf0.1,
        # every one listed and opened by each serve). At the 256-cell cap
        # and 10^9 slim posting rows that is ~100 MB/cell. The postings
        # rows carry the raw coordinates (IVF-Flat), so every serve
        # re-ranks from the probed cells' own files with no key join
        # against the raw corpus.
        S.assign_vectors(embs, cents).join(
            embs.select("vec_id", F.col("embedding").alias("vec")), "vec_id"
        ).repartition("cid").write.mode(
            "overwrite"
        ).partitionBy("cid").parquet(os.path.join(out, "postings"))
        return out

    return memo.artifact(
        "ivf_index", [f"{sf_dir}/embeddings.parquet"], build, sf_dir
    )


# Per-corpus persisted quantized-codes artifacts (the `maintain
# {bq,sq8,pq}-codes` layouts). Deterministic builds (shared trained
# state via cache_key) keep every served oracle hash identical to the
# scan form's.
def _codes_artifact_dir(spark, sf_dir, kind: str) -> str:
    from mimic2ts_spark.operators import pq as PQ

    def build(out):
        embs = _embs(spark, sf_dir)
        if kind == "bq":
            PQ.build_bq_artifact(spark, out, embs)
        elif kind == "sq8":
            PQ.build_sq8_artifact(spark, out, embs, cache_key=sf_dir)
        elif kind == "pq":
            PQ.build_pq_artifact(spark, out, embs, cache_key=sf_dir)
        elif kind == "ivfpq":
            PQ.build_ivfpq_artifact(spark, out, embs, cache_key=sf_dir)
        else:  # pragma: no cover - internal misuse
            raise ValueError(f"unknown codes artifact kind: {kind}")
        return out

    return memo.artifact(
        f"{kind}_codes", [f"{sf_dir}/embeddings.parquet"], build, sf_dir
    )


def q_ann_ivf_indexed(spark, sf_dir):
    """X222 — IVF top-k SERVED from the persisted index (`maintain ivf`
    layout) under the full oracle gate: the X177 served-equals-scan
    doctrine applied to the ANN ladder's IVF rung (every other rung —
    PQ codebooks, SQ8 stats, BQ codes, the kNN graph — already serves
    from its artifact). Trained cells load from the centroids JSON (no
    retrain, no corpus scan); the probed cell ids (≤ |panel|·nprobe
    driver ints, the r08 routing pattern) push a static In(cid, …)
    PARTITION filter into the cid-partitioned postings, so a probe
    reads only its cells' files; candidates fetch coordinates by key
    join for the exact cosine re-rank. Oracle = the scan-form SQL
    (Q_ANN_IVF_SQL) — each gate run re-proves served == scan."""
    idx = _ivf_index_dir(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    return S.serve_ivf_artifact(
        spark, idx, embs.where(F.col("vec_id") < 5), embs, k=5
    )


def _q_ann_ivf_sql():
    from mimic2ts_spark.operators.kmeans import _SQL_DIST, sql_kmeans_parts

    parts, final_a, final_c = sql_kmeans_parts(
        "embeddings", k=S.sql_derived_cells("embeddings"), prefix="ivf_"
    )
    return f"""
WITH {','.join(parts)},
v AS (SELECT vec_id, embedding FROM embeddings),
probes AS (
    SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT b.vec_id, c.cid,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_SQL_DIST}, c.cid) AS rn
        FROM ivf_base b CROSS JOIN {final_c} c WHERE b.vec_id < 5
    ) WHERE rn <= {S.IVF_NPROBE}
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN {final_a} a ON a.cid = p.cell
    WHERE a.vec_id <> p.query_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           {S.sql_cosine('q.embedding', 'n.embedding')} AS cosine
    FROM cand c
    JOIN v q ON q.vec_id = c.query_id
    JOIN v n ON n.vec_id = c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


Q_ANN_IVF_SQL = _q_ann_ivf_sql()


ANN_RECALL_QUERIES = 32
ANN_RECALL_K = 10


def _recall_leg(exact, approx, leg: str):
    """recall@k of one approximate leg against its exact panel —
    shared fold of q_ann_recall (one pinned float division)."""
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            F.lit(leg).alias("leg"),
            "n_hits",
            (
                F.col("n_hits").cast("double") / F.lit(float(ANN_RECALL_K))
            ).alias("recall"),
        )
    )


def q_ann_recall(spark, sf_dir):
    """X156 — ANN quality evaluation: recall@10 over a 32-query panel
    for BOTH index legs in one report — the eval every ANN dial
    (cells, nprobe, PQ bits, M) is tuned against:
    - leg 'ivf': the trained-cell IVF index vs the exact brute-force
      cosine top-10 (both rank cosine DESC, ties by neighbor_id);
    - leg 'ivfpq': the residual IVF-PQ ADC index vs the exact
      quantized-int-L2 top-10 (pq.brute_force_l2_panel) — ADC
      approximates quantized L2, so the gold standard is metric-matched
      and the number isolates INDEX error (cells + codebook
      distortion) from metric mismatch;
    - leg 'graph': X181's beam search over the NN-Descent graph vs the
      SAME exact quantized-int-L2 panel (the beam ranks by exactly that
      metric) — the three index families (cell-probed, quantized,
      graph-walked) scored against metric-matched references in ONE
      report;
    - leg 'sq8' (r10, X211 serving tier): asymmetric SQ8 — full-
      precision panel queries against integer-midpoint-DECODED int8
      codes (pq.sq8_l2_panel, the Faiss/Lucene int8 tier) vs the same
      exact quantized-int-L2 panel. SQ8 encodes the SAME quant grid the
      exact leg ranks on, so the recall number isolates pure 8-bit
      compression distortion.
    - leg 'bq' (r11, X218): 1-bit sign-packed Hamming serving
      (pq.bq_hamming_panel — the bottom rung of the quantization
      ladder, 8 bytes/vector) vs the exact COSINE panel: sign-bit
      agreement estimates the angle on unit vectors, so cosine is the
      metric-matched reference (same gold standard as the ivf leg).
    - leg 'bq_rescore' (r11, X218): the DEPLOYED BQ shape — Hamming
      top-64 candidates, exact quantized-int-L2 rescore of only those
      (pq.bq_rescore_panel) vs the exact quantized-int-L2 panel; the
      number isolates what the 64-bit sketch's candidate cut loses.
    Every exact leg is query-side bounded (one 32×n kernel pass); the
    approximate legs reuse the memoized coarse/codebook/graph
    artifacts.

    r14 (guide §2.6 — overlap independent jobs): the seven leg
    relations are INDEPENDENT until the final panel-sized recall
    unions, but the graph leg's driver-loop beam search serialized
    ~3 s of small sequential jobs ahead of everything else. Each leg
    now materializes (eager localCheckpoint of its bounded ≤ panel·64
    rows) on its own driver thread — Spark job submission is
    thread-safe (the r04 concurrent-trainings precedent; FIFO
    scheduling back-fills the beam's idle cores with the other legs'
    tasks). Values are untouched: every leg's plan is unchanged, the
    checkpoint only materializes it, and the memoized artifact dirs
    are resolved on the MAIN thread first so no build races."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import Window as _W

    from mimic2ts_spark.operators import pq as PQ
    from mimic2ts_spark.operators.knn import knn_beam_topk

    embs = _embs(spark, sf_dir)
    qs = embs.where(F.col("vec_id") < ANN_RECALL_QUERIES)
    # memoized shared artifacts resolve (and first-build) sequentially
    # — the driver-side memos are plain dicts, not locks
    ivf_dir = _ivf_index_dir(spark, sf_dir)
    ivfpq_dir = _codes_artifact_dir(spark, sf_dir, "ivfpq")
    sq8_dir = _codes_artifact_dir(spark, sf_dir, "sq8")
    bq_dir = _codes_artifact_dir(spark, sf_dir, "bq")
    graph = _knn_graph(spark, sf_dir)

    def _mat(df):
        # bounded leg result — materialize, cut lineage
        return df.localCheckpoint(eager=True)

    # the ivf / ivfpq / sq8 / bq legs SERVE from the memoized persisted
    # artifacts instead of running the scan forms — the r13
    # codebook-vs-codes doctrine (the scan forms re-assign/re-encode
    # the full corpus per call; the served twins read the stored
    # codes/postings). Bit-equal by the served==scan contract each
    # twin's gate row re-proves every window (q_ann_ivf_indexed,
    # q_ann_ivfpq, q_sq8_topk) and test_registry_rows_serve_from_
    # artifacts pins row-for-row; the exact gold-standard panels stay
    # scan-form by definition.
    def leg_exact_cos():
        # shared by the ivf AND bq legs (r09 panel-persist rule)
        return _mat(
            S.brute_force_topk(embs, qs, k=ANN_RECALL_K).select(
                "query_id", "neighbor_id"
            )
        )

    def leg_exact_l2():
        # shared by the ivfpq, graph, sq8 AND bq_rescore legs
        return _mat(
            PQ.brute_force_l2_panel(embs, qs, k=ANN_RECALL_K).select(
                "query_id", "neighbor_id"
            )
        )

    def leg_ivf():
        return _mat(
            S.serve_ivf_artifact(spark, ivf_dir, qs, embs, k=ANN_RECALL_K)
        )

    def leg_ivfpq():
        return _mat(
            PQ.serve_ivfpq_artifact(spark, ivfpq_dir, qs, k=ANN_RECALL_K)
        )

    def leg_beam():
        return _mat(
            knn_beam_topk(embs, qs, graph, k=ANN_RECALL_K).select(
                F.col("qid").alias("query_id"),
                F.col("nbr").alias("neighbor_id"),
            )
        )

    def leg_sq8():
        return _mat(
            PQ.serve_sq8_artifact(spark, sq8_dir, qs, k=ANN_RECALL_K).select(
                "query_id", "neighbor_id"
            )
        )

    def leg_bq():
        # ONE packed bit_count scan serves both BQ legs: the raw leg is
        # the top-10 of the materialized top-64 candidate relation
        # (identical by construction — same (hamming, neighbor_id)
        # order), and the rescore leg consumes the same relation via
        # `cands`. The scan reads the PERSISTED `maintain bq-codes`
        # artifact (VERDICT r13 #2 — serve_bq_artifact shares
        # _bq_hamming_from_codes with the scan form, bit-identical by
        # construction), putting the BQ artifact-served path under this
        # row's byte-identical oracle.
        bqc = _mat(
            PQ.serve_bq_artifact(spark, bq_dir, qs, k=PQ.BQ_RESCORE_CAND)
        )
        bqr = _mat(
            PQ.bq_rescore_panel(embs, qs, k=ANN_RECALL_K, cands=bqc).select(
                "query_id", "neighbor_id"
            )
        )
        return bqc, bqr

    legs = {
        "exact_cos": leg_exact_cos,
        "exact_l2": leg_exact_l2,
        "ivf": leg_ivf,
        "ivfpq": leg_ivfpq,
        "beam": leg_beam,
        "sq8": leg_sq8,
        "bq": leg_bq,
    }
    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        futs = {
            name: pool.submit(inheritable_thread_target(spark)(fn))
            for name, fn in legs.items()
        }
        out = {name: f.result() for name, f in futs.items()}
    exact_cos, exact_l2 = out["exact_cos"], out["exact_l2"]
    bqc, bqr = out["bq"]
    _wbq = _W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    bq = (
        bqc.withColumn("_rn", F.row_number().over(_wbq))
        .where(F.col("_rn") <= ANN_RECALL_K)
        .select("query_id", "neighbor_id")
    )
    return (
        _recall_leg(exact_cos, out["ivf"], "ivf")
        .unionByName(_recall_leg(exact_l2, out["ivfpq"], "ivfpq"))
        .unionByName(_recall_leg(exact_l2, out["beam"], "graph"))
        .unionByName(_recall_leg(exact_l2, out["sq8"], "sq8"))
        .unionByName(_recall_leg(exact_cos, bq, "bq"))
        .unionByName(_recall_leg(exact_l2, bqr, "bq_rescore"))
    )


def _q_ann_recall_sql():
    from mimic2ts_spark.operators.kmeans import _SQL_DIST, sql_kmeans_parts
    from mimic2ts_spark.operators.pq import (
        sql_bq_hamming_panel,
        sql_bq_rescore_panel,
        sql_ivfpq_panel_topk,
        sql_l2_panel,
        sql_sq8_l2_panel,
    )

    parts, final_a, final_c = sql_kmeans_parts(
        "embeddings", k=S.sql_derived_cells("embeddings"), prefix="ivf_"
    )
    from mimic2ts_spark.operators.knn import sql_knn_beam_topk

    nq, k = ANN_RECALL_QUERIES, ANN_RECALL_K
    pq_exact = sql_l2_panel(nq, k)
    pq_approx = sql_ivfpq_panel_topk(nq, k)
    graph_beam = sql_knn_beam_topk(
        "embeddings", query_pred=f"id < {nq}", k=k
    )
    sq8_panel = sql_sq8_l2_panel(nq, k)
    bq_panel = sql_bq_hamming_panel(nq, k)
    bqr_panel = sql_bq_rescore_panel(nq, k)
    return f"""
WITH {','.join(parts)},
v AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {nq}),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {S.sql_cosine('q.embedding', 'v.embedding')} DESC, v.vec_id) AS rn
        FROM q, v WHERE q.vec_id <> v.vec_id
    ) WHERE rn <= {k}
),
probes AS (
    SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT b.vec_id, c.cid,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_SQL_DIST}, c.cid) AS rn
        FROM ivf_base b CROSS JOIN {final_c} c WHERE b.vec_id < {nq}
    ) WHERE rn <= {S.IVF_NPROBE}
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN {final_a} a ON a.cid = p.cell
    WHERE a.vec_id <> p.query_id
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {S.sql_cosine('qq.embedding', 'nn.embedding')} DESC, c.neighbor_id) AS rn
        FROM cand c
        JOIN v qq ON qq.vec_id = c.query_id
        JOIN v nn ON nn.vec_id = c.neighbor_id
    ) WHERE rn <= {k}
),
pq_exact AS MATERIALIZED (
    SELECT query_id, neighbor_id FROM ({pq_exact})
),
pq_approx AS MATERIALIZED (
    SELECT query_id, neighbor_id FROM ({pq_approx})
),
graph_approx AS MATERIALIZED (
    SELECT qid AS query_id, nbr AS neighbor_id FROM ({graph_beam})
),
sq8_approx AS MATERIALIZED (
    SELECT query_id, neighbor_id FROM ({sq8_panel})
),
bq_approx AS MATERIALIZED (
    SELECT query_id, neighbor_id FROM ({bq_panel})
),
bqr_approx AS MATERIALIZED (
    SELECT query_id, neighbor_id FROM ({bqr_panel})
)
SELECT e.query_id, 'ivf' AS leg,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / CAST({k} AS DOUBLE) AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
UNION ALL
SELECT e.query_id, 'ivfpq' AS leg,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / CAST({k} AS DOUBLE) AS recall
FROM pq_exact e
LEFT JOIN pq_approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
UNION ALL
SELECT e.query_id, 'graph' AS leg,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / CAST({k} AS DOUBLE) AS recall
FROM pq_exact e
LEFT JOIN graph_approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
UNION ALL
SELECT e.query_id, 'sq8' AS leg,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / CAST({k} AS DOUBLE) AS recall
FROM pq_exact e
LEFT JOIN sq8_approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
UNION ALL
SELECT e.query_id, 'bq' AS leg,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / CAST({k} AS DOUBLE) AS recall
FROM exact e
LEFT JOIN bq_approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
UNION ALL
SELECT e.query_id, 'bq_rescore' AS leg,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / CAST({k} AS DOUBLE) AS recall
FROM pq_exact e
LEFT JOIN bqr_approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


Q_ANN_RECALL_SQL = _q_ann_recall_sql()


FILTERED_PANEL_NQ = 8
FILTERED_K = 5


def q_ann_filtered(spark, sf_dir):
    """X219 — attribute-filtered ANN with selectivity ROUTING
    (similarity.filtered_topk): top-k among only an allowed-id set, the
    filtered-search feature every production vector store pairs with
    ANN. One report exercises BOTH routes (the routing decision is a
    bounded driver scalar, pinned into the hash via the route column):
    - fset 'selective' (vec_id % 16 == 1, 1/16 of the corpus): routes
      to the exact panel over the allowed subset — brute force IS the
      optimal plan under high selectivity, recall 1.0 by construction;
    - fset 'broad' (vec_id % 7 != 0, 6/7): probes the corpus-level IVF
      index (trained state shared via cache_key — a filter never
      retrains) and semi-joins candidates against the allowed set
      BEFORE the per-query top-k cut. Post-filtering a fixed top-k —
      the textbook wrong form that silently under-returns on selective
      filters — is never executed.
    The oracle mirrors the routing with the same scalar-count gate on
    each branch (both branches composed, exactly one returns rows).

    r12 (X221, VERDICT r11 #4): the report also exercises the QUANTIZED
    serving tiers' filtered forms on both fsets — route 'bq' (allowed
    semi-joins the packed 8-byte codes BEFORE the Hamming top-cand cut,
    exact-cosine rescore of the survivors) and route 'sq8' (decode-L2
    candidates over the allowed subset, quantizer stats trained ONCE on
    the full corpus and shared by both fsets — a filter never retrains),
    consolidated here per the zero-gate-slot growth policy.

    r13 decision of record (VERDICT r12 #4): the 6-leg report stays
    CONSOLIDATED at ~3 s — the cost is eval breadth (audited: pre-cut
    semi-joins, memoized stats, no scale-killer), and splitting the
    bq/sq8 legs into a second registry row would spend a permanent gate
    slot (the r11 growth policy) to save ~1.5 s in the ≤1-of-4 windows
    this row occupies. The artifact-served filtered form (X224) is
    pytest-pinned instead of adding a 7th/8th leg here.

    r14 (guide §2.6 — overlap independent jobs, the q_ann_recall
    pattern): the six leg relations are independent until the final
    bounded union, but each leg's routing probe + serve jobs ran
    sequentially. Each leg now materializes (eager localCheckpoint of
    its bounded ≤ nq·k rows) on its own driver thread; the memoized
    artifact dirs resolve on the MAIN thread first so no build races,
    and every leg's own plan is unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    embs = _embs(spark, sf_dir)
    qs = embs.where(F.col("vec_id") < FILTERED_PANEL_NQ)
    # r14: every quantized/indexed leg serves from its memoized
    # persisted artifact (serve_dir) instead of re-assigning /
    # re-packing / re-encoding the corpus per leg per call — the r13
    # codebook-vs-codes doctrine; equalities pytest-pinned (X225 ivf,
    # X221 bq, X226 sq8 filtered-serve pins). The sq8 artifact freezes
    # the same cache_key-memoized stats the scan form trained, so the
    # former explicit `stats` agg is no longer needed here. The
    # selective fset's filtered_topk still routes to the exact panel
    # (raw coordinates — no artifact involved), so serve_dir is unused
    # on that leg by construction.
    ivf_dir = _ivf_index_dir(spark, sf_dir)
    bq_dir = _codes_artifact_dir(spark, sf_dir, "bq")
    sq8_dir = _codes_artifact_dir(spark, sf_dir, "sq8")
    leg_fns = []
    for label, pred in (
        ("selective", F.col("vec_id") % 16 == 1),
        ("broad", F.col("vec_id") % 7 != 0),
    ):
        allowed = embs.where(pred).select("vec_id")
        tag = F.lit(label).alias("fset")
        leg_fns.append(
            lambda allowed=allowed, tag=tag: S.filtered_topk(
                embs, qs, allowed, k=FILTERED_K, cache_key=sf_dir,
                serve_dir=ivf_dir,
            ).select(tag, "*").localCheckpoint(eager=True)
        )
        leg_fns.append(
            lambda allowed=allowed, tag=tag: S.filtered_topk_bq(
                embs, qs, allowed, k=FILTERED_K, serve_dir=bq_dir
            ).select(tag, "*").localCheckpoint(eager=True)
        )
        leg_fns.append(
            lambda allowed=allowed, tag=tag: S.filtered_topk_sq8(
                embs, qs, allowed, k=FILTERED_K, serve_dir=sq8_dir
            ).select(tag, "*").localCheckpoint(eager=True)
        )
    with ThreadPoolExecutor(max_workers=len(leg_fns)) as pool:
        futs = [
            pool.submit(inheritable_thread_target(spark)(fn))
            for fn in leg_fns
        ]
        legs = [f.result() for f in futs]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _q_ann_filtered_sql():
    from mimic2ts_spark.operators.kmeans import (
        _SQL_DIST,
        _sql_quant,
        sql_kmeans_parts,
    )
    from mimic2ts_spark.operators.pq import BQ_RESCORE_CAND, sql_bq_lane
    from mimic2ts_spark.operators.similarity import (
        FILTERED_SELECTIVE_DEN,
        IVF_NPROBE,
    )

    nq, k, cand = FILTERED_PANEL_NQ, FILTERED_K, BQ_RESCORE_CAND
    parts, final_a, final_c = sql_kmeans_parts(
        "embeddings", k=S.sql_derived_cells("embeddings"), prefix="flt_"
    )
    cos = S.sql_cosine("qq.embedding", "nn.embedding")
    cos_exact = S.sql_cosine("q.embedding", "v.embedding")
    # probes rides the kmeans chain only (flt_base / its final centroid
    # CTE), so it belongs immediately after that chain — appended HERE,
    # before the per-label branches that reference it, instead of the
    # former back-computed parts.insert(len(parts)-6, ...) whose magic
    # count broke silently when a per-label CTE was added (ADVICE r11).
    parts.append(f"""flt_probes AS (
    SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT b.vec_id, c.cid,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_SQL_DIST}, c.cid) AS rn
        FROM flt_base b CROSS JOIN {final_c} c WHERE b.vec_id < {nq}
    ) WHERE rn <= {IVF_NPROBE}
)""")
    # shared quantized-tier state (X221): ONE packed-code CTE and ONE
    # full-corpus sq8 quantizer (stats trained on the whole table — the
    # filter never retrains) feed both labels' bq/sq8 candidate stages.
    parts.append(
        f"fbq AS (SELECT vec_id, {sql_bq_lane('embedding', 0)} AS b0, "
        f"{sql_bq_lane('embedding', 1)} AS b1 FROM embeddings)"
    )
    parts.append(
        f"fbq_q AS (SELECT vec_id AS query_id, b0 AS q0, b1 AS q1 "
        f"FROM fbq WHERE vec_id < {nq})"
    )
    parts.append(f"""fsq_qb AS MATERIALIZED (
    SELECT vec_id, s.d AS dim, s.v AS v FROM (
        SELECT vec_id,
               unnest(list_transform(generate_series(1, len(x)),
                   i -> struct_pack(d := CAST(i - 1 AS BIGINT),
                                    v := x[CAST(i AS INTEGER)]))) AS s
        FROM (SELECT vec_id, {_sql_quant('embedding')} AS x
              FROM embeddings) b)
)""")
    parts.append(
        "fsq_st AS (SELECT dim, min(v) AS lo, max(v) AS hi "
        "FROM fsq_qb GROUP BY 1)"
    )
    parts.append("""fsq_dec AS MATERIALIZED (
    SELECT qb.vec_id, qb.dim,
           st.lo + (2 * (CASE WHEN st.hi = st.lo THEN 0
                         ELSE (qb.v - st.lo) * 255 // (st.hi - st.lo) END)
                    + 1) * (st.hi - st.lo) // 510 AS xh
    FROM fsq_qb qb JOIN fsq_st st USING (dim)
)""")
    parts.append(f"fsq_qr AS (SELECT vec_id, dim, v FROM fsq_qb "
                 f"WHERE vec_id < {nq})")
    branches = []
    for label, pred in (
        ("selective", "vec_id % 16 = 1"),
        ("broad", "vec_id % 7 <> 0"),
    ):
        gate = (
            f"(SELECT count(*) FROM {label}_allowed) * "
            f"{FILTERED_SELECTIVE_DEN} <= (SELECT count(*) FROM embeddings)"
        )
        parts.append(
            f"{label}_allowed AS MATERIALIZED "
            f"(SELECT vec_id FROM embeddings WHERE {pred})"
        )
        parts.append(f"""{label}_exact AS (
    SELECT '{label}' AS fset, 'exact' AS route, query_id, neighbor_id,
           cosine, CAST(rn AS BIGINT) AS rank FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               {cos_exact} AS cosine,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_exact} DESC, v.vec_id) AS rn
        FROM (SELECT * FROM embeddings WHERE vec_id < {nq}) q
        JOIN (SELECT e.* FROM embeddings e
              JOIN {label}_allowed al USING (vec_id)) v
          ON v.vec_id <> q.vec_id
    ) WHERE rn <= {k} AND {gate})""")
        parts.append(f"""{label}_ivf AS (
    SELECT '{label}' AS fset, 'ivf' AS route, query_id, neighbor_id,
           cosine, CAST(rn AS BIGINT) AS rank FROM (
        SELECT c.query_id, c.neighbor_id, {cos} AS cosine,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {cos} DESC, c.neighbor_id) AS rn
        FROM (SELECT p.query_id, a.vec_id AS neighbor_id
              FROM flt_probes p
              JOIN {final_a} a ON a.cid = p.cell
              JOIN {label}_allowed al ON al.vec_id = a.vec_id
              WHERE a.vec_id <> p.query_id) c
        JOIN embeddings qq ON qq.vec_id = c.query_id
        JOIN embeddings nn ON nn.vec_id = c.neighbor_id
    ) WHERE rn <= {k} AND NOT ({gate}))""")
        parts.append(f"""{label}_bq_cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY bit_count(xor(c.b0, q.q0))
                            + bit_count(xor(c.b1, q.q1)), c.vec_id) AS rn
        FROM fbq c
        JOIN {label}_allowed al ON al.vec_id = c.vec_id
        CROSS JOIN fbq_q q
        WHERE c.vec_id <> q.query_id
    ) WHERE rn <= {cand})""")
        parts.append(f"""{label}_bq AS (
    SELECT '{label}' AS fset, 'bq' AS route, query_id, neighbor_id,
           cosine, CAST(rn AS BIGINT) AS rank FROM (
        SELECT c.query_id, c.neighbor_id, {cos} AS cosine,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {cos} DESC, c.neighbor_id) AS rn
        FROM {label}_bq_cand c
        JOIN embeddings qq ON qq.vec_id = c.query_id
        JOIN embeddings nn ON nn.vec_id = c.neighbor_id
    ) WHERE rn <= {k})""")
        parts.append(f"""{label}_sq8_cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, neighbor_id) AS rn
        FROM (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   CAST(sum((q.v - d.xh) * (q.v - d.xh)) AS BIGINT) AS d2
            FROM fsq_qr q
            JOIN fsq_dec d ON d.dim = q.dim AND d.vec_id <> q.vec_id
            JOIN {label}_allowed al ON al.vec_id = d.vec_id
            GROUP BY 1, 2)
    ) WHERE rn <= {cand})""")
        parts.append(f"""{label}_sq8 AS (
    SELECT '{label}' AS fset, 'sq8' AS route, query_id, neighbor_id,
           cosine, CAST(rn AS BIGINT) AS rank FROM (
        SELECT c.query_id, c.neighbor_id, {cos} AS cosine,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {cos} DESC, c.neighbor_id) AS rn
        FROM {label}_sq8_cand c
        JOIN embeddings qq ON qq.vec_id = c.query_id
        JOIN embeddings nn ON nn.vec_id = c.neighbor_id
    ) WHERE rn <= {k})""")
        branches += [f"SELECT * FROM {label}_exact",
                     f"SELECT * FROM {label}_ivf",
                     f"SELECT * FROM {label}_bq",
                     f"SELECT * FROM {label}_sq8"]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(branches)


Q_ANN_FILTERED_SQL = _q_ann_filtered_sql()


def q_ann_incremental(spark, sf_dir):
    """X146 — incremental ANN index maintenance: coarse cells are an
    artifact trained on the ACCEPTED corpus (vec_id % 10 != 0, memoized
    per sf_dir like every coarse artifact); the incoming delta batch
    (vec_id % 10 == 0) is assigned to the EXISTING cells in one kernel
    pass — index growth at delta cost, never a retrain. The oracle
    replays the identical base-trained Lloyd chain and assigns the
    delta against its final centroids."""
    embs = _embs(spark, sf_dir)
    base = embs.where(F.col("vec_id") % 10 != 0)
    delta = embs.where(F.col("vec_id") % 10 == 0)
    return S.ivf_delta_assign(base, delta, cache_key=sf_dir + ":ivf_base")


def _q_ann_incremental_sql():
    from mimic2ts_spark.operators.kmeans import (
        _sql_assign,
        _sql_quant,
        sql_kmeans_parts,
    )

    base_tbl = "(SELECT * FROM embeddings WHERE vec_id % 10 <> 0)"
    parts, _, final_c = sql_kmeans_parts(
        base_tbl, k=S.sql_derived_cells(base_tbl), prefix="inc_"
    )
    parts.append(
        "inc_delta AS (SELECT vec_id, "
        + _sql_quant("embedding")
        + " AS x FROM embeddings WHERE vec_id % 10 = 0)"
    )
    parts.append(f"inc_d AS {_sql_assign('inc_delta', final_c)}")
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT vec_id, cid, CAST(d AS BIGINT) AS d FROM inc_d"
    )


Q_ANN_INCREMENTAL_SQL = _q_ann_incremental_sql()


# --- multimodal + streaming ------------------------------------------------


def q_multimodal_features(spark, sf_dir):
    """REAL-decode feature extraction (r05): genuine WAV/PNG/AVI
    containers (attach_media) decode through the stdlib codecs
    (decode_real) and the stripe features are computed over the DECODED
    samples/pixels, width/height over the decoded PNG dims. Oracle-
    checkable because the decoded payload equals the utf-8 text bytes
    by codec correctness (any decoder bug shifts features/checksums and
    fails the hash), and the PNG encoder's width-1 layout pins the
    decoded dims to (1, n)."""
    from mimic2ts_spark.operators.multimodal import (
        attach_media,
        extract_features,
        features_long,
    )

    return features_long(extract_features(attach_media(_docs(spark, sf_dir))))


# Mirrors operators/multimodal.py exactly: the decoded payload is the
# utf-8 text (pure-ASCII corpus, so every byte equals a character code);
# stripe = greatest(1, n // 8); feature i = mean of bytes
# [i*stripe, (i+1)*stripe) with empty chunks → 0.0 (the b"\\x00"
# stand-in); checksum = sum(all bytes) % MOD; width/height = decoded PNG
# dims (1, n) for image rows, 0 otherwise. Single float division of two
# exact integers → bit-equal across engines.
Q_MULTIMODAL_SQL = f"""
WITH b AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS n,
           greatest(1, octet_length(encode(text)) // {_mm.FEATURE_DIM}) AS stripe
    FROM documents
),
bytes AS (
    SELECT b.doc_id, b.stripe, t.i,
           ascii(substr(b.text, CAST(t.i AS INTEGER) + 1, 1)) AS byte
    FROM b, unnest(range(b.n)) AS t(i)
),
doc AS (
    SELECT b.doc_id, b.n AS payload_len,
           CAST(COALESCE(sum(y.byte), 0) % {X.MOD} AS BIGINT) AS checksum
    FROM b LEFT JOIN bytes y ON y.doc_id = b.doc_id
    GROUP BY b.doc_id, b.n
),
feat_present AS (
    SELECT doc_id, i // stripe AS feature_idx,
           CAST(sum(byte) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS feature_value
    FROM bytes
    WHERE i // stripe < {_mm.FEATURE_DIM}
    GROUP BY doc_id, i // stripe
),
feats AS (
    SELECT d.doc_id, g.i AS feature_idx,
           COALESCE(f.feature_value, 0.0) AS feature_value
    FROM doc d
    CROSS JOIN unnest(range({_mm.FEATURE_DIM})) AS g(i)
    LEFT JOIN feat_present f
      ON f.doc_id = d.doc_id AND f.feature_idx = g.i
)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 3 = 0 THEN 'image/png'
            WHEN d.doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/avi' END AS media_type,
       d.payload_len,
       d.checksum,
       CAST(CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS width,
       CAST(CASE WHEN d.doc_id % 3 = 0 THEN d.payload_len ELSE 0 END AS BIGINT)
           AS height,
       f.feature_idx,
       f.feature_value
FROM doc d JOIN feats f ON f.doc_id = d.doc_id
"""


def q_multimodal_decode(spark, sf_dir):
    """REAL container decode: payloads wrapped as genuine WAV (stdlib
    `wave`) and PNG (zlib inflate + CRC-checked chunks + all five
    scanline filters) containers, decoded back by `decode_real`, with a
    per-row roundtrip proof. The decoded payload equals the utf-8 text
    bytes by construction, so the stripe-mean features are exactly the
    byte math DuckDB can compute from `text` — and `roundtrip_ok` must
    be uniformly true (any codec bug flips rows to false and fails the
    hash). Video rows demux through a real RIFF/AVI chunk walk; only
    compressed-codec decode (h264/jpeg/mp3) remains out of reach
    without ffmpeg."""
    from mimic2ts_spark.operators.multimodal import attach_media, decode_features

    feats = decode_features(attach_media(_docs(spark, sf_dir)))
    return feats.select(
        "doc_id",
        "media_type",
        "payload_len",
        "roundtrip_ok",
        F.posexplode("features").alias("feature_idx", "feature_value"),
    ).withColumn("feature_idx", F.col("feature_idx").cast("long"))


Q_MULTIMODAL_DECODE_SQL = f"""
WITH b AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS n,
           greatest(1, octet_length(encode(text)) // {_mm.FEATURE_DIM}) AS stripe
    FROM documents
),
bytes AS (
    SELECT b.doc_id, b.stripe, t.i,
           ascii(substr(b.text, CAST(t.i AS INTEGER) + 1, 1)) AS byte
    FROM b, unnest(range(b.n)) AS t(i)
),
feat_present AS (
    SELECT doc_id, i // stripe AS feature_idx,
           CAST(sum(byte) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS feature_value
    FROM bytes
    WHERE i // stripe < {_mm.FEATURE_DIM}
    GROUP BY doc_id, i // stripe
),
feats AS (
    SELECT b.doc_id, g.i AS feature_idx,
           COALESCE(f.feature_value, 0.0) AS feature_value
    FROM b
    CROSS JOIN unnest(range({_mm.FEATURE_DIM})) AS g(i)
    LEFT JOIN feat_present f
      ON f.doc_id = b.doc_id AND f.feature_idx = g.i
)
SELECT b.doc_id,
       CASE WHEN b.doc_id % 3 = 0 THEN 'image/png'
            WHEN b.doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/avi' END AS media_type,
       b.n AS payload_len,
       TRUE AS roundtrip_ok,
       f.feature_idx,
       f.feature_value
FROM b JOIN feats f ON f.doc_id = b.doc_id
"""


def q_multimodal_frames(spark, sf_dir):
    """Video frame sampling over REAL demuxed frames (r05): the
    RIFF/AVI chunk walk produces the frame list (256-byte '00db'
    chunks, last frame short), every 5th frame becomes a scalar row.
    The fixed frame size makes the per-frame byte math exactly
    expressible in DuckDB — and any demux bug (padding, chunk sizes)
    shifts frame boundaries and fails the hash."""
    from mimic2ts_spark.operators.multimodal import attach_media, sample_frames

    return sample_frames(attach_media(_docs(spark, sf_dir)))


def _frames_sql():
    from mimic2ts_spark.operators.multimodal import AVI_FRAME_BYTES, FRAME_STRIDE

    fb = AVI_FRAME_BYTES
    return f"""
WITH v AS (
    SELECT doc_id, text, octet_length(encode(text)) AS n,
           (octet_length(encode(text)) + {fb - 1}) // {fb} AS n_frames
    FROM documents WHERE doc_id % 3 = 2
),
fidx AS (
    SELECT v.doc_id, v.n, v.n_frames, f.i AS frame_idx
    FROM v, unnest(range(0, v.n_frames, {FRAME_STRIDE})) AS f(i)
),
bytes AS (
    SELECT v.doc_id, t.i,
           ascii(substr(v.text, CAST(t.i AS INTEGER) + 1, 1)) AS byte
    FROM v, unnest(range(v.n)) AS t(i)
)
SELECT f.doc_id,
       CAST(f.n_frames AS BIGINT) AS n_frames,
       CAST(f.frame_idx AS BIGINT) AS frame_idx,
       CAST(count(b.byte) AS BIGINT) AS frame_len,
       CAST(COALESCE(sum(b.byte), 0) % {X.MOD} AS BIGINT) AS frame_checksum
FROM fidx f LEFT JOIN bytes b
  ON b.doc_id = f.doc_id
 AND b.i >= f.frame_idx * {fb} AND b.i < (f.frame_idx + 1) * {fb}
GROUP BY f.doc_id, f.n_frames, f.frame_idx
"""


Q_MULTIMODAL_FRAMES_SQL = _frames_sql()


def q_multimodal_resize(spark, sf_dir):
    """Image resize over REAL decoded pixels (r05): the PNG decodes
    through the CRC-checked chunk walk + all-five-filters unfilter, and
    nearest-neighbor taps sample the DECODED pixel buffer into a fixed
    8×6 grid. Decoded pixels equal the text bytes by codec correctness,
    so every tap is expressible in DuckDB and the fixed-size-output
    contract is hash-checked; width/height are the decoded dims."""
    from mimic2ts_spark.operators.multimodal import attach_media, resize_images

    return resize_images(attach_media(_docs(spark, sf_dir)))


def _resize_sql():
    from mimic2ts_spark.operators.multimodal import RESIZE_H, RESIZE_W

    n_px = RESIZE_W * RESIZE_H
    return f"""
WITH img AS (
    SELECT doc_id, text, octet_length(encode(text)) AS n
    FROM documents WHERE doc_id % 3 = 0
),
taps AS (
    SELECT i.doc_id,
           ascii(substr(i.text, CAST(k.k * i.n // {n_px} AS INTEGER) + 1, 1)) AS byte
    FROM img i, unnest(range({n_px})) AS k(k)
    WHERE i.n > 0
)
SELECT i.doc_id,
       CAST(1 AS BIGINT) AS width,
       CAST(i.n AS BIGINT) AS height,
       CAST({RESIZE_W} AS BIGINT) AS out_w,
       CAST({RESIZE_H} AS BIGINT) AS out_h,
       CAST(count(t.byte) AS BIGINT) AS n_sampled,
       CAST(COALESCE(sum(t.byte), 0) % {X.MOD} AS BIGINT) AS resized_checksum
FROM img i LEFT JOIN taps t ON t.doc_id = i.doc_id
GROUP BY i.doc_id, i.n
"""


Q_MULTIMODAL_RESIZE_SQL = _resize_sql()


def q_stream_tumbling(spark, sf_dir):
    """Structured Streaming tumbling-window agg driven to completion; in
    complete mode the result equals the batch GROUP BY, so it IS
    oracle-checkable."""
    from mimic2ts_spark.streaming import run_tumbling_available_now

    return run_tumbling_available_now(spark, sf_dir)


Q_STREAM_TUMBLING_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
       event_type,
       CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100 AS sum_value,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_stream_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState
    sessionization) drained to completion; equals the batch
    gaps-and-islands window query, which is the oracle."""
    from mimic2ts_spark.streaming import run_sessionize_available_now

    return run_sessionize_available_now(spark, sf_dir)


Q_STREAM_SESSIONIZE_SQL = """
WITH e AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
m AS (
    SELECT user_id, sec, cents,
           CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
                THEN 1 ELSE 0 END AS brk
    FROM e
),
i AS (
    SELECT user_id, sec, cents,
           sum(brk) OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS island
    FROM m
)
SELECT user_id, min(sec) AS session_start, max(sec) AS session_end,
       count(*) AS n_events, CAST(sum(cents) AS DOUBLE) / 100 AS sum_value
FROM i GROUP BY user_id, island
"""


def q_stream_clamp(spark, sf_dir):
    """Streaming early-clamp bucket mean (SURVEY §2.12 completion):
    stream-static broadcast join against the derived stay dim, native
    clamp/bucket/late-drop columns, stateful per-stay integer-cents
    accumulation — drained result equals the batch q_agg_mean_bucket, so
    that query's SQL is the oracle."""
    from mimic2ts_spark.streaming import run_clamped_bucket_available_now

    return run_clamped_bucket_available_now(spark, sf_dir)


# harness defines this SQL before importing harness_ext at its bottom, so
# the partially-initialized module already carries the attribute
from mimic2ts_spark import harness as _h  # noqa: E402

Q_STREAM_CLAMP_SQL = _h.Q_AGG_MEAN_BUCKET_SQL


def q_stream_sliding(spark, sf_dir):
    """Sliding-window (2h/1h) streaming agg in APPEND mode with a
    10-minute watermark: trailing windows the watermark never passes are
    withheld — the batch oracle reproduces the cutoff as
    window_end*1000 <= max(epoch_ms) - 600000."""
    from mimic2ts_spark.streaming import run_sliding_available_now

    return run_sliding_available_now(spark, sf_dir)


Q_STREAM_SLIDING_SQL = """
WITH ev AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type, value FROM events
),
wins AS (
    SELECT (CAST(floor(sec / 3600) AS BIGINT) - offs.o) * 3600 AS window_start,
           event_type, value
    FROM ev CROSS JOIN (SELECT unnest([0::BIGINT, 1::BIGINT]) AS o) offs
),
agg AS (
    SELECT window_start, event_type,
           CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100
             AS sum_value,
           count(*) AS n_events
    FROM wins GROUP BY 1, 2
),
wm AS (SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM events)
SELECT a.window_start, a.event_type, a.sum_value, a.n_events
FROM agg a, wm WHERE (a.window_start + 7200) * 1000 <= wm.wm_ms
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark, bounded
    state): drained key set equals the batch SELECT DISTINCT."""
    from mimic2ts_spark.streaming import run_dedup_available_now

    return run_dedup_available_now(spark, sf_dir)


Q_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type,
       CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start
FROM events
"""


def q_stream_dedup_incremental(spark, sf_dir):
    """Ingest-time near-dup gate: a STREAM of incoming docs (the
    doc_id%10==0 shard) checked against the static accepted corpus via
    a stream-static prefix-posting join — the streaming form of
    q_dedup_incremental, whose batch oracle it must equal exactly
    (same AllPairs pruning, same verify)."""
    from mimic2ts_spark.streaming import run_incremental_dedup_available_now

    return run_incremental_dedup_available_now(spark, sf_dir)


def q_stream_join(spark, sf_dir):
    """Stream-stream interval join (click→purchase attribution within a
    1-hour lookback, watermarks bounding the buffered state on both
    sides) drained to completion; an inner join's drained output equals
    the batch interval join, which is the oracle."""
    from mimic2ts_spark.streaming import run_attribution_available_now

    return run_attribution_available_now(spark, sf_dir)


Q_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts_s,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_s,
       p.value AS purchase_value
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
"""


# --- dataset split + chunking ----------------------------------------------


def q_epoch_shuffle(spark, sf_dir):
    """X136 — deterministic per-epoch training-order shuffle: order
    code = md5("{epoch}:{id}") (fresh permutation per epoch, no
    rand()), sharded by code % 16, position = row_number within the
    shard — ONE shuffle + per-shard local sort, never a global sort
    (the epoch loader consumes shard-major, one shard per worker).
    Raw scan, no spread repartition: only doc_id is read (column
    pruning) and the shard exchange redistributes anyway — a second
    exchange would be pure waste."""
    from mimic2ts_spark.operators.split import epoch_shuffle

    ids = memo.read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return epoch_shuffle(ids, "doc_id", epoch=3)


def _q_epoch_shuffle_sql():
    from mimic2ts_spark.operators.split import epoch_shuffle_sql

    return epoch_shuffle_sql("documents", "doc_id", epoch=3)


Q_EPOCH_SHUFFLE_SQL = _q_epoch_shuffle_sql()


def q_split_hash(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by md5 bucket of
    doc_id, aggregated per (split, source). Pure hash-space cuts:
    reproducible across engines, retries, and appends (no rand())."""
    from mimic2ts_spark.operators.split import with_split

    d = _docs(spark, sf_dir)
    return (
        with_split(d, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _split_sql():
    from mimic2ts_spark.operators.split import split_case_sql

    return f"""
SELECT {split_case_sql('doc_id')} AS split, source,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2
"""


Q_SPLIT_HASH_SQL = _split_sql()


def q_corpus_manifest(spark, sf_dir):
    """The composed corpus-curation pipeline in ONE declarative plan —
    what a training-data job actually runs end to end: quality +
    language gate → exact-dedup canonical filter (min doc_id per
    md5(text), left-semi) → deterministic hash split → per-(split,
    source) manifest stats (docs, tokens, exact integer-micros mean
    quality). Every stage is an already-oracle-checked operator; the
    composition is itself hash-checked against DuckDB running the same
    four stages. One scan; the only shuffles are the dedup groupBy and
    the final manifest aggregate — filters and the split label are
    narrow."""
    from mimic2ts_spark.operators.split import with_split

    t = F.col("text")
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        "source",
        X.quality_score(t).alias("q"),
        X.lang_id(t).alias("lang_pred"),
        X.token_count(t).alias("n_tokens"),
    )
    # persisted NARROW (r14, guide §5): both consumers (the canonical
    # min-id aggregate and the manifest aggregate) re-ran the
    # compute-dense quality/lang/token regex pass; the persisted
    # projection carries md5(text) instead of text, so the cache is
    # scalar-width at any corpus size (the span_dedup/dsir token-level
    # counterexample does not apply)
    kept = (
        scored.where((F.col("q") >= 0.25) & (F.col("lang_pred") == "en"))
        .select(
            "doc_id", "source", "q", "n_tokens", F.md5("text").alias("_h")
        )
        .persist()
    )
    canon = kept.groupBy(F.col("_h").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    kept = kept.join(canon.select("doc_id"), "doc_id", "left_semi")
    micros = F.round(F.col("q") * 1_000_000, 0).cast("long")
    return (
        with_split(kept, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            (
                F.sum(micros).cast("double")
                / (F.count(F.lit(1)) * 1_000_000).cast("double")
            ).alias("mean_quality"),
        )
    )


def _corpus_manifest_sql():
    from mimic2ts_spark.operators.split import split_case_sql

    ntok = X.SQL_TOKEN_COUNT.format(text="text")
    stop = X.SQL_STOP_HITS.format(text="text")
    quality = (
        f"least(1.0, CAST({ntok} AS DOUBLE) / 200.0) * 0.5"
        f" + least(1.0, (CAST({stop} AS DOUBLE) / CAST({ntok} AS DOUBLE)) * 4.0) * 0.5"
    )
    return f"""
WITH scored AS (
    SELECT doc_id, text, source,
           {quality} AS q,
           CASE WHEN {stop} >= 2 THEN 'en' ELSE 'und' END AS lang_pred,
           {ntok} AS n_tokens
    FROM documents
),
kept AS (SELECT * FROM scored WHERE q >= 0.25 AND lang_pred = 'en'),
canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
kept2 AS (SELECT k.* FROM kept k JOIN canon c ON c.doc_id = k.doc_id)
SELECT {split_case_sql('doc_id')} AS split, source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(CAST(round(q * 1000000) AS BIGINT)) AS DOUBLE)
         / CAST(count(*) * 1000000 AS DOUBLE) AS mean_quality
FROM kept2 GROUP BY 1, 2
"""


Q_CORPUS_MANIFEST_SQL = _corpus_manifest_sql()


def q_doc_chunks(spark, sf_dir):
    """Overlapping fixed-token-window chunking (50-token windows,
    stride 40) — the training-context packing primitive. Tokenize-once
    explode; rows carry the chunk md5 instead of the text."""
    return X.chunk_docs(_docs(spark, sf_dir)).select(
        "doc_id", "chunk_idx", "start_tok", "n_chunk_tokens", "chunk_hash"
    )


Q_DOC_CHUNKS_SQL = X.chunk_docs_sql()


def q_source_jsonl(spark, sf_dir):
    """JSONL source/sink round trip: documents → line-delimited JSON →
    read back with an EXPLICIT schema (schema-on-read discipline — at
    100 TB inference re-reads the whole input; an explicit schema makes
    the read one pass and type-stable). Text fidelity through JSON
    escaping is pinned by an md5-code checksum per (source, lang):
    byte-identical text, or the oracle (reading the parquet originals)
    hash-mismatches. All columns are long/string so the trip is
    lossless by construction."""

    from mimic2ts_spark.operators.sketch import kmv_code

    out = session_tmpdir(prefix="source_jsonl_")
    memo.read_parquet(spark, f"{sf_dir}/documents.parquet").write.mode(
        "overwrite"
    ).json(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(kmv_code(F.col("text")) % 1000000007).alias("text_checksum"),
    )


def _jsonl_sql():
    code = X.SQL_CODE.format(tok="text")
    return f"""
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum({code} % 1000000007) AS BIGINT) AS text_checksum
FROM documents GROUP BY source, lang
"""


Q_SOURCE_JSONL_SQL = _jsonl_sql()


def q_source_csv_gz(spark, sf_dir):
    """X108 — gzip-compressed CSV source/sink round trip: documents →
    csv.gz (headered, quoted) → explicit-schema read-back. Exercises
    the two remaining scan axes in one query: the text-format escaping
    discipline (quotes/delimiters survive or the md5-code checksum
    mismatches) and codec-wrapped input (gzip is NOT splittable — at
    100 TB that means one task per file, so the writer must bound file
    size; the read here inherits the write's partitioning). Fidelity
    oracle = the same checksum over the parquet originals."""

    from mimic2ts_spark.operators.sketch import kmv_code

    out = session_tmpdir(prefix="source_csvgz_")
    (
        memo.read_parquet(spark, f"{sf_dir}/documents.parquet")
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .option("quote", '"')
        .option("escape", '"')  # RFC-4180 doubled quotes, pinned both sides
        .csv(out)
    )
    back = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("header", True)
        # lossless by construction, not by current-corpus luck: a text field
        # containing an embedded newline is written quoted-multiline and
        # would otherwise be parsed as two records; pin the quote/escape
        # discipline the writer used. (multiLine forfeits intra-file split
        # parallelism, but gzip input is one-task-per-file anyway.)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(out)
    )
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(kmv_code(F.col("text")) % 1000000007).alias("text_checksum"),
    )


def q_interarrival(spark, sf_dir):
    """X114 — per-event-type inter-arrival statistics: the burstiness /
    rate diagnostic for event streams (capacity planning, anomaly
    baselines). Per user+type consecutive gaps via ONE lag window
    (shuffle on user), then exact p50/p90 gap seconds and the exact
    integer mean-gap numerator per event_type. Tie-safe ordering via
    event_id."""
    from pyspark.sql import Window as W

    ev = _h._t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec")
    )
    w = W.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    gaps = ev.withColumn("gap", F.col("sec") - F.lag("sec").over(w)).where(
        F.col("gap").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("sum_gap_s"),
        F.expr("percentile(gap, 0.5)").alias("p50_gap_s"),
        F.expr("percentile(gap, 0.9)").alias("p90_gap_s"),
    )


Q_INTERARRIVAL_SQL = """
WITH g AS (
    SELECT event_type,
           sec - lag(sec) OVER (
               PARTITION BY user_id, event_type ORDER BY sec, event_id
           ) AS gap
    FROM (SELECT user_id, event_type, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(gap) AS BIGINT) AS sum_gap_s,
       quantile_cont(gap, 0.5) AS p50_gap_s,
       quantile_cont(gap, 0.9) AS p90_gap_s
FROM g WHERE gap IS NOT NULL
GROUP BY 1
"""


def q_dup_histogram(spark, sf_dir):
    """X115 — duplicate-cluster size histogram: dedup observability —
    how duplicated IS the corpus (the number the 10× sweep's exact
    10:1 collapse shows up in). exact_dedup's per-hash copy counts
    re-aggregated into (cluster_size, n_clusters, docs_affected);
    two tiny hash-aggs after the one corpus scan."""
    from mimic2ts_spark.operators.dedup import exact_dedup

    groups = exact_dedup(_docs(spark, sf_dir))
    return groups.groupBy(F.col("n_copies").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n_copies").cast("long").alias("docs_affected"),
    )


Q_DUP_HISTOGRAM_SQL = """
WITH groups AS (
    SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
)
SELECT n_copies AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n_copies) AS BIGINT) AS docs_affected
FROM groups GROUP BY 1
"""


def q_dataset_card(spark, sf_dir):
    """X113 — per-source dataset card in ONE pass: the datasheet a
    corpus release ships (doc/token counts, quality mass as
    order-independent integer micro-units, exact median doc length,
    predicted-English per-mille). One scan, one hash-agg — the point is
    that the whole card is a single multi-aggregate job, not a metric
    per pass."""
    d = _docs(spark, sf_dir).select(
        "source",
        X.token_count(F.col("text")).alias("n_tok"),
        (X.quality_score(F.col("text")) * 1000000).alias("q_micro_raw"),
        (X.lang_id(F.col("text")) == "en").cast("long").alias("is_en"),
    ).select(
        "source",
        "n_tok",
        F.expr("CAST(round(q_micro_raw) AS BIGINT)").alias("q_micro"),
        "is_en",
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("q_micro").alias("sum_quality_micro"),
        F.expr("percentile(n_tok, 0.5)").alias("p50_tokens"),
        F.expr("(1000 * sum(is_en)) div count(*)").alias("permille_en"),
    )


def _q_dataset_card_sql():
    tc = X.SQL_TOKEN_COUNT.format(text="text")
    sh = X.SQL_STOP_HITS.format(text="text")
    quality = (
        f"least(1.0, CAST({tc} AS DOUBLE) / 200.0) * 0.5 "
        f"+ least(1.0, (CAST({sh} AS DOUBLE) / CAST({tc} AS DOUBLE)) * 4.0) * 0.5"
    )
    return f"""
WITH d AS (
    SELECT source, {tc} AS n_tok,
           CAST(round(({quality}) * 1000000) AS BIGINT) AS q_micro,
           CASE WHEN {sh} >= 2 THEN 1 ELSE 0 END AS is_en
    FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(q_micro) AS BIGINT) AS sum_quality_micro,
       quantile_cont(n_tok, 0.5) AS p50_tokens,
       CAST((1000 * sum(is_en)) // count(*) AS BIGINT) AS permille_en
FROM d GROUP BY 1
"""


Q_DATASET_CARD_SQL = _q_dataset_card_sql()


def q_lang_confusion(spark, sf_dir):
    """X112 — language-ID confusion matrix: the eval-diagnostic every
    classifier in a filter pipeline needs before its output gates data.
    Labeled lang × predicted lang counts plus the integer per-mille hit
    rate of each true-label row (one scan, one tiny hash-agg, a
    label-count window for the rate — rates as exact integer per-mille,
    no float division)."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir).select(
        "lang", X.lang_id(F.col("text")).alias("lang_pred")
    )
    cells = d.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = W.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        F.expr("(1000 * n)").cast("long").alias("_num"),
        F.sum("n").over(tot).alias("_den"),
    ).select(
        "lang",
        "lang_pred",
        "n",
        F.expr("_num div _den").alias("permille_of_label"),
    )


Q_LANG_CONFUSION_SQL = f"""
WITH cells AS (
    SELECT lang,
           CASE WHEN {X.SQL_STOP_HITS.format(text='text')} >= 2
                THEN 'en' ELSE 'und' END AS lang_pred,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
)
SELECT lang, lang_pred, n,
       CAST((1000 * n) // sum(n) OVER (PARTITION BY lang) AS BIGINT)
           AS permille_of_label
FROM cells
"""


SORTED_LO, SORTED_HI = 40, 59  # the probed user range


def q_layout_sorted(spark, sf_dir):
    """X111 — range-sorted write + data-skipping readback: events are
    written repartitionByRange(user_id) + sortWithinPartitions(user_id,
    ts) — the 1-D companion to the Z-order layout (X93): every file
    covers a tight user range, so a user predicate prunes whole files
    via parquet min/max stats AND row groups within them. The readback
    aggregates a 20-user band; the filter must reach the scan
    (plan-pinned as pushed filters on the sorted files). Oracle: the
    same aggregate over the original unsorted table — layout can never
    change results, only I/O."""

    ev = _h._t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = session_tmpdir(prefix="layout_sorted_")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(
        F.col("user_id").between(SORTED_LO, SORTED_HI)
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_cents"),
    )


Q_LAYOUT_SORTED_SQL = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE user_id BETWEEN {SORTED_LO} AND {SORTED_HI}
GROUP BY 1
"""


def q_source_orc(spark, sf_dir):
    """ORC source/sink round trip (Spark-native columnar alternative to
    parquet — zlib-compressed, predicate-pushdown-capable): documents →
    ORC → explicit-schema read-back, fidelity pinned by the same
    md5-code checksum oracle as the JSONL trip (DuckDB reads the
    parquet originals; any ORC write/read corruption hash-mismatches)."""

    from mimic2ts_spark.operators.sketch import kmv_code

    out = session_tmpdir(prefix="source_orc_")
    memo.read_parquet(spark, f"{sf_dir}/documents.parquet").write.mode(
        "overwrite"
    ).orc(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).orc(out)
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(kmv_code(F.col("text")) % 1000000007).alias("text_checksum"),
    )


def q_sample_topk_hash(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sample: rank docs inside
    each (source) stratum by md5 code of doc_id and keep the k
    smallest — a reservoir sample whose 'random' order is a pure hash
    (reproducible across engines/retries/appends; complements the
    rate-based q_sample_stratified). Spark ≥3.5 plans the rank filter
    as WindowGroupLimit: per-partition top-k heaps before the single
    window shuffle, so the full sort never materializes."""
    from pyspark.sql import Window

    from mimic2ts_spark.operators.sketch import kmv_code

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(kmv_code(F.col("doc_id")), "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("source", F.col("rk").cast("long").alias("rk"), "doc_id", "n_chars")
    )


def _topk_hash_sql():
    code = X.SQL_CODE.format(tok="CAST(doc_id AS VARCHAR)")
    return f"""
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars FROM (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY {code}, doc_id) AS rk
    FROM documents
) WHERE rk <= 10
"""


Q_SAMPLE_TOPK_HASH_SQL = _topk_hash_sql()


def q_text_normalize(spark, sf_dir):
    """Text cleaning: lowercase + non-alphanumeric collapse + trim —
    the normalization pass that precedes tokenization in a training
    pipeline. Identity pinned by the normalized text's md5 code plus
    before/after lengths (the gate compares the full cleaned string via
    its hash without shipping 100 TB of text through the compare)."""
    from mimic2ts_spark.operators.sketch import kmv_code

    t = F.col("text")
    norm = X.normalize_text(t)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        kmv_code(norm).alias("norm_code"),
    )


def _normalize_sql():
    norm = X.SQL_NORMALIZE.format(text="text")
    code = X.SQL_CODE.format(tok=norm)
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length({norm}) AS BIGINT) AS n_chars_norm,
       {code} AS norm_code
FROM documents
"""


Q_TEXT_NORMALIZE_SQL = _normalize_sql()


# The minhash-pair + connected-components labeling is an ARTIFACT of
# the corpus (the r05 coarse-centroid/PQ-codebook framing): clusters /
# representative-selection / leakage-safe-split all consume the same
# (doc_id, cluster_id) mapping, and re-deriving pairs+CC per query made
# them the #1/#2 bench entries (r05 verdict §3). Memoized per
# (sf_dir, threshold) and persisted. The CC plan's lineage is truncated
# at per-round localCheckpoints, so a release_storage() flush makes the
# memo UNRECOMPUTABLE — the cache registers as a plan cache and the
# flush clears it too (gate per-query hygiene rebuilds; a bench session
# flushes once before timing and then shares the artifact).
from mimic2ts_spark.session import register_plan_cache

_CC_LABELS_CACHE: dict = register_plan_cache({})


def _dedup_cluster_labels(spark, sf_dir, threshold: float = 0.8):
    """(doc_id, cluster_id) for EVERY doc (cluster = min doc_id of the
    minhash-LSH connected component, self when unpaired) — computed
    once per (sf_dir, threshold) per process.

    EXACT-FIRST since r09 (the maintain-cluster composition, VERDICT
    r08 weak #4 — the default API a naive user reaches is now the scale
    path): CC runs over CANONICAL near-dup pairs and every doc takes
    its canonical's component label. Labels are IDENTICAL to the
    raw-pair form — identical text ⇒ identical signature ⇒ the
    canonical pair collides in the same bands with the same jaccard, so
    components project exactly, and the component min over canonicals
    IS the min over all members (each canonical is its exact group's
    minimum) — pinned by test_dedup_cluster_labels_equal_raw AND by the
    gate every round (the ORACLE is still the raw recursive CTE). The
    duplicate-heavy Θ(cluster²) pair blow-up never happens: 437 s →
    ~30 s at the 100× dup-heavy sweep.

    SHORT-DOC BOUNDARY (ADVICE r09): minhash_lsh_pairs only considers
    docs with ≥ SHINGLE_N tokens, so in the raw form a sub-shingle doc
    NEVER pairs and labels itself — even when byte-identical copies
    exist. The exact-group projection therefore applies only to docs
    with ≥ SHINGLE_N tokens (identical text ⇒ identical token count, so
    every exact group is homogeneous in eligibility and the eligible
    groups' canonical ids are unchanged); shorter docs keep self-labels,
    restoring exact equality with the raw CC on EVERY corpus, including
    duplicated empty/one-word docs (pinned by
    test_dedup_cluster_labels_short_dup_docs)."""
    key = (sf_dir, threshold)
    got = _CC_LABELS_CACHE.get(key)
    if got is None:
        # pairs from the shared per-corpus disk artifact (r12 —
        # value-identical to the in-helper derivation)
        got = dedup_cluster_labels_for(
            _docs(spark, sf_dir), threshold,
            pairs=_canon_pairs(spark, sf_dir, threshold),
        )
        _CC_LABELS_CACHE[key] = got
    return got.persist()


def dedup_cluster_labels_for(docs, threshold: float = 0.8, pairs=None):
    """The exact-first labeling composition over an arbitrary docs
    DataFrame — module-level so constructed fixtures drive the REAL
    helper (the r03 blocking-completeness lesson); see
    _dedup_cluster_labels for the theorem and the short-doc boundary.
    `pairs` swaps in an already-materialized canonical pair relation
    (the _canon_pairs artifact); None derives it here."""
    from mimic2ts_spark.operators.cluster import connected_components
    from mimic2ts_spark.operators.dedup import SHINGLE_N
    from mimic2ts_spark.operators.text import tokens

    eligible = docs.where(F.size(tokens(F.col("text"))) >= SHINGLE_N)
    canon = (
        eligible.groupBy(F.md5(F.col("text")).alias("_h"))
        .agg(F.min("doc_id").alias("_canon"))
        .join(
            eligible.select("doc_id", F.md5(F.col("text")).alias("_h")),
            "_h",
        )
        .select("doc_id", "_canon")
    )
    pairs_c = (
        pairs
        if pairs is not None
        else D.canonical_near_dup_pairs(docs, threshold=threshold)
    )
    comp = connected_components(pairs_c)
    labeled = (
        canon.join(
            comp.select(F.col("node").alias("_canon"), "comp"),
            "_canon",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("_canon")).alias("_lab"),
        )
    )
    return (
        docs.select("doc_id")
        .join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_lab"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def q_dedup_clusters(spark, sf_dir):
    """Pairs → clusters: connected components over the MinHash-LSH
    near-dup pair list (hash-to-min label propagation with pointer
    jumping, O(log n) rounds — operators/cluster.py), then every doc
    tagged with its cluster id (min doc_id of the component, self when
    unpaired). This is the step that turns any pairwise dedup into a
    keep-one-per-cluster filter; the labeling is the shared memoized
    artifact (_dedup_cluster_labels). Oracle: DuckDB recursive CTE
    computing the same transitive closure.

    EXACT-FIRST since r09: the labeling runs the canonical composition
    (see _dedup_cluster_labels — ~30 s vs 437 s raw at the 100×
    dup-heavy sweep) while the ORACLE remains the raw recursive CTE,
    so the gate hash re-proves the label-equality theorem on real data
    every round; the raw Spark form survives as the pytest baseline
    (test_dedup_cluster_labels_equal_raw)."""
    return _dedup_cluster_labels(spark, sf_dir)


_MINHASH_BODY = Q_DEDUP_MINHASH_SQL.strip().removeprefix("WITH")

Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_MINHASH_BODY.split('SELECT doc_a, doc_b, jaccard')[0].rstrip().rstrip(',')},
mh AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.8),
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM mh
    UNION
    SELECT doc_b, doc_a FROM mh
),
reach(node, lab) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM sym) AS base(u)
    UNION
    SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node
),
comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q_dedup_representatives(spark, sf_dir):
    """X128 — cluster representative selection by QUALITY: a real
    dedup pipeline keeps the best member of each near-dup cluster, not
    the min-id one. Connected components over the MinHash pairs, then
    per-cluster argmax on (quality_score DESC, doc_id) via
    row_number=1 (plans as WindowGroupLimit — per-partition top-1
    heaps, no full sort) plus the cluster size. The quality float rides
    the shared fixed expression tree, so it hashes bit-equal. The
    pairs+CC labeling comes from the shared memoized artifact
    (_dedup_cluster_labels) — one computation per corpus per process.

    EXACT-FIRST since r09 via the shared labeling (318 s raw → CC over
    canonical pairs); the per-doc quality join and the top-1 window
    still run over ALL docs (selection must see every member), which is
    one linear pass."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    labeled = _dedup_cluster_labels(spark, sf_dir).join(
        docs.select("doc_id", X.quality_score(F.col("text")).alias("q")), "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("q"), "doc_id")
    rep = (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("q").alias("rep_quality"),
        )
    )
    counts = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return rep.join(counts, "cluster_id")


def _q_dedup_reps_sql():
    quality = (
        f"least(1.0, CAST({X.SQL_TOKEN_COUNT.format(text='d.text')} AS DOUBLE) / 200.0) * 0.5"
        f" + least(1.0, (CAST({X.SQL_STOP_HITS.format(text='d.text')} AS DOUBLE)"
        f" / CAST({X.SQL_TOKEN_COUNT.format(text='d.text')} AS DOUBLE)) * 4.0) * 0.5"
    )
    body = Q_DEDUP_CLUSTERS_SQL.rsplit("SELECT d.doc_id", 1)[0].rstrip()
    return f"""{body},
labeled AS (
    SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id, {quality} AS q
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
    FROM labeled
),
counts AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
    FROM labeled GROUP BY 1
)
SELECT r.cluster_id, r.doc_id AS rep_doc_id, r.q AS rep_quality, c.n_members
FROM ranked r JOIN counts c USING (cluster_id)
WHERE r.rn = 1
"""


Q_DEDUP_REPS_SQL = _q_dedup_reps_sql()


def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: near-duplicate documents must
    land in the SAME split (splitting by doc hash leaks near-dup
    content from train into eval — the classic contamination bug), so the hash
    split is applied to the dedup CLUSTER id (connected components over
    minhash pairs; unpaired docs are their own cluster). Output is the
    per-split manifest (docs, clusters). By construction no cluster
    spans splits; the oracle recomputes the same clustering (recursive
    CTE) and the same hash cut. The labeling is the shared memoized
    pairs+CC artifact (_dedup_cluster_labels)."""
    from mimic2ts_spark.operators.split import with_split

    tagged = _dedup_cluster_labels(spark, sf_dir)
    return (
        with_split(tagged, "cluster_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
    )


def _split_leakage_sql():
    from mimic2ts_spark.operators.split import split_case_sql

    cte = Q_DEDUP_CLUSTERS_SQL.rsplit("SELECT d.doc_id", 1)[0]
    return f"""{cte}
SELECT {split_case_sql('cluster_id')} AS split,
       count(*) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id) tagged
GROUP BY 1
"""


Q_SPLIT_LEAKAGE_SQL = _split_leakage_sql()


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"[0-9]{3}-[0-9]{4}"


def q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing — the redaction pass every released corpus runs.
    The word-only synthetic corpus contains no natural PII, so each doc
    is prefixed with a DETERMINISTIC contact header (email + phone
    derived from doc_id) that the scrubber must then redact — the
    replacement path genuinely fires on every row and the oracle
    rebuilds the identical input. ASCII-literal patterns keep Java and
    RE2 regex semantics byte-identical; md5 of the scrubbed text pins
    the exact output, and the match counts are taken BEFORE scrubbing."""
    d = _docs(spark, sf_dir)
    contact = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "), F.col("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(contact, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(contact, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(contact, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


Q_TEXT_PII_SCRUB_SQL = f"""
WITH c AS (
    SELECT doc_id,
           'user' || CAST(doc_id AS VARCHAR) || '@example.com call 555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text
             AS contact
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(contact, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(contact, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(contact, '{PII_EMAIL}', '<EMAIL>', 'g'),
                  '{PII_PHONE}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len,
       md5(regexp_replace(regexp_replace(contact, '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM c
"""


DRIFT_TOP_K = 10


def q_source_drift(spark, sf_dir):
    """Corpus drift / over-representation detector: for each source,
    the tokens whose observed count deviates most from the
    global-mixture expectation. The deviation |obs·N − src_total·glob|
    (the χ² numerator before normalization, and the same ranking as
    the squared form) stays entirely in int64 — no float divisions or
    logs whose engine-specific rounding would break the hash — and the
    per-source top-k plans as WindowGroupLimit. Consumers divide by
    src_total·glob·N for the actual χ² contribution."""
    from pyspark.sql import Window

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(X.tokens(F.col("text"))).alias("token")
    ).where(F.length("token") > 0)
    obs = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("obs"))
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("src_tokens"))
    glob = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tok_global"))
    total = toks.agg(F.count(F.lit(1)).alias("total_tokens"))
    j = (
        obs.join(src_tot, "source")
        .join(glob, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "abs_dev",
            F.abs(
                F.col("obs") * F.col("total_tokens")
                - F.col("src_tokens") * F.col("tok_global")
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("abs_dev"), "token")
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= DRIFT_TOP_K)
        .select(
            "source", "token", "obs", "src_tokens", "tok_global",
            "total_tokens", "abs_dev",
        )
    )


Q_SOURCE_DRIFT_SQL = f"""
WITH toks AS (
    SELECT source, t.tok AS token
    FROM documents, unnest({X.SQL_TOKENS.format(text='text')}) AS t(tok)
    WHERE length(t.tok) > 0
),
obs AS (SELECT source, token, count(*) AS obs FROM toks GROUP BY 1, 2),
src_tot AS (SELECT source, count(*) AS src_tokens FROM toks GROUP BY 1),
gl AS (SELECT token, count(*) AS tok_global FROM toks GROUP BY 1),
total AS (SELECT count(*) AS total_tokens FROM toks),
j AS (
    SELECT o.source, o.token, o.obs, s.src_tokens, g.tok_global, t.total_tokens,
           abs(o.obs * t.total_tokens - s.src_tokens * g.tok_global) AS abs_dev
    FROM obs o
    JOIN src_tot s ON o.source = s.source
    JOIN gl g ON o.token = g.token
    CROSS JOIN total t
)
SELECT source, token, obs, src_tokens, tok_global, total_tokens, abs_dev
FROM (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY abs_dev DESC, token) AS rn FROM j)
WHERE rn <= {DRIFT_TOP_K}
"""


def q_sketch_kmv_union(spark, sf_dir):
    """Sketch MERGEABILITY — the property that makes KMV a distributed
    aggregate: per-event_type sketch states (k smallest codes each) are
    merged up to a coarser category WITHOUT touching raw data, and the
    merged estimate is bit-equal to a from-scratch sketch of the union
    (the k smallest codes of a union are each among their part's k
    smallest). The oracle computes the coarse sketch from scratch, so
    any merge bug hash-mismatches."""
    from mimic2ts_spark.operators.sketch import kmv_merge, kmv_topk_rows

    ev = _h._t(spark, sf_dir, "events").withColumn(
        "category",
        F.when(F.col("event_type").isin("click", "view"), F.lit("engage"))
        .otherwise(F.lit("convert")),
    )
    state = kmv_topk_rows(ev, ["category", "event_type"], "user_id")
    return kmv_merge(state, ["category"])


def _kmv_union_sql():
    from mimic2ts_spark.operators.sketch import kmv_sketch_sql

    inner = (
        "(SELECT *, CASE WHEN event_type IN ('click', 'view') THEN 'engage' "
        "ELSE 'convert' END AS category FROM events)"
    )
    return kmv_sketch_sql(inner, "category", "user_id")


Q_SKETCH_KMV_UNION_SQL = _kmv_union_sql()


ANOM_MIN_HOURS = 8


def q_event_anomaly(spark, sf_dir):
    """Windowed anomaly flags — the monitoring op over event streams:
    per (user, hour) activity counts, each compared against the
    trailing 23 observed hours' mean ± 2σ. The z-score test is done in
    EXACT integer arithmetic (multiply through by n²):
    (c·n − s)² > 4·(n·ss − s²)  ⇔  (c − mean)² > (2σ)², with
    n = window hours, s = Σcounts, ss = Σcounts² — no float sqrt, no
    Welford variance (whose accumulation order differs per engine), so
    the flags replay bit-exactly in DuckDB. One shuffle on user_id;
    the trailing frame is a per-user sorted pass."""
    from pyspark.sql import Window

    ev = _h._t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "user_id",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy("hour_start").rowsBetween(-23, -1)
    stats = hourly.select(
        "user_id",
        "hour_start",
        "c",
        F.count("c").over(w).alias("n_window"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    lhs = (F.col("c") * F.col("n_window") - F.col("s"))
    rhs = 4 * (F.col("n_window") * F.col("ss") - F.col("s") * F.col("s"))
    return stats.select(
        "user_id",
        "hour_start",
        "c",
        "n_window",
        (
            (F.col("n_window") >= ANOM_MIN_HOURS)
            & (lhs > 0)
            & (lhs * lhs > rhs)
        ).alias("flagged"),
    )


Q_EVENT_ANOMALY_SQL = f"""
WITH hourly AS (
    SELECT user_id,
           CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT user_id, hour_start, c,
           count(c) OVER w AS n_window,
           sum(c) OVER w AS s,
           sum(c * c) OVER w AS ss
    FROM hourly
    WINDOW w AS (PARTITION BY user_id ORDER BY hour_start
                 ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, hour_start, c, CAST(n_window AS BIGINT) AS n_window,
       (n_window >= {ANOM_MIN_HOURS}
        AND (c * n_window - s) > 0
        AND (c * n_window - s) * (c * n_window - s)
            > 4 * (n_window * ss - s * s)) AS flagged
FROM stats
"""


MIX_TOKENS_PER_SOURCE = 2000


def q_sample_mixture(spark, sf_dir):
    """Data-mixture sampling — the pretraining mixing op: each source
    gets a TOKEN budget (uniform here; weights are just per-source
    budgets) and contributes the docs whose cumulative token count,
    in deterministic md5-hash order, STARTS inside the budget (the
    boundary doc is kept whole — whole-document sampling). Pure
    hash-space selection: reproducible across engines, retries, and
    appends; no rand(). One shuffle on source, per-source sort;
    output is the per-source realized mixture (docs, tokens kept).

    Scale: identical shape to sequence packing — a windowed running
    sum per source key; sources are the parallelism unit and a heavy
    source can be pre-sharded the same way."""
    from pyspark.sql import Window

    from mimic2ts_spark.operators.sketch import kmv_code

    t = F.col("text")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        X.token_count(t).alias("n_tokens"),
        kmv_code(F.col("doc_id")).alias("rank_code"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("rank_code", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = d.withColumn("cum", F.sum("n_tokens").over(w)).where(
        F.col("cum") - F.col("n_tokens") < MIX_TOKENS_PER_SOURCE
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_kept"),
    )


def _sample_mixture_sql():
    code = X.SQL_CODE.format(tok="CAST(doc_id AS VARCHAR)")
    ntok = X.SQL_TOKEN_COUNT.format(text="text")
    return f"""
WITH d AS (
    SELECT doc_id, source, {ntok} AS n_tokens, {code} AS rank_code
    FROM documents
),
c AS (
    SELECT doc_id, source, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source ORDER BY rank_code, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM d
)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
FROM c WHERE cum - n_tokens < {MIX_TOKENS_PER_SOURCE}
GROUP BY 1
"""


Q_SAMPLE_MIXTURE_SQL = _sample_mixture_sql()


PACK_BUDGET = 512
PACK_SHARDS = 16


def q_pack_sequences(spark, sf_dir):
    """GPT-style pretraining sequence packing: documents are
    concatenated in deterministic (shard, doc_id) order and cut into
    fixed PACK_BUDGET-token windows; each doc is assigned the sequence
    index and offset where it STARTS (docs straddle boundaries — that
    is the standard concat-then-chunk packing, not bin packing). The
    cumulative position is a per-shard window running sum of exact
    integer token counts, so the layout is reproducible anywhere.

    Scale: ONE shuffle on the shard key, per-shard sort — the global
    greedy layout is embarrassingly parallel across shards because
    packing never crosses a shard. Shard count is the parallelism dial
    (16 here; thousands at 100 TB)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start"),
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"start DIV {PACK_BUDGET}").alias("seq_idx"),
        (F.col("start") % PACK_BUDGET).alias("seq_offset"),
    )


Q_PACK_SEQUENCES_SQL = f"""
WITH d AS (
    SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
           {X.SQL_TOKEN_COUNT.format(text='text')} AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens AS start
    FROM d
)
SELECT doc_id, shard, n_tokens,
       CAST(start // {PACK_BUDGET} AS BIGINT) AS seq_idx,
       CAST(start % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM c
"""


EMB_STAT_SCALE = 1_000_000


def q_embedding_stats(spark, sf_dir):
    """Per-(label, dimension) embedding statistics — the feature-wise
    normalization pass an embedding pipeline runs before training
    (mean for centering, min/max for clipping). posexplode to scalar
    (label, dim, value) rows → ONE shuffle keyed (label, dim) with
    map-side partial aggregation; the 64× row fan-out never leaves the
    map side as raw rows. Mean is an exact integer-micros sum divided
    once; min/max compare the same widened float32 doubles in both
    engines."""
    e = _embs(spark, sf_dir).select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    v = F.col("v").cast("double")
    micros = F.round(v * EMB_STAT_SCALE, 0).cast("long")
    return e.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        (
            F.sum(micros).cast("double")
            / (F.count(F.lit(1)) * EMB_STAT_SCALE).cast("double")
        ).alias("mean_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.count(F.lit(1)).alias("n"),
    )


Q_EMBEDDING_STATS_SQL = f"""
WITH x AS (
    SELECT CAST(label AS BIGINT) AS label, g.i AS dim,
           CAST(embedding[CAST(g.i AS INTEGER) + 1] AS DOUBLE) AS v
    FROM embeddings, unnest(range(len(embedding))) AS g(i)
)
SELECT label, CAST(dim AS BIGINT) AS dim,
       CAST(sum(CAST(round(v * {EMB_STAT_SCALE}) AS BIGINT)) AS DOUBLE)
         / CAST(count(*) * {EMB_STAT_SCALE} AS DOUBLE) AS mean_v,
       min(v) AS min_v,
       max(v) AS max_v,
       CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY 1, 2
"""


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted
    to token granularity — the corpus is single-line so the paper's
    duplicate-line fractions degenerate): per document,
      - dup_token_frac: fraction of tokens that are repeats of an
        earlier token (1 - distinct/total), computed row-local with
        array_distinct — no shuffle;
      - top_bigram_n / top_bigram_frac: occurrences of the most
        frequent word bigram and its share of all bigrams — the
        boilerplate detector. Bigrams via zip_with over two shifted
        slices of ONE split pass (never element_at in a HOF lambda —
        see CLAUDE.md), counted wordcount-style: groupBy (doc, gram)
        partial-aggregates map-side, then a per-doc max.
    Short docs (<2 tokens) produce no bigrams and surface as 0 via the
    left join. All fractions are one integer-over-integer division so
    both engines emit the same double."""
    d = _docs(spark, sf_dir).select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    # NOT persisted (r14 decision): token-array corpus-sized relation,
    # map-side re-derivation — caching loses at 100 TB (sf0.1 win was
    # within noise, 2-of-3 pairs)
    )
    n = F.size("toks")
    base = d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.concat_ws("\x01", a, b),
            )
        ).alias("g"),
    )
    top = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"))
    )
    tb = F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("long")
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (
            (F.col("n_tokens") - F.col("n_distinct")).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_token_frac"),
        tb.alias("top_bigram_n"),
        (
            tb.cast("double")
            / F.greatest(F.col("n_tokens") - 1, F.lit(1)).cast("double")
        ).alias("top_bigram_frac"),
    )


Q_TEXT_REPETITION_SQL = """
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
base AS (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
    FROM toks
),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks
),
grams AS (SELECT doc_id, t[i] || chr(1) || t[i + 1] AS g FROM idx),
top AS (
    SELECT doc_id, max(c) AS top_bigram_n
    FROM (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
    GROUP BY 1
)
SELECT b.doc_id, n_tokens, n_distinct,
       CAST(n_tokens - n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS dup_token_frac,
       CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       CAST(coalesce(top_bigram_n, 0) AS DOUBLE)
           / CAST(greatest(n_tokens - 1, 1) AS DOUBLE) AS top_bigram_frac
FROM base b LEFT JOIN top USING (doc_id)
"""


DECON_SEM_MOD = 53

# Oracle: the X24 chain verbatim, wrapped with the cross-set projection.
# Defined as a lambda over the X24 SQL because that constant is built
# later in this module; resolved at registry-build time below.
def _decon_semantic_sql() -> str:
    return f"""
SELECT CASE WHEN vec_b % {DECON_SEM_MOD} = 0 THEN vec_a ELSE vec_b END
           AS train_id,
       CASE WHEN vec_b % {DECON_SEM_MOD} = 0 THEN vec_b ELSE vec_a END
           AS eval_id,
       cosine
FROM ({{inner}}) p
WHERE (vec_a % {DECON_SEM_MOD} = 0) <> (vec_b % {DECON_SEM_MOD} = 0)
"""


def q_decontaminate_semantic(spark, sf_dir):
    """X202 — SEMANTIC benchmark decontamination (the embedding twin of
    X77's n-gram form — paraphrased eval leakage that shares no 5-gram):
    the eval slice is vec_id % 53 == 0 (X77's deterministic stand-in),
    and a training vector is contaminated when it is a near-dup of any
    eval vector at the dedup family's 0.45 cosine band. Composition:
    the X24 LSH-bucketed candidate join + exact cosine verify runs once
    over the whole corpus (scale path — no crossJoin against an
    unbounded eval side), then pairs with EXACTLY one eval-side member
    project to (train_id, eval_id, cosine). Recall inherits X24's
    banding (scored by X167); the oracle composes the identical chain
    with the same cross-set CASE. Dup-heavy corpora: output is
    quadratic per identical-vector cluster like every raw pair query —
    route over X160 canonical vectors first and expand flags through
    the exact groups (the registered canonical compositions' pattern)."""
    # r14: the shared per-corpus raw LSH pair artifact (_raw_emb_pairs
    # — the same relation q_dedup_embedding_lsh registers)
    pairs = _raw_emb_pairs(spark, sf_dir, threshold=0.45)
    a_eval = (F.col("vec_a") % DECON_SEM_MOD) == 0
    b_eval = (F.col("vec_b") % DECON_SEM_MOD) == 0
    return pairs.where(a_eval != b_eval).select(
        F.when(b_eval, F.col("vec_a")).otherwise(F.col("vec_b")).alias("train_id"),
        F.when(b_eval, F.col("vec_b")).otherwise(F.col("vec_a")).alias("eval_id"),
        "cosine",
    )


LM_SCALE = 100_000


def q_lm_fluency(spark, sf_dir):
    """X201 — bigram-LM fluency scoring (the CCNet/KenLM curation stage,
    Wenzek et al. 2020, restated exactly): train bigram counts on the
    corpus itself, score every document by its mean conditional bigram
    probability — fluency_scaled = (Σ ⌊SCALE·c(w1,w2)/c1(w1)⌋) div
    n_bigrams, where c1(w1) counts bigram LEFT positions so each
    conditional distribution sums to 1 exactly. Pure int64 floor
    rationals (log-likelihood needs engine-private log — CLAUDE.md
    r04 — so the mean probability is the portable exact form; ranking
    is what the filter consumes). One token pass emits (doc, w1, gram)
    occurrence rows via zip_with over two shifted slices (never
    element_at in a HOF — CLAUDE.md r01); counts re-join the
    occurrences on their own aggregates (no broadcast hints — the
    bigram vocabulary is unbounded at 100 TB, AQE decides); docs with
    <2 tokens surface as n_bigrams=0 / fluency 0 via the left join."""
    d = _docs(spark, sf_dir).select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    occ = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.struct(
                    a.alias("w1"), F.concat_ws("\x01", a, b).alias("g")
                ),
            )
        ).alias("p")
    ).select("doc_id", "p.w1", "p.g")
    # persisted: consumed THREE times (bigram counts, left counts, the
    # scoring join) — without it the tokenize + zip_with + explode pass
    # runs per consumer (guide §5; the r14 multi-consumer-subtree pass)
    occ = occ.persist()
    big = occ.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    lft = occ.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    ps = (
        occ.join(big, "g")
        .join(lft, "w1")
        .select(
            "doc_id", F.expr(f"({LM_SCALE}L * cg) div c1").alias("p_scaled")
        )
    )
    agg = ps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("p_scaled").alias("sp"),
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(
                F.expr("sp div n_bigrams"), F.lit(0)
            ).cast("long").alias("fluency_scaled"),
        )
    )


Q_LM_FLUENCY_SQL = f"""
WITH toks AS (
    SELECT doc_id, {X.SQL_TOKENS.format(text='text')} AS t FROM documents
),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks
),
occ AS (
    SELECT doc_id, t[i] AS w1, t[i] || chr(1) || t[i + 1] AS g FROM idx
),
big AS (SELECT g, CAST(count(*) AS BIGINT) AS cg FROM occ GROUP BY 1),
lft AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM occ GROUP BY 1),
ps AS (
    SELECT doc_id, ({LM_SCALE} * cg) // c1 AS p_scaled
    FROM occ JOIN big USING (g) JOIN lft USING (w1)
),
agg AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(p_scaled) AS BIGINT) AS sp
    FROM ps GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(sp // n_bigrams, 0) AS BIGINT) AS fluency_scaled
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# --- round-4 additions: retrieval, decontamination, product analytics,
# --- snapshot diff, feature scaling --------------------------------------

BM25_QUERY_TERMS = ("join", "hash", "vector", "scan")


def q_search_bm25(spark, sf_dir):
    """X78 — integer-exact BM25 top-10 retrieval for a fixed bag-of-words
    query (see operators/search.py for the exact-rational derivation).
    One corpus scan; the term filter runs inside the scan's row-local
    array, so only query-term hits reach the shuffle."""
    from mimic2ts_spark.operators.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_QUERY_TERMS)


def _bm25_sql():
    from mimic2ts_spark.operators.search import sql_bm25_topk

    return sql_bm25_topk(BM25_QUERY_TERMS)


Q_SEARCH_BM25_SQL = _bm25_sql()


def q_search_bm25_pruned(spark, sf_dir):
    """X179 — MaxScore-pruned BM25 top-k (Turtle & Flood 1995): docs
    not matching the highest-impact query term are pruned wholesale
    when their summed per-term maxima cannot reach the k-th
    anchor-matching score (strict inequality makes the prune tie-safe
    under ascending-id tie-break). The ORACLE IS FULL SCORING — the
    gate's hash compare re-proves the prune lossless on the real corpus
    every round; a pytest pins that the prune branch actually FIRES
    here and on a constructed skewed corpus.

    NOTE — this corpus-scan form DEMONSTRATES the theorem but cannot
    win on wall clock: the per-term bounds are derived by scoring every
    posting first, so only the final aggregate is skipped. The winning
    form is the index-served q_search_bm25_maxscore below (impact
    bounds stored at build, Turtle-Flood long-tail panel). Demoted
    from HEADLINE in r09 (VERDICT r08 #4) — the gate oracle still
    re-proves the prune lossless per window; it just no longer burns
    headline-bench budget on a demonstration."""
    from mimic2ts_spark.operators.search import bm25_topk_maxscore

    return bm25_topk_maxscore(_docs(spark, sf_dir), BM25_QUERY_TERMS)


# The Turtle-Flood regime panel: ONE rare discriminative term ('dup',
# df ≈ 5% of docs on this corpus at every sf) plus a long tail of
# low-impact near-stopwords (df ≈ 76%). The anchor is the rare term, so
# the pruned serving path aggregates ~5% of the postings volume.
BM25_LONGTAIL_TERMS = (
    "dup", "the", "line", "part", "sort", "query", "batch", "agg",
)


def q_search_bm25_indexed(spark, sf_dir):
    """X177 — BM25 top-k SERVED from the persisted postings index on
    the long-tail panel (the full-scoring twin q_search_bm25_maxscore
    is measured against): pushed term-IN scan over term-sorted
    postings, df recomputed from the scanned postings, corpus scalars
    from the maintained stats row. Bit-equals the corpus-scan form —
    the oracle tokenizes from scratch."""
    from mimic2ts_spark.operators.search import bm25_from_postings

    idx = _search_index_dir(spark, sf_dir)
    return bm25_from_postings(
        spark, f"{idx}/postings", _search_index_stats(spark, idx),
        BM25_LONGTAIL_TERMS,
    )


def q_search_bm25_maxscore(spark, sf_dir):
    """X200 — MaxScore BM25 serving from the IMPACT-ORDERED index
    (Turtle & Flood 1995 in its designed regime — the registered
    answer to VERDICT r07 'give X179 a regime where it wins'): per-term
    (df, u_max) scalars are computed once at index build; serving
    collects |q| stat rows, exact-scores only the rare anchor term's
    documents (~5% of the corpus on this panel), and the corpus-sized
    doc-keyed aggregate + top-k sort never run when B < θ prunes.
    Falls back to full serving otherwise — output provably identical
    either way, and the ORACLE IS FULL SCORING so every gate run
    re-proves the prune lossless. A pytest pins that the prune FIRES
    on this panel and that pruned == full on a panel where it cannot
    fire."""
    from mimic2ts_spark.operators.search import bm25_topk_maxscore_from_postings

    idx = _search_index_dir(spark, sf_dir)
    return bm25_topk_maxscore_from_postings(
        spark, f"{idx}/postings", f"{idx}/impacts",
        _search_index_stats(spark, idx), BM25_LONGTAIL_TERMS,
    )


def _bm25_longtail_sql():
    from mimic2ts_spark.operators.search import sql_bm25_topk

    return sql_bm25_topk(BM25_LONGTAIL_TERMS)


Q_SEARCH_BM25_LONGTAIL_SQL = _bm25_longtail_sql()


def q_retrieval_mrr(spark, sf_dir):
    """X182 — known-item retrieval eval (the retrieval leg of the eval
    triad X156/X167/X182): 32 corpus-drawn queries (each the 4
    most-frequent tokens of an md5-chosen canonical doc), integer-exact
    BM25 ranking, and a per-query report of where the source doc landed
    (rank_found, rr_scaled = 2520 div rank — lcm(1..10) keeps every
    reciprocal rank an exact integer, so MRR = avg(rr)/2520 needs no
    float anywhere). Measured MRR 0.88 at sf0.01; floor pytest-pinned.
    One corpus token pass; panel joins broadcast; top-k per query is a
    WindowGroupLimit."""
    from mimic2ts_spark.operators.search import known_item_mrr

    # r14: SERVED from the shared canonical postings artifact
    # (_canon_postings — zero corpus tokenize per call; row-for-row
    # equality with the scan form pytest-pinned, oracle unchanged)
    postings, doclens = _canon_postings(spark, sf_dir)
    return known_item_mrr(None, postings=postings, doclens=doclens)


def _q_retrieval_mrr_sql():
    from mimic2ts_spark.operators.search import sql_known_item_mrr

    return sql_known_item_mrr("documents")


Q_RETRIEVAL_MRR_SQL = _q_retrieval_mrr_sql()


def q_retrieval_map(spark, sf_dir):
    """X207 — MAP@k retrieval eval against near-dup ground truth
    (operators/search.py neardup_map_at_k): the multi-relevant
    companion of X182's known-item MRR, completing the eval family
    with the metric used when queries have SEVERAL right answers.
    Relevant sets come from the exact-first X2 relation
    (canonical_near_dup_pairs — the same pairs q_dedup_pipeline
    registers), the query doc is excluded from its own candidate pool,
    and AP is an exact integer rational (2520-scaled, floor by
    min(n_rel, k)); MAP = avg(ap_scaled)/2520 at the consumer."""
    from mimic2ts_spark.operators.search import neardup_map_at_k

    # ground truth from the shared per-corpus pair ARTIFACT (r12 — the
    # r07 multi-consumer disk-memo doctrine; value-identical to the
    # in-query derivation, which remains the oracle's form): the
    # canonicalization+banding pass that dominated this eval
    # (7.5 s → ~4 s at sf0.1) is paid once per corpus per process.
    # r14: the BM25 ranking is SERVED from the shared canonical
    # postings artifact (_canon_postings — zero corpus tokenize per
    # call; row-for-row equality pytest-pinned, oracle unchanged).
    postings, doclens = _canon_postings(spark, sf_dir)
    return neardup_map_at_k(
        None,
        pairs=_canon_pairs(spark, sf_dir, 0.8),
        postings=postings,
        doclens=doclens,
    )


def _q_retrieval_map_sql():
    from mimic2ts_spark.operators.search import sql_neardup_map

    return sql_neardup_map(Q_DEDUP_PIPELINE_SQL)


Q_RETRIEVAL_MAP_SQL = _q_retrieval_map_sql()


def q_hybrid_rrf(spark, sf_dir):
    """X142 — hybrid retrieval: reciprocal-rank fusion of the lexical
    BM25 leg (fixed bag-of-words query) and the dense cosine leg (the
    min-id query vector; vec_id ≡ doc_id per TESTDATA) — the standard
    production lexical⊕dense fusion (RRF). Each leg is an existing
    scale-shaped operator; the fusion itself touches only 2·leg_k
    candidate rows."""
    from mimic2ts_spark.operators.search import (
        RRF_LEG_K,
        bm25_from_postings,
        hybrid_rrf_topk,
    )

    # r14: the lexical leg is SERVED from the persisted postings index
    # (bm25_from_postings — bit-equal to the scan-form bm25_topk,
    # pytest-pinned); the dense leg and the fusion are unchanged
    idx = _search_index_dir(spark, sf_dir)
    lex = bm25_from_postings(
        spark,
        f"{idx}/postings",
        _search_index_stats(spark, idx),
        BM25_QUERY_TERMS,
        k=RRF_LEG_K,
    )
    return hybrid_rrf_topk(
        None, _embs(spark, sf_dir), BM25_QUERY_TERMS, lex=lex
    )


def _hybrid_rrf_sql():
    from mimic2ts_spark.operators.search import sql_hybrid_rrf

    return sql_hybrid_rrf(BM25_QUERY_TERMS)


Q_HYBRID_RRF_SQL = _hybrid_rrf_sql()


HARD_NEG_POS = 0.45  # the corpus' near-dup band (q_dedup_embedding)


def q_hard_negatives(spark, sf_dir):
    """X143 — contrastive hard-negative mining: per query (vec_id < 5),
    the 5 most-similar vectors strictly BELOW the near-dup/positive
    band — the negatives-near-the-margin a contrastive trainer wants,
    with positives (near-dups at the same 0.45 threshold the dedup
    family uses) excluded BEFORE ranking so they leave no rank gaps."""
    embs = _embs(spark, sf_dir)
    return S.hard_negative_topk(
        embs, embs.where(F.col("vec_id") < 5), pos_threshold=HARD_NEG_POS, k=5
    )


Q_HARD_NEGATIVES_SQL = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           {S.sql_cosine('q.embedding', 'v.embedding')} AS cosine
    FROM q, v WHERE q.vec_id <> v.vec_id
      AND {S.sql_cosine('q.embedding', 'v.embedding')} < {HARD_NEG_POS}
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


CONTAIN_TAU = 0.9


def q_dedup_containment(spark, sf_dir):
    """X144 — asymmetric set-containment dedup: directed pairs where
    ≥ 90% of doc_a's shingle set lies inside doc_b's — the
    quote/subset duplication mode a symmetric Jaccard threshold never
    fires on. Prefix filter on the contained side only, full inverted
    index on the container side, slim index postings + one rejoin to
    the persisted base for the verify arrays (dedup.containment_pairs).
    The oracle mirrors the identical exact pruning (candidate superset
    + exact verify = naive all-pairs output, at gate-budget cost)."""
    # registered X144 oracle BASELINE — the dup guard warns, not raises
    return D.containment_pairs(
        _docs(spark, sf_dir), threshold=CONTAIN_TAU, on_duplicates="warn"
    )


Q_DEDUP_CONTAINMENT_SQL = f"""
WITH tok AS (
    SELECT doc_id, {D.sql_token_codes('text')} AS tc FROM documents
),
codes_t AS (
    SELECT doc_id,
           list_sort(list_distinct({D.sql_shingle_codes_from_tc('tc')})) AS codes
    FROM tok
),
codes2 AS (
    SELECT doc_id, codes, len(codes) AS n FROM codes_t WHERE len(codes) > 0
),
pref AS (
    SELECT doc_id, n,
           unnest(codes[1 : n - CAST(ceil({CONTAIN_TAU} * n) AS BIGINT) + 1]) AS code
    FROM codes2
),
idx AS (
    SELECT doc_id, unnest(codes) AS code FROM codes2
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pref a JOIN idx b ON a.code = b.code AND a.doc_id <> b.doc_id
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(ca.codes, x -> list_contains(cb.codes, x)))
                AS DOUBLE)
           / CAST(ca.n AS DOUBLE) AS containment
    FROM cand c
    JOIN codes2 ca ON ca.doc_id = c.doc_a
    JOIN codes2 cb ON cb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, containment FROM pairs WHERE containment >= {CONTAIN_TAU}
"""


def q_dedup_containment_canonical(spark, sf_dir):
    """X157 — exact-first containment (the registered scale path for
    X144): md5 exact-dedup collapses byte-identical copies to min-id
    canonicals, THEN the directed containment pass runs over canonicals
    only (dedup.canonical_containment_pairs). The raw-pair X144 form is
    output-quadratic per exact-duplicate cluster on dup-heavy corpora;
    this composition is ~flat at 100× because identical text ⇒ identical
    shingle sets ⇒ dropped pairs are reconstructible from exact groups.
    Same composition theorem as q_dedup_pipeline (X2 over canonicals).
    r15 re-adjudication (VERDICT r14 #3): the r14 _canon_docs memo path
    LOST 0/5 fresh interleaved pairs to the in-plan derivation (memo
    mins 0.91-1.16 vs 0.90-1.00 s) — the parquet read + spread
    repartition barrier costs more here than deriving canonicals
    in-plan, which pipelines straight into the containment pass.
    Reverted; the memo stays for its multi-consumer users."""
    return D.canonical_containment_pairs(_docs(spark, sf_dir), threshold=CONTAIN_TAU)


Q_DEDUP_CONTAINMENT_CANONICAL_SQL = _sql_sub(
    Q_DEDUP_CONTAINMENT_SQL,
    "FROM documents",
    """FROM (SELECT d.* FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
            ON k.doc_id = d.doc_id)""",
)


def q_audio_features(spark, sf_dir):
    """X196 — audio frame features (energy + zero-crossing rate per
    fixed PCM frame — the classic VAD / energy-gating signals for
    speech-data curation): the Spark side decodes the REAL WAV
    container (stdlib wave via mapInPandas, the X54 path) and runs
    exact integer frame math; the oracle never parses WAV — the
    synthetic payload IS the utf-8 text, so it recomputes samples via
    ascii() and the gate's hash compare re-proves the container
    roundtrip row by row, every round."""
    from mimic2ts_spark.operators.multimodal import (
        attach_media,
        audio_frame_features,
    )

    return audio_frame_features(attach_media(_docs(spark, sf_dir)))


def _q_audio_features_sql():
    from mimic2ts_spark.operators.multimodal import sql_audio_frame_features

    return sql_audio_frame_features("documents")


Q_AUDIO_FEATURES_SQL = _q_audio_features_sql()


RULES_MINSUP = 3
RULES_TOP_K = 20
RULES_SCALE = 100_000


def q_assoc_rules(spark, sf_dir):
    """X197 — association rules (Agrawal & Srikant's classic, scored
    exactly): directed rules a→b over the order baskets with
    confidence = n_ab/n_a and lift = n_ab·B/(n_a·n_b), both as
    SCALE-scaled int64 floor rationals (B = basket count; worst case
    SCALE·n_ab·B < 2^61 — exact at any sweep scale); support floor
    MINSUP prunes the pair tail BEFORE the metric joins; top-20 rules
    by (lift, confidence, a, b). Completes X105's co-occurrence into
    the full support/confidence/lift mining surface; the Σ basket²
    fan-out bound is X105's.

    Apriori item prune (r08): support is anti-monotone — n_ab ≤
    min(n_a, n_b), so a pair can reach MINSUP only if BOTH items do.
    Both self-join sides are pre-filtered to frequent items (lossless
    by the theorem; the oracle mirrors it with one WHERE), which cuts
    the Σ basket² fan-out on any long-tail corpus before the shuffle.
    The item-count tables are NOT force-broadcast: the item vocabulary
    is unbounded at 100 TB, so AQE decides (only the 1-row basket-count
    scalar keeps an explicit broadcast)."""
    li = (
        memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    return assoc_rules_mine(li, prune=True)


def assoc_rules_mine(li, prune: bool = True):
    """Shared support/confidence/lift mining over a distinct (o, item)
    basket table; `prune=False` is the pre-Apriori baseline a pytest
    compares against to pin the prune's losslessness."""
    # persisted: the distinct basket table feeds n_baskets, the item
    # counts AND the pruned self-join build — unpersisted the scan +
    # distinct exchange re-ran per consumer (guide §5; the r14
    # multi-consumer-subtree pass). Same for freq (4 consumers: the
    # prune join + both metric joins) and the pruned relation (both
    # self-join sides).
    li = li.persist()
    nb = li.select(F.countDistinct("o").cast("long").alias("n_baskets"))
    item = li.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    freq = item.where(F.col("n_item") >= RULES_MINSUP) if prune else item
    freq = freq.persist()
    if prune:
        li = li.join(freq.select("item"), "item").persist()
    a = li.select("o", F.col("item").alias("ante"))
    b = li.select("o", F.col("item").alias("cons"))
    pairs = (
        a.join(b, "o")
        .where(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= RULES_MINSUP)
    )
    scored = (
        pairs.join(
            freq.select(F.col("item").alias("ante"),
                        F.col("n_item").alias("n_a")), "ante"
        )
        .join(
            freq.select(F.col("item").alias("cons"),
                        F.col("n_item").alias("n_b")), "cons"
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "ante", "cons", "n_ab",
            F.expr(f"({RULES_SCALE}L * n_ab) div n_a").alias("conf_scaled"),
            F.expr(
                f"({RULES_SCALE}L * n_ab * n_baskets) div (n_a * n_b)"
            ).alias("lift_scaled"),
        )
    )
    return scored.orderBy(
        F.desc("lift_scaled"), F.desc("conf_scaled"), "ante", "cons"
    ).limit(RULES_TOP_K)


# Deterministic SKU-variant item key for the long-tail variant: head
# parts (partkey % 4 == 0) keep one item per part (frequent); tail parts
# shatter into variants LOCAL in orderkey space (one variant per part per
# 4-wide orderkey window, disjoint from head ids via the 2^32 shift).
# Locality is what makes the rarity SCALE-STABLE (VERDICT r08 #2): the
# sweep generator offsets orderkeys per copy, so growing the corpus adds
# NEW windows (new variants) instead of new counts per variant — a
# fixed-modulus variant key (the r08 form, l_orderkey % 63) re-crossed
# MINSUP at the 100x sweep and inverted the regime the query exists to
# demonstrate. Same integer arithmetic both engines (no division: the
# window id is l_orderkey - l_orderkey % 4).
RULES_SKU_EXPR = (
    "CASE WHEN l_partkey % 4 = 0 THEN l_partkey * 1{L} "
    "ELSE l_partkey * 4294967296{L} + 1{L} + l_orderkey - (l_orderkey % 4{L}) END"
)


def q_assoc_rules_longtail(spark, sf_dir):
    """X198 — association rules on a LONG-TAIL item vocabulary (the
    regime Apriori's item prune was designed for, Agrawal & Srikant
    1994 §2.1.1): items are SKU-variants — head parts stay one item,
    tail parts shatter into variants LOCAL in orderkey space (see
    RULES_SKU_EXPR) that land below MINSUP at EVERY sweep scale — so
    the frequent-item pre-filter removes ~75% of the self-join input
    BEFORE the Σ basket² shuffle (sf0.01: 59,945 → 14,960 basket
    rows, same ratio at sf0.1; the uniform-corpus q_assoc_rules
    prunes 0) and the prune WINS at the 100× sweep (14.3 s pruned vs
    31.9 s unpruned, interleaved best-of-2 — the r08 fixed-modulus
    key inverted here). Same exact scaled-integer scoring as X197;
    losslessness of the prune is pinned by a pytest comparing against
    the unpruned baseline."""
    li = (
        memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
        .select(
            F.col("l_orderkey").alias("o"),
            F.expr(RULES_SKU_EXPR.format(L="L")).alias("item"),
        )
        .distinct()
    )
    return assoc_rules_mine(li, prune=True)


def _assoc_sql(item_expr: str) -> str:
    """Oracle twin of assoc_rules_mine(prune=True) over baskets
    `SELECT DISTINCT l_orderkey AS o, {item_expr} AS item FROM
    lineitem` — the Apriori freq filter mirrors the Spark side's."""
    return f"""
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, {item_expr} AS item FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM li),
item AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM li GROUP BY 1),
freq AS (SELECT * FROM item WHERE n_item >= {RULES_MINSUP}),
lif AS (SELECT li.* FROM li JOIN freq USING (item)),
pairs AS (
    SELECT a.item AS ante, b.item AS cons,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM lif a JOIN lif b ON a.o = b.o AND a.item <> b.item
    GROUP BY 1, 2
    HAVING count(*) >= {RULES_MINSUP}
)
SELECT ante, cons, n_ab,
       ({RULES_SCALE} * n_ab) // ia.n_item AS conf_scaled,
       ({RULES_SCALE} * n_ab * t.n_baskets) // (ia.n_item * ib.n_item)
           AS lift_scaled
FROM pairs
JOIN freq ia ON ia.item = ante
JOIN freq ib ON ib.item = cons
CROSS JOIN nb t
ORDER BY lift_scaled DESC, conf_scaled DESC, ante, cons
LIMIT {RULES_TOP_K}
"""


Q_ASSOC_RULES_SQL = _assoc_sql("l_partkey")
Q_ASSOC_RULES_LONGTAIL_SQL = _assoc_sql(RULES_SKU_EXPR.format(L=""))


def q_multimodal_phash(spark, sf_dir):
    """X145 — perceptual-hash image fingerprints: aHash over the REAL
    decoded PNG pixels (128 mean-thresholded taps, integer-exact) as
    4 × 32-bit band values — the image near-dup blocking key
    (multimodal.phash_near_dup_pairs consumes it; the pair path is
    pinned by a pytest on genuinely near-identical constructed images,
    since this corpus has no pixel-space near-dups at gate scale). The
    long-form (doc_id, band, band_val) rows are the gate-checkable
    exchange format; the oracle replays the taps from the text bytes
    the PNG payload roundtrips to."""
    from mimic2ts_spark.operators.multimodal import attach_media, perceptual_hashes

    h = perceptual_hashes(attach_media(_docs(spark, sf_dir)))
    return h.select(
        "doc_id",
        "payload_len",
        F.posexplode("bands").alias("band", "band_val"),
    ).withColumn("band", F.col("band").cast("long"))


def _phash_sql():
    from mimic2ts_spark.operators.multimodal import PHASH_TAPS

    return f"""
WITH img AS (
    SELECT doc_id, text, octet_length(encode(text)) AS n
    FROM documents
    WHERE doc_id % 3 = 0 AND octet_length(encode(text)) > 0
),
taps AS (
    SELECT i.doc_id, i.n, k.k,
           ascii(substr(i.text, CAST(k.k * i.n // {PHASH_TAPS} AS INTEGER) + 1, 1))
               AS byte
    FROM img i, unnest(range({PHASH_TAPS})) AS k(k)
),
tot AS (
    SELECT doc_id, sum(byte) AS total FROM taps GROUP BY doc_id
),
bits AS (
    SELECT t.doc_id, t.n, t.k,
           CASE WHEN {PHASH_TAPS} * t.byte > o.total THEN 1 ELSE 0 END AS b
    FROM taps t JOIN tot o ON o.doc_id = t.doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS payload_len,
       CAST(k // 32 AS BIGINT) AS band,
       CAST(sum(b * (1::BIGINT << (k % 32))) AS BIGINT) AS band_val
FROM bits
GROUP BY doc_id, n, k // 32
"""


Q_MULTIMODAL_PHASH_SQL = _phash_sql()


def q_sketch_join_card(spark, sf_dir):
    """X153 — join-cardinality estimation from KMV sketches (the
    planner-side use of mergeable sketches): |distinct custkeys active
    in BOTH halves of the order history| estimated by
    inclusion–exclusion over three KMV estimates (A, B, A∪B — the date
    split partitions orders, so the union sketch is one pass over all
    orders), reported against the exact intersection. Sketches are
    md5-deterministic, the single float expression is order-pinned,
    and the 1-row scalar joins are the declared pattern."""
    from mimic2ts_spark.operators.sketch import kmv_sketch

    # persisted: the slim (custkey, date) projection feeds FIVE
    # consumers (three KMV sketch legs + both exact-distinct sides) —
    # unpersisted the orders scan ran per consumer (guide §5; r14)
    o = _h._t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    ).persist()
    cut = "1998-01-01"
    a = o.where(F.col("o_orderdate") < cut)
    b = o.where(F.col("o_orderdate") >= cut)

    def est(df, name):
        return (
            kmv_sketch(df.select(F.lit(name).alias("g"), "o_custkey"), ["g"], "o_custkey")
            .select(F.col("est_distinct").alias(f"est_{name}"))
        )

    exact = (
        a.select("o_custkey").distinct()
        .join(b.select("o_custkey").distinct(), "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    return (
        est(a, "a")
        .crossJoin(est(b, "b"))
        .crossJoin(est(o, "u"))
        .crossJoin(exact)
        .select(
            "est_a",
            "est_b",
            "est_u",
            ((F.col("est_a") + F.col("est_b")) - F.col("est_u")).alias("est_inter"),
            "exact_inter",
        )
    )


def _q_sketch_join_card_sql():
    from mimic2ts_spark.operators.sketch import kmv_sketch_sql

    def one(pred, name):
        tbl = f"(SELECT '{name}' AS g, o_custkey FROM orders WHERE {pred})"
        return f"(SELECT est_distinct AS est_{name} FROM ({kmv_sketch_sql(tbl, 'g', 'o_custkey')}))"

    cut = "'1998-01-01'"
    return f"""
SELECT est_a, est_b, est_u,
       (est_a + est_b) - est_u AS est_inter,
       exact_inter
FROM {one(f"o_orderdate < {cut}", 'a')}
CROSS JOIN {one(f"o_orderdate >= {cut}", 'b')}
CROSS JOIN {one("TRUE", 'u')}
CROSS JOIN (
    SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < {cut}
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= {cut}
    )
)
"""


Q_SKETCH_JOIN_CARD_SQL = _q_sketch_join_card_sql()


CMS_HH_FACTOR = 200  # heavy hitter = estimated frequency >= total/200


def q_sketch_cms(spark, sf_dir):
    """X154 — Count-Min frequency sketch + heavy hitters over the
    document token stream: d=4 salted md5 hash rows x w counters (w
    derived from the exact vocab size — fixed widths saturate, the
    bloom/simhash lesson), est(tok) = min_j counter[j][h_j(tok)],
    reported against the exact count for every token whose ESTIMATE
    clears the 0.5% support bar (the CMS-side decision, overcounts
    included — est >= exact so the sketch never misses a true heavy
    hitter). The frequency-side companion of the KMV family (X19/
    X137/X152/X153); the counter state is d*w rows regardless of
    corpus size, and candidate estimation is vocab-bound. Integer
    counters only, no division (200*est >= total) — bit-exact."""
    from mimic2ts_spark.operators import sketch as K

    # persist: tokens feed four derivations (total/vocab scalars,
    # counters, exact counts); harness drivers release_storage() after.
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") > 0)
        .persist()
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .persist()
    )
    # both scalars from the vocab-bound table — no extra pass over toks
    nd, tot = exact.agg(F.count(F.lit(1)), F.sum("exact_cnt")).first()
    w = K.cms_width(nd)  # driver-side scalar; SQL mirrors via GREATEST
    counters = K.cms_counters(toks, "tok", w)
    est = K.cms_estimate(exact, "tok", counters, w)
    return est.where(
        F.col("cms_est") * F.lit(CMS_HH_FACTOR) >= F.lit(int(tot))
    ).select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


def _q_sketch_cms_sql():
    from mimic2ts_spark.operators import sketch as K

    d = K.CMS_DEPTH
    salts = ", ".join(f"({j})" for j in range(d))
    code = "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {tok}), 1, 15)) AS BIGINT)"
    return f"""
WITH toks AS MATERIALIZED (
    SELECT tok FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents
    ) WHERE len(tok) > 0
),
params AS MATERIALIZED (
    SELECT CAST(count(*) AS BIGINT) AS total,
           GREATEST({K.CMS_MIN_WIDTH}, {K.CMS_WIDTH_FACTOR} * count(DISTINCT tok)) AS w
    FROM toks
),
counters AS MATERIALIZED (
    SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT s.j,
               {code.format(j='s.j', tok='toks.tok')} % (SELECT w FROM params) AS bucket
        FROM toks CROSS JOIN (VALUES {salts}) AS s(j)
    )
    GROUP BY j, bucket
),
exact AS MATERIALIZED (
    SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok
),
est AS (
    -- LEFT join + coalesce 0 mirrors cms_estimate: an absent (j,
    -- bucket) counter proves frequency 0 for that hash row (no-op for
    -- seen candidates like these, but the operator contract)
    SELECT e.tok, e.exact_cnt, min(coalesce(c.cnt, 0)) AS cms_est
    FROM exact e
    CROSS JOIN (VALUES {salts}) AS s(j)
    LEFT JOIN counters c
      ON c.j = s.j
     AND c.bucket = {code.format(j='s.j', tok='e.tok')} % (SELECT w FROM params)
    GROUP BY e.tok, e.exact_cnt
)
SELECT tok, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
FROM est
WHERE {CMS_HH_FACTOR} * cms_est >= (SELECT total FROM params)
"""


Q_SKETCH_CMS_SQL = _q_sketch_cms_sql()


def q_sketch_hll(spark, sf_dir):
    """X162 — HyperLogLog distinct sketch + register merge:
    per-event_type register tables over user_id (CONSTANT m=256 state
    per group — HLL's error is cardinality-free, so the width-derivation
    rule the other sketches need does not apply), merged to an 'ALL' row
    by elementwise register max. Third mergeable algebra of the sketch
    family: KMV re-ranks min-values (X19), CMS adds counters (X154),
    HLL maxes registers. Estimates are reported against the exact
    distinct counts; integer registers (bin()-msb rho), an int64-scaled
    harmonic denominator and ONE pinned double chain keep the estimate
    bit-reproducible in DuckDB (operators/sketch.py). Scale shape: one
    raw pass into a map-side-combining max aggregate; the merge and the
    estimate touch only <=m-row register tables."""
    from mimic2ts_spark.operators import sketch as K

    ev = _h._t(spark, sf_dir, "events")
    # persist: the register table feeds the per-group AND merged legs;
    # harness drivers release_storage() after.
    regs = K.hll_registers(ev, ["event_type"], "user_id").persist()
    per = K.hll_estimate(regs, ["event_type"])
    glob = K.hll_estimate(
        K.hll_merge(regs, []).withColumn("event_type", F.lit("ALL")),
        ["event_type"],
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    exact_all = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    ).withColumn("event_type", F.lit("ALL"))
    return per.unionByName(glob).join(
        F.broadcast(exact.unionByName(exact_all)), "event_type"
    )


def _q_sketch_hll_sql():
    from mimic2ts_spark.operators import sketch as K

    parts = K.hll_sql_parts("events", "event_type", "user_id")
    est = K.hll_estimate_sql("allregs", "event_type")
    return f"""
WITH {parts.lstrip()},
allregs AS (
    SELECT event_type, idx, reg FROM hll_regs
    UNION ALL
    SELECT 'ALL' AS event_type, idx, max(reg) AS reg
    FROM hll_regs GROUP BY idx
),
est AS ({est}),
exact AS (
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
)
SELECT e.event_type, e.n_regs, e.z53, e.est_raw, e.est_hll, x.exact_distinct
FROM est e JOIN exact x USING (event_type)
"""


Q_SKETCH_HLL_SQL = _q_sketch_hll_sql()


def q_sketch_ddq(spark, sf_dir):
    """X165 — log-bucket quantile sketch (DDSketch-flavored): per-
    event_type RELATIVE-error quantiles of value-cents from integer
    bit-position buckets (16 sub-buckets per octave => est within 1/32
    of the discrete quantile, pytest-pinned vs exact), merged to an
    'ALL' row by counter ADDITION — completing the mergeable-sketch
    algebra (KMV mins / HLL register-max / CMS+DDQ add) on the quantile
    problem, where the existing fixed-width histogram (X40) bounds only
    ABSOLUTE error and dies when values span decades. No engine log():
    buckets come from bin()-length msb (the HLL rho idiom); quantile
    ranks stay integer ((num*n + den-1) div den — float ceil(0.99*n) is
    not portable). State O(16*log2(max)) counters per group at any row
    count; one raw pass with map-side partials."""
    from mimic2ts_spark.operators import sketch as K

    ev = _h._t(spark, sf_dir, "events")
    cents = "CAST(round(value * 100, 0) AS BIGINT)"
    # persist: the counter table feeds the per-group AND merged legs;
    # harness drivers release_storage() after.
    cnts = K.ddq_counters(ev, ["event_type"], cents).persist()
    per = K.ddq_quantiles(cnts, ["event_type"])
    glob = K.ddq_quantiles(
        K.ddq_merge(cnts, []).withColumn("event_type", F.lit("ALL")),
        ["event_type"],
    )
    return per.unionByName(glob)


def _q_sketch_ddq_sql():
    from mimic2ts_spark.operators import sketch as K

    cents = "CAST(round(value * 100) AS BIGINT)"
    bucket = K.ddq_bucket_sql(cents, "duckdb")
    est = K.ddq_quantiles_sql("allcnts", "event_type")
    return f"""
WITH cnts AS MATERIALIZED (
    SELECT event_type, CAST({bucket} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
),
allcnts AS (
    SELECT event_type, bucket, cnt FROM cnts
    UNION ALL
    SELECT 'ALL' AS event_type, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
    FROM cnts GROUP BY bucket
)
{est}
"""


Q_SKETCH_DDQ_SQL = _q_sketch_ddq_sql()


# literals chosen to FIRE at gate scale (round-6 lesson): "table hash" /
# "part filter" occur ~30-50x at sf0.001 AND sf0.01; the trigram leg
# exercises k=3 anchors (may be 0 rows at the smallest sf — the bigram
# legs keep the query non-empty everywhere).
PHRASE_QUERIES = ("table hash", "part filter", "slow hash batch")


def q_search_phrase(spark, sf_dir):
    """X163 — exact token-phrase search: per-(phrase, doc) occurrence
    counts for a 3-phrase panel by anchor intersection over the shared
    whitespace tokenization — the positional-postings query bag-of-words
    BM25 (X78) cannot express. One corpus pass: posexplode -> broadcast
    join on the tiny term table (map-side filter: only phrase-vocabulary
    tokens survive) -> two hash aggs; work O(matching tokens). Overlap
    semantics: occurrences at every start (text 'a a a', phrase 'a a'
    -> 2), pinned by pytest on constructed docs."""
    from mimic2ts_spark.operators.search import phrase_occurrences

    return phrase_occurrences(_docs(spark, sf_dir), PHRASE_QUERIES)


def _q_search_phrase_sql():
    from mimic2ts_spark.operators.search import sql_phrase_occurrences

    return sql_phrase_occurrences(PHRASE_QUERIES)


Q_SEARCH_PHRASE_SQL = _q_search_phrase_sql()


# The search-index disk artifact: parquet on disk, immune to
# release_storage like pq._CODEBOOKS_CACHE. Queries sharing a corpus
# share one index build; determinism keeps the oracle hashes fixed.
def _search_index_dir(spark, sf_dir):
    from mimic2ts_spark.operators.search import (
        build_positional_postings,
        build_postings,
        build_term_impacts,
        build_trigram_postings,
        corpus_stats,
    )

    def build(out):
        docs = _docs(spark, sf_dir)
        par = spark.sparkContext.defaultParallelism
        (
            build_positional_postings(docs)
            .repartition(par, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .parquet(f"{out}/positions")
        )
        (
            build_trigram_postings(docs)
            .repartition(par, "gram")
            .sortWithinPartitions("gram", "doc_id")
            .write.mode("overwrite")
            .parquet(f"{out}/trigrams")
        )
        # BM25 postings + the impact-ordered stats MaxScore serving
        # needs: per-term (df, u_max) scalars and the 1-row corpus
        # totals, all computed once at build time like a production
        # inverted index
        postings = build_postings(docs).repartition(
            par, "term"
        ).sortWithinPartitions("term", "doc_id")
        postings.write.mode("overwrite").parquet(f"{out}/postings")
        stats = corpus_stats(docs)
        build_term_impacts(
            spark.read.parquet(f"{out}/postings"), stats
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/impacts")
        spark.createDataFrame(
            [(stats["n_docs"], stats["sum_dl"])], "n_docs long, sum_dl long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/stats")
        return out

    return memo.artifact(
        "search_index", [f"{sf_dir}/documents.parquet"], build, sf_dir
    )


_SEARCH_STATS_CACHE: dict = {}  # idx dir -> {n_docs, sum_dl} (1-row memo)


def _search_index_stats(spark, idx: str) -> dict:
    if idx not in _SEARCH_STATS_CACHE:
        r = spark.read.parquet(f"{idx}/stats").collect()[0]  # bounded: 1 row
        _SEARCH_STATS_CACHE[idx] = {"n_docs": r.n_docs, "sum_dl": r.sum_dl}
    return _SEARCH_STATS_CACHE[idx]


def q_search_phrase_indexed(spark, sf_dir):
    """X177 — phrase search SERVED FROM the positional-postings
    artifact (X164), under the full oracle gate: the oracle is the
    corpus-scan SQL, so the driver's hash compare IS the
    served-equals-scan contract — every phrase occurrence must come out
    of the vocabulary-pruned index scan bit-identical. The index builds
    once per corpus (driver-side path memo, the PQ-codebook pattern);
    the query itself touches only the phrase vocabulary's postings."""
    from mimic2ts_spark.operators.search import phrase_from_postings

    idx = _search_index_dir(spark, sf_dir)
    return phrase_from_postings(spark, f"{idx}/positions", PHRASE_QUERIES)


# char-level needles: inside-word ("able", "ilter") and crossing a token
# boundary ("hash ta", "rge batch") — the cases token-aligned search
# cannot serve; all four fire at sf0.001 AND sf0.01 (19-400 docs each).
SUBSTRING_NEEDLES = ("able", "ilter", "hash ta", "rge batch")


def q_search_substring_indexed(spark, sf_dir):
    """X177 — substring (grep) search served from the char-trigram
    artifact (X166): gram-pruned all-trigrams candidate intersection +
    exact verify against the corpus, oracle = the corpus-scan SQL
    (served-equals-scan under the driver's hash gate). Shares the
    memoized per-corpus index build with q_search_phrase_indexed."""
    from mimic2ts_spark.operators.search import substring_from_trigram_postings

    idx = _search_index_dir(spark, sf_dir)
    return substring_from_trigram_postings(
        spark, f"{idx}/trigrams", _docs(spark, sf_dir), SUBSTRING_NEEDLES
    )


def q_search_substring(spark, sf_dir):
    """X166 — substring (grep) search: NON-OVERLAPPING occurrence
    counts per (needle, doc) for a 4-needle panel via the
    replace-difference identity — pure integer math, one corpus pass
    with a k-row broadcast crossJoin. Char-level containment is the
    retrieval mode neither BM25 (bag of words) nor phrase search
    (token-aligned) covers. The standing-corpus twin serves the same
    counts from the persisted char-trigram inverted index
    (`maintain postings --trigrams`; every occurrence contains all its
    trigrams => gram-pruned candidates are a complete superset), pinned
    bit-equal by pytest."""
    from mimic2ts_spark.operators.search import substring_occurrences

    return substring_occurrences(_docs(spark, sf_dir), SUBSTRING_NEEDLES)


def _q_search_substring_sql():
    from mimic2ts_spark.operators.search import sql_substring_occurrences

    return sql_substring_occurrences(SUBSTRING_NEEDLES)


Q_SEARCH_SUBSTRING_SQL = _q_search_substring_sql()


def q_mmr_rerank(spark, sf_dir):
    """X151 — MMR diversified top-k: greedy maximal-marginal-relevance
    rerank of the exact top-20 candidates (λ=0.7), k=5 unrolled argmax
    rounds over persisted candidate/pair-sim tables — relevant-but-not-
    redundant retrieval, the diverse-sampling shape a training-data
    curator wants. Oracle unrolls identical rounds (row_number
    score-DESC/id-ASC argmax); all floats are identical op trees."""
    embs = _embs(spark, sf_dir)
    return S.mmr_rerank(embs, embs.where(F.col("vec_id") < 5))


Q_MMR_RERANK_SQL = S.sql_mmr_rerank()


TRUNC_K = 10


def q_embedding_truncation(spark, sf_dir):
    """X150 — matryoshka-truncation evaluation: recall@10 of
    prefix-truncated cosine (8/16/32 of 64 dims) against the full-dim
    exact top-10, per (trunc_dim, query) — the storage/quality dial an
    MRL-style deployment tunes. One corpus pass computes all four
    cosines per candidate pair (truncation = truncating the exact
    left-to-right fold), one WindowGroupLimit ranks every (query, dim)
    leg; the oracle replays each leg with the dim-parameterized exact
    cosine and the identical tie-break."""
    embs = _embs(spark, sf_dir)
    return S.truncation_recall(
        embs, embs.where(F.col("vec_id") < 5), k=TRUNC_K
    )


def _q_embedding_truncation_sql():
    parts = [
        "v AS (SELECT vec_id, embedding FROM embeddings)",
        "q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5)",
    ]
    all_dims = list(S.TRUNC_DIMS) + [S.DIM]
    for d in all_dims:
        parts.append(
            f"""r{d} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {S.sql_cosine('q.embedding', 'v.embedding', dim=d)}
                            DESC, v.vec_id) AS rn
        FROM q, v WHERE q.vec_id <> v.vec_id
    ) WHERE rn <= {TRUNC_K}
)"""
        )
    parts.append(
        "tr AS ("
        + " UNION ALL ".join(
            f"SELECT CAST({d} AS BIGINT) AS trunc_dim, query_id, neighbor_id "
            f"FROM r{d}"
            for d in S.TRUNC_DIMS
        )
        + ")"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT t.trunc_dim, t.query_id,
       CAST(count(f.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(f.neighbor_id) AS DOUBLE) / CAST({TRUNC_K} AS DOUBLE)
           AS recall
FROM tr t LEFT JOIN r{S.DIM} f
  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
GROUP BY t.trunc_dim, t.query_id
"""
    )


Q_EMBEDDING_TRUNCATION_SQL = _q_embedding_truncation_sql()


def q_join_bloom(spark, sf_dir):
    """X147 — Bloom-filter semi-join reduction (joins.bloom_semi_join):
    orders ⋈ BUILDING-segment customers with the fact side pruned by a
    16 KiB deterministic Bloom filter over the dim key set BEFORE the
    join shuffle (~80 % of the fact shuffle gone at this selectivity).
    The shuffle_hash hint keeps the join's reduce side real (a
    broadcast join would have no fact shuffle to save — same rationale
    as q_join_salted); the exact join kills the false positives, so the
    oracle is the plain join."""
    from mimic2ts_spark.operators.joins import bloom_semi_join

    o = _h._t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice"),
    )
    c = (
        _h._t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    return bloom_semi_join(o, c.hint("shuffle_hash"), key="c_custkey").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


Q_JOIN_BLOOM_SQL = """
SELECT o_orderkey, o_custkey AS c_custkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""


def q_decontaminate(spark, sf_dir):
    """X77 — benchmark decontamination: training docs sharing ≥1 word
    5-gram with the held-out benchmark slice (doc_id % 53 == 0 — the
    deterministic stand-in for an eval set). On this corpus the hits are
    exactly the near-duplicate copies of benchmark docs: random 5-grams
    from the ~30-word vocabulary almost never collide by chance."""
    from mimic2ts_spark.operators.search import (
        DECON_BENCH_MOD,
        benchmark_contamination,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
    train = docs.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return benchmark_contamination(train, bench)


def _decon_sql():
    from mimic2ts_spark.operators.search import (
        DECON_BENCH_MOD,
        sql_benchmark_contamination,
    )

    return sql_benchmark_contamination(
        f"(SELECT * FROM documents WHERE doc_id % {DECON_BENCH_MOD} <> 0)",
        f"(SELECT * FROM documents WHERE doc_id % {DECON_BENCH_MOD} = 0)",
    )


Q_DECONTAMINATE_SQL = _decon_sql()


def q_event_funnel(spark, sf_dir):
    """X79 — ordered conversion funnel (view → click → purchase) per
    user: t_view = first view; t_click = first click AT OR AFTER that
    view; t_purchase = first purchase at or after that click. The three
    dependent mins are three whole-partition Window projects over the
    SAME user_id partitioning — Catalyst plans ONE exchange + sort, and
    the final per-user collapse reuses it (no second shuffle). All
    timestamps as integer epoch seconds → bit-exact oracle."""
    from pyspark.sql import Window

    ev = _h._t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("t"),
    )
    w = Window.partitionBy("user_id")
    s = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("t") >= F.col("t1")),
                    F.col("t"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("t") >= F.col("t2")),
                    F.col("t"),
                )
            ).over(w),
        )
    )
    stage = (
        F.col("t_view").isNotNull().cast("int")
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_purchase").isNotNull().cast("int")
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.min("t1").alias("t_view"),
            F.min("t2").alias("t_click"),
            F.min("t3").alias("t_purchase"),
        )
        .withColumn("stage", stage.cast("long"))
    )


Q_EVENT_FUNNEL_SQL = """
WITH e AS (
    SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
    FROM events
),
s1 AS (
    SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
                  OVER (PARTITION BY user_id) AS t1 FROM e
),
s2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND t >= t1 THEN t END)
                  OVER (PARTITION BY user_id) AS t2 FROM s1
),
s3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND t >= t2 THEN t END)
                  OVER (PARTITION BY user_id) AS t3 FROM s2
)
SELECT user_id, min(t1) AS t_view, min(t2) AS t_click,
       min(t3) AS t_purchase,
       CAST((CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN min(t3) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS stage
FROM s3 GROUP BY 1
"""

RETENTION_WEEK_SECONDS = 604_800


def q_retention_cohort(spark, sf_dir):
    """X80 — weekly cohort retention matrix: users bucketed by their
    first-active week; n_users = distinct users from cohort c active in
    week c+offset. (user, week) pairs are deduped FIRST (one shuffle on
    the pair — the big reduction), the per-user first week is one
    window pass, and the final (cohort, offset) count is a tiny agg."""
    from pyspark.sql import Window

    wk = (
        _h._t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                f"unix_timestamp(ts) div {RETENTION_WEEK_SECONDS}"
            ).alias("week"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id")
    return (
        wk.withColumn("cohort_week", F.min("week").over(w))
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


Q_RETENTION_COHORT_SQL = f"""
WITH wk AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // {RETENTION_WEEK_SECONDS} AS week
    FROM events
),
c AS (
    SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week
    FROM wk
)
SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
FROM c GROUP BY 1, 2
"""

DIFF_OLD_MOD = 7  # old snapshot: doc_id % 7 != 0
DIFF_NEW_MOD = 5  # new snapshot: doc_id % 5 != 0
DIFF_EDIT_MOD = 11  # docs edited between snapshots: doc_id % 11 == 0


def q_corpus_diff(spark, sf_dir):
    """X86 — corpus snapshot diff (operators/diff.py): two snapshot
    views are derived deterministically from the documents table
    (membership by doc_id mod; an edit marker appended for changed
    docs), then diffed with the generic full-outer md5 operator — the
    plan contains the real shuffle join a production snapshot pair
    would take."""
    from mimic2ts_spark.operators.diff import snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % DIFF_OLD_MOD != 0)
    new = docs.where(F.col("doc_id") % DIFF_NEW_MOD != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % DIFF_EDIT_MOD == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


def _corpus_diff_sql():
    from mimic2ts_spark.operators.diff import sql_snapshot_diff

    new_rel = (
        "(SELECT doc_id, CASE WHEN doc_id % {e} = 0 THEN text || ' v2' "
        "ELSE text END AS text FROM documents WHERE doc_id % {n} <> 0)"
    ).format(e=DIFF_EDIT_MOD, n=DIFF_NEW_MOD)
    old_rel = f"(SELECT doc_id, text FROM documents WHERE doc_id % {DIFF_OLD_MOD} <> 0)"
    return sql_snapshot_diff(old_rel, new_rel)


Q_CORPUS_DIFF_SQL = _corpus_diff_sql()


def q_embedding_normalize(spark, sf_dir):
    """X84 — per-dimension min-max feature scaling to [0,1], long form:
    the normalization pass before training/ANN indexing. One posexplode
    scan; the 64-row per-dim (min,max) table is a broadcast join back;
    (x − min)/(max − min) is a single float64 division on exactly-
    representable float32 inputs — bit-identical cross-engine.
    Constant dims (max == min) map to 0.0."""
    e = _embs(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim", "v_raw")
    ).select("vec_id", "dim", F.col("v_raw").cast("double").alias("v"))
    stats = e.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    return (
        e.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            F.when(
                F.col("hi") > F.col("lo"),
                (F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")),
            )
            .otherwise(F.lit(0.0))
            .alias("v_norm"),
        )
    )


Q_EMBEDDING_NORMALIZE_SQL = """
WITH x AS (
    SELECT vec_id, g.i AS dim,
           CAST(embedding[CAST(g.i AS INTEGER) + 1] AS DOUBLE) AS v
    FROM embeddings, unnest(range(len(embedding))) AS g(i)
),
stats AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY 1)
SELECT x.vec_id, CAST(x.dim AS BIGINT) AS dim,
       CASE WHEN s.hi > s.lo THEN (x.v - s.lo) / (s.hi - s.lo)
            ELSE 0.0 END AS v_norm
FROM x JOIN stats s ON x.dim = s.dim
"""


def q_dedup_spans(spark, sf_dir):
    """X87 — span-level exact dedup (operators/dedup.py:span_dedup):
    cross-doc-repeated 5-token spans removed from every doc and the text
    rebuilt in original order — the discretized form of Lee et al. 2022
    repeated-substring removal. Three shuffles, all on uniform keys."""
    from mimic2ts_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir))


def _q_dedup_spans_sql():
    from mimic2ts_spark.operators.dedup import sql_span_dedup

    return sql_span_dedup()


Q_DEDUP_SPANS_SQL = _q_dedup_spans_sql()


def q_tfidf_keywords(spark, sf_dir):
    """X88 — per-doc top-3 keyword extraction under integer-exact TF-IDF
    (operators/search.py:tfidf_topk_terms). The per-doc rank window
    plans as WindowGroupLimit; the vocab join is left to AQE."""
    from mimic2ts_spark.operators.search import tfidf_topk_terms

    return tfidf_topk_terms(_docs(spark, sf_dir))


def _q_tfidf_keywords_sql():
    from mimic2ts_spark.operators.search import sql_tfidf_topk_terms

    return sql_tfidf_topk_terms()


Q_TFIDF_KEYWORDS_SQL = _q_tfidf_keywords_sql()


def q_graph_pagerank(spark, sf_dir):
    """X89 — integer-exact PageRank (operators/graph.py), 3 synchronous
    rounds over the supplier reorder-transition graph: for each customer
    the suppliers of their orders in (o_orderdate, o_orderkey,
    l_linenumber) sequence, an edge supplier→next-supplier. Edges and
    out-degrees are computed once and persisted; each round is one
    shuffle join + one hash aggregate; ranks never leave the cluster."""
    from mimic2ts_spark.operators.graph import build_transition_edges, pagerank_scaled

    li = memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    orders = memo.read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    seq = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_custkey", "o_orderdate", "o_orderkey", "l_linenumber", "l_suppkey"
    )
    # the synthetic lineitem has duplicate (orderkey, linenumber) rows, so
    # l_suppkey (the node value) closes the order: ties then only permute
    # identical node values and the transition sequence stays deterministic
    edges = build_transition_edges(
        seq,
        "o_custkey",
        "l_suppkey",
        ["o_orderdate", "o_orderkey", "l_linenumber", "l_suppkey"],
    )
    return pagerank_scaled(edges)


def _q_graph_pagerank_sql():
    from mimic2ts_spark.operators.graph import sql_pagerank, sql_transition_edges

    seq = (
        "(SELECT o.o_custkey, o.o_orderdate, o.o_orderkey, "
        "l.l_linenumber, l.l_suppkey "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)"
    )
    edges = sql_transition_edges(
        seq,
        "o_custkey",
        "l_suppkey",
        ["o_orderdate", "o_orderkey", "l_linenumber", "l_suppkey"],
    ).strip()
    return sql_pagerank(edges)


Q_GRAPH_PAGERANK_SQL = _q_graph_pagerank_sql()


def q_graph_communities(spark, sf_dir):
    """X148 — deterministic label-propagation communities over the
    minhash near-dup pair graph: duplicate FAMILIES by neighborhood
    label majority (4 synchronous rounds, min-label tie-break as a
    struct-min hash aggregate). Where connected-components merges
    everything reachable — the chain-merging failure mode of near-dup
    clustering — LPA keeps weakly-bridged families apart, so the two
    labelings on the SAME pair graph (q_dedup_clusters vs this) bound
    the chaining ambiguity. A dense graph floods to one label under
    min-tie-break sync LPA (measured on the supplier transition graph:
    1 community — exactly why the op belongs on the sparse dup graph).
    Fixed rounds keep lineage linear; the oracle unrolls identical
    rounds with a row_number tie-break over the identical pair SQL."""
    from mimic2ts_spark.operators.graph import label_propagation

    # r14: edge list from the shared per-corpus raw-pair disk artifact
    # (_raw_pairs — the same relation q_dedup_minhash registers;
    # value-identical by deterministic derivation). LPA's symmetrized
    # persist then caches a parquet read instead of the full
    # shingle+minhash+banding lineage.
    pairs = _raw_pairs(spark, sf_dir, threshold=0.8)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # registered X148 oracle BASELINE — the dup guard warns, not raises
    return label_propagation(edges, on_duplicates="warn")


def _q_graph_communities_sql():
    from mimic2ts_spark.operators.graph import sql_label_propagation

    edges = (
        "(SELECT doc_a AS src, doc_b AS dst FROM ("
        + Q_DEDUP_MINHASH_SQL
        + "))"
    )
    return sql_label_propagation(edges)


Q_GRAPH_COMMUNITIES_SQL = _q_graph_communities_sql()


def q_graph_communities_canonical(spark, sf_dir):
    """X158 — exact-first LPA communities (the registered scale path for
    X148): label propagation over the CANONICAL near-dup pair graph
    (dedup.canonical_near_dup_pairs = md5 exact-dedup, then MinHash-LSH
    over canonicals). The raw-pair X148 form feeds LPA an edge set that
    is quadratic per exact-duplicate cluster; over canonicals the graph
    holds one node per distinct text, so community structure is the true
    cross-content one and edge volume stays ~flat on dup-heavy corpora.
    Exact copies rejoin their canonical's community by construction."""
    from mimic2ts_spark.operators.graph import label_propagation

    # shared per-corpus pair artifact (value-identical; r12)
    pairs = _canon_pairs(spark, sf_dir, threshold=0.8)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # canonical pairs: duplicate cliques removed by construction — skip
    return label_propagation(edges, on_duplicates="ignore")


def _q_graph_communities_canonical_sql():
    from mimic2ts_spark.operators.graph import sql_label_propagation

    edges = (
        "(SELECT doc_a AS src, doc_b AS dst FROM ("
        + Q_DEDUP_PIPELINE_SQL
        + "))"
    )
    return sql_label_propagation(edges)


Q_GRAPH_COMMUNITIES_CANONICAL_SQL = _q_graph_communities_canonical_sql()


TRANSITION_TOP_K = 5


def q_event_transitions(spark, sf_dir):
    """X90 — per-user event-type Markov transitions: lead() over each
    user's (ts, event_id)-ordered stream, global (src → dst) counts,
    then top-5 destinations per source. ONE shuffle on user_id for the
    window, one hash-agg on the 36-ish (src, dst) pairs; the per-src
    rank window plans as WindowGroupLimit."""
    from pyspark.sql import Window as W

    ev = _h._t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rk = W.partitionBy("src").orderBy(F.desc("n"), F.col("dst"))
    return (
        pairs.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= TRANSITION_TOP_K)
        .select("src", "dst", "n", F.col("rk").cast("int").alias("rk"))
    )


Q_EVENT_TRANSITIONS_SQL = f"""
WITH pairs AS (
    SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT event_type AS src,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS dst
        FROM events
    ) WHERE dst IS NOT NULL
    GROUP BY 1, 2
)
SELECT src, dst, n, CAST(rk AS INTEGER) AS rk FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rk
    FROM pairs
) WHERE rk <= {TRANSITION_TOP_K}
"""


WEIGHTED_SAMPLE_K = 8


def q_sample_weighted(spark, sf_dir):
    """X107 — deterministic weighted sampling (priority sampling,
    Duffield–Lund–Thorup): per event_type keep the k rows with highest
    priority w/u, u = (md5_code+1)/2^60 — heavy rows are
    proportionally more likely in, yet the sample is a pure function of
    the data (retry/engine/append stable, no rand(); the md5 code is
    the CLAUDE.md cross-engine hash rule). Weights are floored at 0.01
    (a zero/negative weight has zero inclusion probability in DLT;
    ANSI Spark errors on the division, DuckDB returns inf — the floor
    sidesteps both, identically). Ordering key is the single IEEE
    division u_scaled/w — identical in both engines; event_id breaks
    exact ties. Plans as WindowGroupLimit per group."""
    from pyspark.sql import Window as W

    from mimic2ts_spark.operators.sketch import CODE_SPACE, kmv_code

    ev = _h._t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    # ascending (code+1)/w  ==  descending priority w/u (u = (code+1)/2^60)
    pri = (kmv_code(F.col("event_id")) + 1).cast("double") / F.greatest(
        F.col("value"), F.lit(0.01)
    )
    w = W.partitionBy("event_type").orderBy(pri.asc(), F.col("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= WEIGHTED_SAMPLE_K)
        .select("event_type", "event_id", "value", F.col("rk").cast("int").alias("rk"))
    )


def _q_sample_weighted_sql():
    from mimic2ts_spark.operators.text import SQL_CODE

    code = SQL_CODE.format(tok="CAST(event_id AS VARCHAR)")
    return f"""
SELECT event_type, event_id, value, CAST(rk AS INTEGER) AS rk FROM (
    SELECT event_type, event_id, value,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(({code}) + 1 AS DOUBLE) / greatest(value, 0.01),
                        event_id
           ) AS rk
    FROM events
) WHERE rk <= {WEIGHTED_SAMPLE_K}
"""


Q_SAMPLE_WEIGHTED_SQL = _q_sample_weighted_sql()


BASKET_TOP_K = 20


def q_basket_pairs(spark, sf_dir):
    """X105 — market-basket co-occurrence: the top-20 part pairs bought
    together in one order. Per-order distinct parts self-join within
    the order key — the fan-out is Σ(basket_i choose 2), bounded by
    basket size, never corpus² — then a pair hash-agg and a 1-row-per-
    pair TakeOrdered top-k. Tie-break (n DESC, part_a, part_b)."""
    li = (
        memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # persisted: both self-join sides — unpersisted the scan +
        # distinct exchange ran twice (guide §5; r14)
        .persist()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "o")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )


Q_BASKET_PAIRS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS n
FROM li a JOIN li b ON a.o = b.o AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


TRI_MIN_MULT = 3  # FLOOR for the strong-edge threshold (see below)

# The strong-edge cut must SCALE with corpus multiplicity: a constant 3 on
# a duplicate-heavy corpus (every transition ~10x) passes nearly every
# edge and the near-complete graph's C(n,3) triangles go quadratic-plus
# (33 s at the 10x sweep). Derived threshold = greatest(3, ceil(1.5 x
# mean multiplicity)), computed in EXACT integer math shared by both
# engines: ceil(3s / 2c) = (3s + 2c - 1) // (2c) on positive ints (Spark
# div == DuckDB // on non-negatives). sf0.1 derives 3 (bench-stable);
# sf0.01 derives 9; a 10x duplicate-heavy sweep derives ~1.5x its
# inflated mean and the graph density stays bounded.


def q_graph_triangles(spark, sf_dir):
    """X106 — per-node triangle counts over the undirected STRONG
    supplier transition graph (transition multiplicity ≥ 3 — raw
    transitions form a near-complete graph whose C(n,3) triangles are
    noise, and a graph-analytics pass always thresholds first): the
    clustering-coefficient numerator. Edges are canonicalized (lo < hi)
    and deduped; wedges come from ONE edge self-join on the shared
    endpoint and close against a third edge lookup — the standard
    two-join distributed form (no matrix, no driver graph). Each
    triangle (a<b<c) is found exactly once and credited to all three
    vertices via a 3-way role union."""
    from pyspark.sql import Window as W

    li = memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    orders = memo.read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    seq = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_custkey", "o_orderdate", "o_orderkey", "l_linenumber", "l_suppkey"
    )
    w = W.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey", "l_linenumber", "l_suppkey"
    )
    multiplicity = (
        seq.select(
            F.col("l_suppkey").alias("src"),
            F.lead("l_suppkey").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    # 1-row corpus-stats broadcast, not a collect: the threshold rides the
    # plan, and the multiplicity agg's shuffle is reused by both subtrees.
    stats = multiplicity.agg(
        F.sum("m").alias("_s"), F.count(F.lit(1)).alias("_c")
    )
    directed = (
        multiplicity.crossJoin(F.broadcast(stats))
        .where(
            F.col("m")
            >= F.greatest(
                F.lit(TRI_MIN_MULT).cast("long"),
                F.expr("(3 * _s + 2 * _c - 1) div (2 * _c)"),
            )
        )
        .drop("_s", "_c")
    )
    # und is referenced by all three join roles: persist it so the
    # scan→join→window→agg lineage runs ONCE (unpersisted plan copies ran
    # it 9x — 3 und refs x 3 tri refs — 18 Window nodes in the physical
    # plan; harness drivers release_storage() between queries).
    und = (
        directed.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
        .persist()
    )
    e1 = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")  # a < b < c by construction
    e3 = und.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = wedges.join(e3, ["a", "c"])
    # single tri subtree: explode the three roles instead of a 3-way
    # union (which would re-evaluate the wedge joins per branch)
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_node


def _q_graph_triangles_sql():
    edges = f"""
SELECT src, dst FROM multiplicity
WHERE m >= (SELECT greatest({TRI_MIN_MULT}, (3 * sum(m) + 2 * count(*) - 1) // (2 * count(*)))
            FROM multiplicity)
""".strip()
    return f"""
WITH multiplicity AS (
    SELECT src, dst, count(*) AS m FROM (
        SELECT l_suppkey AS src,
               lead(l_suppkey) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey, l_linenumber, l_suppkey
               ) AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ) WHERE dst IS NOT NULL AND src <> dst
    GROUP BY 1, 2
),
directed AS ({edges}),
und AS (
    SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
    FROM directed
),
tri AS (
    SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
    FROM und e1
    JOIN und e2 ON e1.hi = e2.lo
    JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
GROUP BY 1
"""


Q_GRAPH_TRIANGLES_SQL = _q_graph_triangles_sql()


FUZZY_DIRTY_MOD = 7  # docs contributing the "dirty" vocab side


def _fuzzy_keyed(df, col, explode_lens):
    """Blocking keys for the lev<=1 join: (side, end-char, length
    bucket), side 0 = first char, 1 = last. The build side explodes
    length to {len-1, len, len+1} so probes meet builds within one
    edit's length difference."""
    ln = F.length(col)
    first = F.substring(col, 1, 1)
    last = F.expr(f"substring({col}, length({col}), 1)")
    lens = F.explode(F.array(ln - 1, ln, ln + 1)) if explode_lens else ln
    return df.select(
        "*",
        F.posexplode(F.array(first, last)).alias("side", "ch"),
    ).select("*", lens.alias("lb"))


def q_fuzzy_vocab(spark, sf_dir):
    """X104 — fuzzy dictionary matching (edit distance ≤ 1): a dirty
    vocabulary (deterministic last-char truncation — the OCR/typo
    stand-in) matched against the canonical corpus vocabulary with
    Spark's built-in levenshtein. Blocking makes it scale: a lev≤1 pair
    (both sides ≥3 chars) must agree on the FIRST or the LAST character
    and differ ≤1 in length (a single edit at position 0 leaves the
    tail — hence the last char — intact; anywhere else leaves the
    first), so candidates come from two equi-joins on
    (end-char, length-bucket) instead of dirty×canon. The DuckDB oracle
    is deliberately the NAIVE cross join + lev filter — it does not
    share the blocking theorem, so a blocking hole would hash-mismatch."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("w")
    )
    canon = (
        toks.where(F.length("w") >= 3)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumnRenamed("w", "canon_w")
    )
    dirty = (
        toks.where(F.col("doc_id") % FUZZY_DIRTY_MOD == 0)
        .select(
            F.when(
                F.length("w") >= 4, F.expr("substring(w, 1, length(w) - 1)")
            )
            .otherwise(F.col("w"))
            .alias("dirty_w")
        )
        .where(F.length("dirty_w") >= 3)
        .distinct()
    )

    probe = _fuzzy_keyed(dirty, "dirty_w", explode_lens=False)
    build = _fuzzy_keyed(canon, "canon_w", explode_lens=True)
    cand = probe.join(build, ["side", "ch", "lb"]).dropDuplicates(
        ["dirty_w", "canon_w"]
    )
    return (
        cand.where(F.levenshtein("dirty_w", "canon_w") <= 1)
        .select(
            "dirty_w",
            "canon_w",
            "cnt",
            F.levenshtein("dirty_w", "canon_w").cast("int").alias("dist"),
        )
    )


Q_FUZZY_VOCAB_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
    FROM documents
),
canon AS (
    SELECT w AS canon_w, CAST(count(*) AS BIGINT) AS cnt
    FROM toks WHERE len(w) >= 3 GROUP BY 1
),
dirty AS (
    SELECT DISTINCT CASE WHEN len(w) >= 4 THEN substring(w, 1, len(w) - 1)
                         ELSE w END AS dirty_w
    FROM toks WHERE doc_id % {FUZZY_DIRTY_MOD} = 0
)
SELECT d.dirty_w, c.canon_w, c.cnt,
       CAST(levenshtein(d.dirty_w, c.canon_w) AS INTEGER) AS dist
FROM dirty d, canon c
WHERE len(d.dirty_w) >= 3 AND levenshtein(d.dirty_w, c.canon_w) <= 1
"""


def q_scd2_lookup(spark, sf_dir):
    """X102 — point-in-time dimension lookup: every purchase event is
    enriched with the SCD2 state valid AT its timestamp — the
    temporal-join composition (X51 dimension build → X19 as-of join)
    every warehouse fact pipeline runs. Zero-length validity ranges
    (two changes in the same second) are dropped so (user, valid_from)
    is unique and the as-of match equals the BETWEEN-range semantics
    the oracle states declaratively."""
    from mimic2ts_spark.operators.joins import asof_join

    dim = (
        _h.q_scd2(spark, sf_dir)
        .where(F.col("valid_from") <= F.col("valid_to"))
        .select("user_id", F.col("valid_from").alias("vts"), "state")
    )
    ev = _h._t(spark, sf_dir, "events").withColumn(
        "ts_s", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    probe = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_s"
    )
    out = asof_join(
        probe,
        dim,
        on=["user_id"],
        probe_ts="ts_s",
        build_ts="vts",
        value_cols=["state"],
        matched_ts="state_since",
    )
    return out.where(F.col("state").isNotNull()).select(
        "event_id", "user_id", "ts_s", "state", "state_since"
    )


def _q_scd2_lookup_sql():
    scd2 = _h.REGISTRY["q_scd2"][1]
    return f"""
WITH dim AS (
    SELECT user_id, state, valid_from, valid_to FROM ({scd2})
    WHERE valid_from <= valid_to
),
probe AS (
    SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts_s, d.state,
       d.valid_from AS state_since
FROM probe p JOIN dim d
  ON p.user_id = d.user_id AND p.ts_s BETWEEN d.valid_from AND d.valid_to
"""


FEATURE_BINS = 4


def q_feature_bins(spark, sf_dir):
    """X103 — quantile feature binning: per event_type, NTILE(4) over
    (value, event_id) — the equi-populated bucketing a feature
    pipeline uses for discretization. The tie-break column makes the
    tile assignment deterministic cross-engine (ntile over a non-unique
    order is engine-ambiguous). One shuffle; per-bin (n, lo, hi)."""
    from pyspark.sql import Window as W

    ev = _h._t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("bin", F.ntile(FEATURE_BINS).over(w))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .select("event_type", F.col("bin").cast("int").alias("bin"), "n", "lo", "hi")
    )


Q_FEATURE_BINS_SQL = f"""
SELECT event_type, CAST(bin AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n, min(value) AS lo, max(value) AS hi
FROM (
    SELECT event_type, value,
           ntile({FEATURE_BINS}) OVER (
               PARTITION BY event_type ORDER BY value, event_id
           ) AS bin
    FROM events
)
GROUP BY 1, 2
"""


def q_bpe_train(spark, sf_dir):
    """X101 — BPE tokenizer-training rounds (operators/bpe.py): two
    pair-count → argmax → greedy-merge rounds over the corpus word
    counts. The weighted pair wordcount is the only heavy pass (hash-agg
    over the persisted vocab table); each round's merge rule is a 1-row
    TakeOrdered collected into the next plan as a literal — exactly a
    real tokenizer's merge table. Output: the learned merges plus the
    strictly-decreasing corpus symbol count."""
    from mimic2ts_spark.operators.bpe import bpe_train_summary

    return bpe_train_summary(_docs(spark, sf_dir))


def _q_bpe_train_sql():
    from mimic2ts_spark.operators.bpe import sql_bpe_train_summary

    return sql_bpe_train_summary()


Q_BPE_TRAIN_SQL = _q_bpe_train_sql()


ROLLING_WINDOW_DAYS = 7


def q_rolling_actives(spark, sf_dir):
    """X99 — rolling 7-day distinct active users per day: the
    engagement-dashboard staple that needs distinct-over-a-sliding-set
    (NOT a sum — windows overlap, so per-day counts can't be added).
    Exact form: dedup to (user, day) — the only pass that sees raw
    volume — then explode each active day to the ≤7 window days it
    contributes to (a bounded 7× fan-out of the already-tiny distinct
    set) and count distinct users per window day. Days with no history
    before them still report (partial leading windows included).
    Output (day, n_active)."""
    ev = _h._t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    ud = ev.distinct()
    contributed = ud.select(
        "user_id",
        F.explode(
            F.expr(
                f"sequence(day, date_add(day, {ROLLING_WINDOW_DAYS - 1}))"
            )
        ).alias("win_day"),
    )
    # clip to days that actually occur (no phantom trailing days)
    days = ev.select("day").distinct().withColumnRenamed("day", "win_day")
    return (
        contributed.join(days, "win_day")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .select(F.col("win_day").cast("string").alias("day"), "n_active")
    )


Q_ROLLING_ACTIVES_SQL = f"""
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS win_day FROM events),
contributed AS (
    SELECT user_id, day + CAST(g.i AS INTEGER) AS win_day
    FROM ud, unnest(range({ROLLING_WINDOW_DAYS})) AS g(i)
)
SELECT CAST(c.win_day AS VARCHAR) AS day,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active
FROM contributed c JOIN days d ON c.win_day = d.win_day
GROUP BY 1
"""


def q_rolling_actives_kmv(spark, sf_dir):
    """X116 — approximate rolling 7-day actives via KMV sketch union:
    the at-scale path for X99. Each active day's distinct-user codes
    feed the window days exactly as the exact form, but the per-window
    state is the KMV sketch (k smallest codes) — and because the
    sketch of a union IS the min-k of the union of code sets, this is
    equivalent to merging 7 per-day sketches: O(k) per window instead
    of O(distinct users). The exact count is joined alongside so the
    estimator error is visible in the result. Everything is the same
    md5 code space as X21, so the DuckDB oracle replays it exactly."""
    from mimic2ts_spark.operators.sketch import kmv_sketch

    ev = _h._t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    ud = ev.distinct()
    contributed = ud.select(
        "user_id",
        F.explode(
            F.expr(f"sequence(day, date_add(day, {ROLLING_WINDOW_DAYS - 1}))")
        ).alias("win_day"),
    )
    days = ev.select("day").distinct().withColumnRenamed("day", "win_day")
    # persisted: consumed twice (the KMV sketch and the exact
    # countDistinct joined alongside) — without it the distinct +
    # 7-day explode + day join runs per consumer (guide §5)
    windowed = contributed.join(days, "win_day").persist()
    sk = kmv_sketch(windowed, ["win_day"], "user_id")
    exact = windowed.groupBy("win_day").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        sk.join(exact, "win_day")
        .select(
            F.col("win_day").cast("string").alias("day"),
            "n_kept",
            "kth_code",
            "est_distinct",
            "n_exact",
        )
    )


def _q_rolling_actives_kmv_sql():
    from mimic2ts_spark.operators.sketch import CODE_SPACE, KMV_K
    from mimic2ts_spark.operators.text import SQL_CODE

    code = SQL_CODE.format(tok="CAST(user_id AS VARCHAR)")
    return f"""
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS win_day FROM events),
windowed AS (
    SELECT u.user_id, u.day + CAST(g.i AS INTEGER) AS win_day
    FROM ud u, unnest(range({ROLLING_WINDOW_DAYS})) AS g(i)
),
w2 AS (SELECT w.user_id, w.win_day FROM windowed w JOIN days d
       ON w.win_day = d.win_day),
codes AS (SELECT DISTINCT win_day, {code} AS c FROM w2),
ranked AS (
    SELECT win_day, c,
           row_number() OVER (PARTITION BY win_day ORDER BY c) AS rn
    FROM codes
),
sk AS (
    SELECT win_day, CAST(count(*) AS BIGINT) AS n_kept,
           max(c) AS kth_code,
           CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                ELSE {float(KMV_K - 1)} / (CAST(max(c) AS DOUBLE) / {CODE_SPACE})
           END AS est_distinct
    FROM ranked WHERE rn <= {KMV_K}
    GROUP BY 1
),
exact AS (
    SELECT win_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM w2 GROUP BY 1
)
SELECT CAST(s.win_day AS VARCHAR) AS day, s.n_kept, s.kth_code,
       s.est_distinct, e.n_exact
FROM sk s JOIN exact e ON s.win_day = e.win_day
"""


Q_ROLLING_ACTIVES_KMV_SQL = _q_rolling_actives_kmv_sql()


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def q_winsorize(spark, sf_dir):
    """X100 — per-group winsorization: clip values at the exact
    interpolated p05/p95 (the outlier-trim preprocessing pass), report
    per event_type (n, n_clipped_lo, n_clipped_hi, integer-cents mean
    of the clipped values). The cut points come from ONE exact-quantile
    aggregate (the q_quantiles shape) broadcast back onto the fact —
    group count is tiny, fact never re-shuffles beyond its one agg."""
    ev = _h._t(spark, sf_dir, "events").select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "lo",
        "hi",
        "value",
        F.greatest("lo", F.least("hi", F.col("value"))).alias("w"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clipped_lo"),
        F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clipped_hi"),
        F.sum(F.expr("CAST(round(w * 100) AS BIGINT)")).alias("sum_cents"),
    )


Q_WINSORIZE_SQL = f"""
WITH cuts AS (
    SELECT event_type,
           quantile_cont(value, {WINSOR_LO}) AS lo,
           quantile_cont(value, {WINSOR_HI}) AS hi
    FROM events GROUP BY 1
),
clipped AS (
    SELECT e.event_type, c.lo, c.hi, e.value,
           greatest(c.lo, least(c.hi, e.value)) AS w
    FROM events e JOIN cuts c ON e.event_type = c.event_type
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_lo,
       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_hi,
       CAST(sum(CAST(round(w * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM clipped
GROUP BY 1
"""


SKEW_TOP_K = 10
SKEW_SCALE = 1000  # per-mille


def q_skew_report(spark, sf_dir):
    """X97 — key-skew diagnostics: the pre-join report that decides
    broadcast vs salt vs AQE-split. Per-key counts (one hash-agg over
    the fact), global top-10 hottest keys as TakeOrderedAndProject, and
    each key's integer per-mille share of total rows via a 1-row scalar
    broadcast. Output (key, n, permille)."""
    li = memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet").select("l_suppkey")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = li.select(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key", "n", F.expr(f"({SKEW_SCALE} * n) div total").alias("permille")
        )
        .orderBy(F.desc("n"), "key")
        .limit(SKEW_TOP_K)
    )


Q_SKEW_REPORT_SQL = f"""
WITH c AS (
    SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem)
SELECT key, n, CAST(({SKEW_SCALE} * n) // total AS BIGINT) AS permille
FROM c, t
ORDER BY n DESC, key LIMIT {SKEW_TOP_K}
"""


def q_quality_gate(spark, sf_dir):
    """X98 — data-quality gate: typed validation rules evaluated in ONE
    scan, reported long-form as (rule, n_violations) plus the
    'any'-quarantine row — the admission check a production pipeline
    runs before letting a batch into the lake. Rules are native boolean
    Columns folded through a stack() unpivot: no second scan per rule,
    no Python. Rule bounds are pinned against the synthetic
    distribution so every rule actually fires (an all-zero report
    would only test the plumbing)."""
    ev = _h._t(spark, sf_dir, "events").select("user_id", "event_type", "value", "ts")
    return quality_report(quality_flagged(ev))


QUALITY_RULES = (
    "value_null",
    "value_out_of_range",
    "bad_event_type",
    "user_null",
    "ts_out_of_window",
)


def quality_flagged(ev):
    """The shared rule set — one int flag column per rule plus any_rule.
    Used by the batch gate above AND streaming.quality_gate_stream (the
    two MUST evaluate identical expressions so the drained stream
    bit-equals the batch oracle)."""
    rules = {
        "value_null": F.col("value").isNull(),
        "value_out_of_range": F.col("value").isNotNull()
        & ~F.col("value").between(0.0, 250.0),
        "bad_event_type": ~F.col("event_type").isin(
            "click", "view", "purchase", "signup"
        ),
        "user_null": F.col("user_id").isNull(),
        "ts_out_of_window": ~F.col("ts").between("2024-01-03", "2030-01-01"),
    }
    assert tuple(rules) == QUALITY_RULES
    return ev.select(
        *[v.cast("int").alias(k) for k, v in rules.items()],
        F.greatest(*[v.cast("int") for v in rules.values()]).alias("any_rule"),
    )


def quality_report(flagged):
    cols = [*QUALITY_RULES, "any_rule"]
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return (
        flagged.select(
            F.expr(f"stack({len(cols)}, {stack}) AS (rule, hit)")
        )
        .groupBy("rule")
        .agg(F.sum("hit").cast("long").alias("n_violations"))
    )


Q_QUALITY_GATE_SQL = """
WITH f AS (
    SELECT CASE WHEN value IS NULL THEN 1 ELSE 0 END AS value_null,
           CASE WHEN value IS NOT NULL
                     AND NOT (value BETWEEN 0.0 AND 250.0) THEN 1 ELSE 0 END
               AS value_out_of_range,
           CASE WHEN event_type NOT IN
                     ('click','view','purchase','signup')
                THEN 1 ELSE 0 END AS bad_event_type,
           CASE WHEN user_id IS NULL THEN 1 ELSE 0 END AS user_null,
           CASE WHEN NOT (ts BETWEEN TIMESTAMP '2024-01-03'
                                 AND TIMESTAMP '2030-01-01')
                THEN 1 ELSE 0 END AS ts_out_of_window
    FROM events
),
lf AS (
    SELECT u.rule, u.hit FROM f, LATERAL (VALUES
        ('value_null', value_null),
        ('value_out_of_range', value_out_of_range),
        ('bad_event_type', bad_event_type),
        ('user_null', user_null),
        ('ts_out_of_window', ts_out_of_window),
        ('any_rule', greatest(value_null, value_out_of_range,
                              bad_event_type, user_null, ts_out_of_window))
    ) AS u(rule, hit)
)
SELECT rule, CAST(sum(hit) AS BIGINT) AS n_violations FROM lf GROUP BY 1
"""


SEMDEDUP_THRESHOLD = 0.45  # matches the synthetic embedding near-dup band (see q_dedup_embedding)


def q_stream_quality(spark, sf_dir):
    """X125 — streaming admission control: the batch quality-gate rule
    set evaluated on the LIVE event stream (shared Column expressions,
    complete-mode per-rule counters), drained to its final counts —
    which bit-equal the batch gate, so this entry shares the batch
    oracle SQL (streaming.quality_gate_stream)."""
    from mimic2ts_spark import streaming as ST

    return ST.run_quality_gate_available_now(spark, sf_dir)


def q_kmeans(spark, sf_dir):
    """X95 — quantized integer-exact k-means (operators/kmeans.py): two
    Lloyd rounds over the embeddings; output (cid, n, inertia) with
    exact int64 inertia. Assignment = 8-row broadcast join + struct-min
    hash agg; update = the posexplode (cid, dim) hash-agg shape; fixed
    rounds keep lineage linear (no checkpoints)."""
    from mimic2ts_spark.operators.kmeans import kmeans_cluster_stats

    return kmeans_cluster_stats(_embs(spark, sf_dir), cache_key=sf_dir)


def _q_kmeans_sql():
    from mimic2ts_spark.operators.kmeans import sql_kmeans_cluster_stats

    return sql_kmeans_cluster_stats()


Q_KMEANS_SQL = _q_kmeans_sql()


def q_dedup_semantic(spark, sf_dir):
    """X96 — SemDeDup (Abbas et al. 2023): k-means clusters as the
    blocking key, exact-cosine pairwise only within clusters — the
    clustering-blocked scale path that turns corpus-wide O(n²) into
    Σ O(|cluster|²). k must grow with the corpus (k ≈ n / target
    cluster size); the harness pins k=8 for the oracle."""
    from mimic2ts_spark.operators.kmeans import semantic_near_dup_pairs

    return semantic_near_dup_pairs(
        _embs(spark, sf_dir), SEMDEDUP_THRESHOLD, cache_key=sf_dir
    )


def _q_dedup_semantic_sql():
    from mimic2ts_spark.operators.kmeans import sql_semantic_near_dup_pairs

    return sql_semantic_near_dup_pairs(SEMDEDUP_THRESHOLD)


Q_DEDUP_SEMANTIC_SQL = _q_dedup_semantic_sql()


def q_dedup_semantic_canonical(spark, sf_dir):
    """X160 — exact-first SemDeDup (the duplicate-heavy scale path for
    X96, completing the exact-first family X157/X158): byte-identical
    vectors collapse to min-id canonicals (md5 of the quantized int
    coords — engine-portable), THEN clustering-blocked semantic dedup
    runs over canonicals only. This handles the case the X159 LSH
    sub-bucketing cannot: identical vectors co-bucket under every
    deterministic function, so a c-copy cluster pays Θ(c²) pairs in any
    pairwise stage unless the copies are removed first; output becomes
    true cross-content pairs, exact groups reconstruct the rest."""
    from mimic2ts_spark.operators.kmeans import semantic_near_dup_pairs

    # r14: canonicals from the shared per-corpus disk artifact
    # (_canon_vecs — value-identical by deterministic derivation)
    canon = _canon_vecs(spark, sf_dir)
    return semantic_near_dup_pairs(
        canon, SEMDEDUP_THRESHOLD, cache_key=sf_dir + ":semcanon"
    )


def _q_dedup_semantic_canonical_sql():
    from mimic2ts_spark.operators.kmeans import (
        sql_canonical_vectors,
        sql_semantic_near_dup_pairs,
    )

    # hoist the canonical base into ONE materialized CTE — DuckDB
    # re-inlines a derived table once per reference (CLAUDE.md), and the
    # semantic chain references the base from the kmeans CTEs, the
    # derived-k scalar and the sides join
    inner = sql_semantic_near_dup_pairs(SEMDEDUP_THRESHOLD, table="canon")
    return _sql_sub(
        inner,
        "WITH ",
        f"WITH canon AS MATERIALIZED (SELECT * FROM {sql_canonical_vectors()} c),\n",
        1,
    )


Q_DEDUP_SEMANTIC_CANONICAL_SQL = _q_dedup_semantic_canonical_sql()


def q_stream_classifier(spark, sf_dir):
    """X210 — streaming model-apply gate (streaming.py
    run_classifier_available_now): every arriving doc scored against
    the persisted X208 weight artifact, scored rows appended. Scoring
    is a pure per-row function of the final doc set (fixed dense
    weights) ⇒ batching-invariant ⇒ the drained output bit-equals the
    batch apply, whose SQL is the oracle (the X204 doctrine). A disk
    artifact per corpus (deterministic build; the maxFilesPerTrigger
    pytest keeps the multi-batch path covered)."""
    from mimic2ts_spark.operators.text import build_classifier_weights
    from mimic2ts_spark.streaming import run_classifier_available_now

    def build(out):
        build_classifier_weights(spark, f"{out}/weights")
        run_classifier_available_now(
            spark, sf_dir, f"{out}/weights", f"{out}/scored"
        )
        return f"{out}/scored"

    path = memo.artifact(
        "cls_stream", [f"{sf_dir}/documents.parquet"], build, sf_dir
    )
    return memo.read_parquet(spark, path)


def q_stream_postings_ingest(spark, sf_dir):
    """X204 — streaming search-index ingest (streaming.py
    run_postings_ingest_available_now): the index builds on the
    accepted 90%, the delta 10% drains through foreachBatch appends
    (postings rows + additive stats — `maintain postings-append`
    live), and the returned BM25 top-k SERVED from the drained index
    bit-equals full corpus-scan scoring over ALL docs, whose SQL is
    the oracle — the strongest contract in the streaming family (X194
    can only quality-pin; BM25 state is batching-invariant).

    The drained index is a disk artifact per corpus: the ingest is
    deterministic, so rebuilding the base index and re-draining the
    delta stream on every gate/bench call would pay the full build for
    identical bytes. The streaming path itself stays covered by the
    maxFilesPerTrigger batching-invariance pytest."""
    from mimic2ts_spark.operators.search import bm25_from_postings, corpus_stats
    from mimic2ts_spark.streaming import (
        docs_stream_base,
        run_postings_ingest_available_now,
    )

    def build(out):
        run_postings_ingest_available_now(
            spark, sf_dir, out, BM25_QUERY_TERMS
        )
        # drained stats == full-corpus stats (additive, batching-invariant)
        return f"{out}/postings", corpus_stats(docs_stream_base(spark, sf_dir))

    data_dir, stats = memo.artifact(
        "postings_ingest", [f"{sf_dir}/documents.parquet"], build, sf_dir
    )
    return bm25_from_postings(spark, data_dir, stats, BM25_QUERY_TERMS)


def q_stream_rollup(spark, sf_dir):
    """X109 — streaming incremental rollup (streaming.py rollup_stream):
    the live form of X91 — per-(user, event_type) state IS the
    mergeable (count, cents) partial, so the drained stream bit-equals
    the batch full recompute, whose SQL is the oracle."""
    from mimic2ts_spark.streaming import run_rollup_available_now

    return run_rollup_available_now(spark, sf_dir)


def q_stream_kmv(spark, sf_dir):
    """X94 — streaming KMV distinct-count sketch (streaming.py
    kmv_stream): the stateful-stream form of q_sketch_kmv. State IS the
    mergeable sketch (<= k smallest distinct codes per event_type), so
    the drained result is batching-independent and bit-equals the batch
    operator — whose DuckDB SQL is the oracle."""
    from mimic2ts_spark.streaming import run_kmv_available_now

    return run_kmv_available_now(spark, sf_dir)


def _q_stream_kmv_sql():
    from mimic2ts_spark.operators.sketch import kmv_sketch_sql

    return kmv_sketch_sql("events", "event_type", "user_id")


Q_STREAM_KMV_SQL = _q_stream_kmv_sql()


def q_stream_cms(spark, sf_dir):
    """X155 — streaming Count-Min sketch (streaming.py cms_stream): the
    frequency-side companion of q_stream_kmv. Counters are additive, so
    the stream form is a plain complete-mode aggregation — no custom
    state — and the drained counter table bit-equals the batch sketch
    at the same (fixed, capacity-planned) width under any batching;
    the oracle recomputes it from the static events table."""
    from mimic2ts_spark.streaming import run_cms_available_now

    return run_cms_available_now(spark, sf_dir)


def _q_stream_cms_sql():
    from mimic2ts_spark.operators import sketch as K
    from mimic2ts_spark.streaming import CMS_STREAM_WIDTH

    salts = ", ".join(f"({j})" for j in range(K.CMS_DEPTH))
    return f"""
SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM (
    SELECT s.j,
           CAST(('0x' || substr(md5(CAST(s.j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % {CMS_STREAM_WIDTH} AS bucket
    FROM events CROSS JOIN (VALUES {salts}) AS s(j)
)
GROUP BY j, bucket
"""


Q_STREAM_CMS_SQL = _q_stream_cms_sql()


def q_stream_sq8_stats(spark, sf_dir):
    """X214 — streaming SQ8 quantizer calibration (streaming.py
    sq8_stats_stream): the live form of `maintain sq8-stats`. Per-dim
    lo/hi over the quantized int grid; min/max are mergeable monotone
    combines, so a complete-mode groupBy(dim) agg is the whole stateful
    operator (64 rows of state at any volume) and the drained table is
    a pure function of the final vector set — bit-equal to batch
    sq8_int_stats under any batching (X204 drain-contract doctrine;
    maxFilesPerTrigger pytest re-proves invariance). The oracle
    recomputes the stats from the static embeddings table."""
    from mimic2ts_spark.streaming import run_sq8_stats_available_now

    return run_sq8_stats_available_now(spark, sf_dir)


def _q_stream_sq8_stats_sql():
    from mimic2ts_spark.operators.kmeans import _sql_quant

    return f"""
SELECT s.d AS dim, min(s.v) AS lo, max(s.v) AS hi FROM (
    SELECT unnest(list_transform(generate_series(1, len(x)),
        i -> struct_pack(d := CAST(i - 1 AS INTEGER),
                         v := x[CAST(i AS INTEGER)]))) AS s
    FROM (SELECT {_sql_quant('embedding')} AS x FROM embeddings) b
) GROUP BY 1
"""


Q_STREAM_SQ8_STATS_SQL = _q_stream_sq8_stats_sql()


def q_stream_ddq(spark, sf_dir):
    """X168 — streaming log-bucket quantile sketch (streaming.py
    ddq_stream): live percentile monitoring as the quantile-side
    companion of q_stream_cms. Counters are additive, so the stream
    form is a plain complete-mode aggregation; the report post-
    processes the DRAINED counter state with the identical batch
    quantile decode (operators/sketch.ddq_quantiles), and the oracle
    recomputes everything from the static events table — drained state
    must bit-equal the batch sketch under any batching."""
    from mimic2ts_spark.operators.sketch import ddq_quantiles
    from mimic2ts_spark.streaming import run_ddq_available_now

    return ddq_quantiles(run_ddq_available_now(spark, sf_dir), ["event_type"])


def _q_stream_ddq_sql():
    from mimic2ts_spark.operators import sketch as K

    cents = "CAST(round(value * 100) AS BIGINT)"
    bucket = K.ddq_bucket_sql(cents, "duckdb")
    est = K.ddq_quantiles_sql("cnts", "event_type")
    return f"""
WITH cnts AS (
    SELECT event_type, CAST({bucket} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
)
{est}
"""


Q_STREAM_DDQ_SQL = _q_stream_ddq_sql()


def q_json_props(spark, sf_dir):
    """X178 — semi-structured (JSON) analytics: schema-on-read
    extraction from the events `props` JSON column (get_json_object
    path '$.k' → long; a missing key or null document yields NULL in
    BOTH engines — verified parity including the '{}' and NULL cases)
    feeding a per-type integer aggregate: presence count, sum, distinct
    count, parity split, min/max. The JSON parse is a row-local Column
    expression on the scan — no UDF, no shuffle beyond the final
    hash-agg; at 100 TB the parse cost rides the one raw pass."""
    ev = _h._t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.countDistinct("k").cast("long").alias("n_distinct_k"),
        F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


Q_JSON_PROPS_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
       CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM (
    SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
)
GROUP BY event_type
"""


def q_trend_daily(spark, sf_dir):
    """X169 — per-type daily-volume trend: exact-integer OLS normal
    equations over PER-DAY aggregates (is this event type's traffic
    growing?) — the temporal companion of X75's token-distribution
    drift. Slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) with x = days since
    the corpus origin (2024-01-01, range-checked against the table:
    events span 2024-01, 30 distinct days at every sf) and y = daily
    row count. The regression state is one row PER DAY per group —
    never raw rows — so the int64 sums hold to ~10^15 total rows
    (beyond that the upgrade is DECIMAL sums, same shape). Reported as
    the exact (num, den) rational plus ONE double division, identical
    both engines; den > 0 filtered BEFORE the division (ANSI Spark
    errors on /0 where DuckDB returns inf)."""
    ev = _h._t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE'2024-01-01') AS BIGINT)")
        .alias("x"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("_sx"),
        F.sum("y").cast("long").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("_sxy"),
    )
    s = g.select(
        "event_type",
        "n_days",
        F.col("_sy").alias("n_events"),
        (F.col("n_days") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).alias(
            "slope_num"
        ),
        (F.col("n_days") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).alias(
            "slope_den"
        ),
    ).where(F.col("slope_den") > 0)
    return s.withColumn(
        "slope",
        F.col("slope_num").cast("double") / F.col("slope_den").cast("double"),
    )


TS_SCALE = 100_000


def q_trend_robust(spark, sf_dir):
    """X205 — Theil-Sen robust per-type trend (Theil 1950 / Sen 1968):
    the breakdown-resistant companion of X169's OLS — the median of all
    pairwise daily-count slopes ignores up to ~29% outlier days (one
    traffic-spike day drags OLS arbitrarily; the pairwise median
    doesn't). Pairwise slopes never leave the PER-DAY aggregate (d
    rows/group ⇒ d(d−1)/2 pairs — independent of raw row count, the
    X169 state-size argument squared; long horizons window or sample
    the pair set, documented here as the dial). Median selection is the
    LOWER median by row_number over (float ratio, num, den) — IEEE
    division of int64s is identically rounded both engines and the
    exact-integer tie-break removes any equal-key ambiguity; lower
    (not averaged) median keeps the estimator a RATIONAL of two table
    values. slope_scaled uses the r03 portable floor
    (floor(DOUBLE(SCALE·num)/den)) because num may be NEGATIVE, where
    Spark's `div` truncates toward zero but DuckDB's `//` floors."""
    ev = _h._t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE'2024-01-01') AS BIGINT)")
        .alias("x"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    a = daily.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select("event_type", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = (
        a.join(b, "event_type")
        .where(F.col("x1") < F.col("x2"))
        .select(
            "event_type",
            (F.col("y2") - F.col("y1")).alias("num"),
            (F.col("x2") - F.col("x1")).alias("den"),
        )
    )
    return _theil_sen_median(pairs)


def _theil_sen_median(pairs):
    """Lower-median slope per event_type over (num, den) pair rows —
    the selection shared by the full and windowed Theil-Sen forms
    (row_number over the IEEE float ratio with exact-integer
    tie-break; see q_trend_robust for the portability argument)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(
        (F.col("num").cast("double") / F.col("den").cast("double")).asc(),
        F.col("num").asc(),
        F.col("den").asc(),
    )
    ranked = pairs.withColumn("rn", F.row_number().over(w).cast("long"))
    cnt = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    med = ranked.join(cnt, "event_type").where(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    )
    return med.select(
        "event_type",
        "n_pairs",
        F.col("num").alias("med_num"),
        F.col("den").alias("med_den"),
        F.expr(
            f"CAST(floor(CAST({TS_SCALE}L * num AS DOUBLE) / den) AS BIGINT)"
        ).alias("slope_scaled"),
    )


TREND_WINDOW_DAYS = 7


def q_trend_robust_windowed(spark, sf_dir):
    """X206 — WINDOWED Theil-Sen (X205's documented long-horizon bound,
    made real per VERDICT r08 #7): slopes only over day pairs with lag
    1..W, so the per-group pair set is d·W (linear in horizon) instead
    of d(d−1)/2 — the standard moving-window variant for multi-year
    series where the full pair set is quadratic. Pair GENERATION is
    linear too: the left leg explodes offsets 1..W and equi-joins
    (event_type, x+off) — never a post-join range filter over the d²
    intermediate (the join key is exact, so missing days simply find
    no partner). Same lower-median selection and portable floor as
    X205 (shared _theil_sen_median); the oracle is the NAIVE banded
    self-join, sharing no generation scheme with the Spark side."""
    ev = _h._t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE'2024-01-01') AS BIGINT)")
        .alias("x"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    a = daily.select(
        "event_type",
        "x",
        F.col("y").alias("y1"),
        F.explode(F.expr(f"sequence(1L, {TREND_WINDOW_DAYS}L)")).alias("off"),
    ).withColumn("x2", F.col("x") + F.col("off"))
    b = daily.select(
        "event_type", F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pairs = a.join(b, ["event_type", "x2"]).select(
        "event_type",
        (F.col("y2") - F.col("y1")).alias("num"),
        F.col("off").alias("den"),
    )
    return _theil_sen_median(pairs)


Q_TREND_ROBUST_SQL = f"""
WITH daily AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type, b.y - a.y AS num, b.x - a.x AS den
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.x < b.x
),
ranked AS (
    SELECT event_type, num, den,
           CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den
           ) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
    FROM pairs
)
SELECT event_type, n_pairs, num AS med_num, den AS med_den,
       CAST(floor(CAST({TS_SCALE} * num AS DOUBLE) / den) AS BIGINT)
           AS slope_scaled
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""


Q_TREND_ROBUST_WINDOWED_SQL = f"""
WITH daily AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type, b.y - a.y AS num, b.x - a.x AS den
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type
     AND a.x < b.x AND b.x - a.x <= {TREND_WINDOW_DAYS}
),
ranked AS (
    SELECT event_type, num, den,
           CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den
           ) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
    FROM pairs
)
SELECT event_type, n_pairs, num AS med_num, den AS med_den,
       CAST(floor(CAST({TS_SCALE} * num AS DOUBLE) / den) AS BIGINT)
           AS slope_scaled
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""


Q_TREND_DAILY_SQL = """
WITH daily AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
g AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM daily GROUP BY 1
),
s AS (
    SELECT event_type, n_days, sy AS n_events,
           n_days * sxy - sx * sy AS slope_num,
           n_days * sxx - sx * sx AS slope_den
    FROM g
)
SELECT event_type, n_days, n_events, slope_num, slope_den,
       CAST(slope_num AS DOUBLE) / CAST(slope_den AS DOUBLE) AS slope
FROM s WHERE slope_den > 0
"""


INCR_CUTOFF = "2024-01-22 00:00:00"


def q_incremental_agg(spark, sf_dir):
    """X91 — incremental aggregate maintenance
    (operators/incremental.py): the per-(user, event_type) rollup kept
    as mergeable (count, cents) state; the query absorbs the post-cutoff
    delta into the pre-cutoff state and the oracle recomputes from
    scratch — equality IS the incremental-correctness contract. Both
    scans carry pushed ts predicates (plan-pinned); at 100 TB the delta
    side is partition-pruned to the new files and history is never
    re-shuffled."""
    from mimic2ts_spark.operators.incremental import (
        merge_mean_states,
        partial_mean_state,
    )

    ev = _h._t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    keys = ["user_id", "event_type"]
    old = partial_mean_state(ev.where(F.col("ts") < INCR_CUTOFF), keys)
    delta = partial_mean_state(ev.where(F.col("ts") >= INCR_CUTOFF), keys)
    return merge_mean_states(old, delta, keys)


def _q_incremental_agg_sql():
    from mimic2ts_spark.operators.incremental import sql_merged_mean

    return sql_merged_mean(
        "events",
        ["user_id", "event_type"],
        "value",
        f"ts >= TIMESTAMP '{INCR_CUTOFF}'",
    )


Q_INCREMENTAL_AGG_SQL = _q_incremental_agg_sql()


def q_event_ema(spark, sf_dir):
    """X92 — per-user exponential moving average as a JVM-side ordered
    fold (operators/time_ops.py:ema_final): ONE shuffle to co-locate
    each user's events, array_sort for the (ts, event_id) order, then a
    single left-to-right float64 fold — the inherently-sequential
    recurrence without a Python UDF or a quadratic running window."""
    from mimic2ts_spark.operators.time_ops import ema_final

    ev = _h._t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    return ev.groupBy("user_id").agg(ema_final(vals).alias("ema"))


def _q_event_ema_sql():
    from mimic2ts_spark.operators.time_ops import sql_ema_final

    fold = sql_ema_final("list(value ORDER BY ts, event_id)")
    return f"SELECT user_id, {fold} AS ema FROM events GROUP BY user_id"


Q_EVENT_EMA_SQL = _q_event_ema_sql()


ZORDER_BITS = 16        # per-dimension bits AFTER range normalization
ZORDER_BUCKET_LOG2 = 8  # 256 Z-buckets ~ "files" the layout would write


def q_zorder_layout(spark, sf_dir):
    """X93 — Z-order layout keys + data-skipping report
    (operators/layout.py): range-normalize then Morton-interleave
    (l_partkey, l_suppkey), bucket by the top 8 key bits (the rows one
    OPTIMIZE'd file would hold) and report per-bucket min/max of BOTH
    columns — tight ranges on both = file-level pruning works for
    predicates on either. The (min,max) scalar is a 1-row broadcast;
    key math is per-row bit expressions (no shuffle); the only exchange
    is the 256-group stats aggregate."""
    from mimic2ts_spark.operators.layout import zorder_bucket_stats

    li = memo.read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    return zorder_bucket_stats(
        li, "l_partkey", "l_suppkey", ZORDER_BUCKET_LOG2, ZORDER_BITS
    )


def _q_zorder_layout_sql():
    from mimic2ts_spark.operators.layout import sql_zorder_bucket_stats

    return sql_zorder_bucket_stats(
        "lineitem", "l_partkey", "l_suppkey", ZORDER_BUCKET_LOG2, ZORDER_BITS
    )


Q_ZORDER_LAYOUT_SQL = _q_zorder_layout_sql()


def q_bpe_apply(spark, sf_dir):
    """X118 — apply the trained BPE merge table to the corpus (the
    tokenization pass between q_bpe_train and q_pack_sequences): per-doc
    post-merge token counts + a position-weighted token-stream checksum.
    Merges apply once per VOCAB word (the persisted train table), then
    one word-join shuffle + one doc_id shuffle (operators/bpe.py)."""
    from mimic2ts_spark.operators.bpe import bpe_apply_doc_stats

    return bpe_apply_doc_stats(_docs(spark, sf_dir))


def _q_bpe_apply_sql():
    from mimic2ts_spark.operators.bpe import sql_bpe_apply_doc_stats

    return sql_bpe_apply_doc_stats()


Q_BPE_APPLY_SQL = _q_bpe_apply_sql()


CORPUS_NGRAM_TOP_K = 30


def q_corpus_ngrams(spark, sf_dir):
    """X121 — corpus-level repeated n-gram mining (the Gopher/RefinedWeb
    "duplicated n-grams" observability signal, cross-document — contrast
    q_text_repetition's within-doc ratios): top-30 shingle codes by
    total occurrences with their document frequency. Two hash-agg
    shuffles (code×doc then code — partitioning by MORE keys does not
    satisfy grouping by fewer, so the second exchange is real), top-k as
    TakeOrdered."""
    from mimic2ts_spark.operators.dedup import with_shingle_codes

    # Single shuffle: sort each doc's codes, flag FIRST occurrences via
    # the shifted-slice zip (no per-element array_position scans — that
    # form is O(n²) per doc), then one explode feeds one hash agg where
    # count(*) = total occurrences and sum(flag) = doc frequency. The
    # earlier (code, doc_id) pre-aggregation shuffled every posting
    # twice for the same answer (3.0 → 1.5 s at sf0.1).
    from mimic2ts_spark.operators.dedup import SHINGLE_N
    from mimic2ts_spark.operators.text import tokens as _tokens

    # cheap SOURCE predicate (not a derived-column filter): drops
    # shingle-less docs BEFORE the md5 pass, and keeps zip_with off
    # empty arrays (Spark zip_with pads the shorter side with nulls —
    # an empty cs would yield a spurious null-code row per short doc)
    base = with_shingle_codes(
        _docs(spark, sf_dir).where(F.size(_tokens(F.col("text"))) >= SHINGLE_N)
    ).select("doc_id", F.array_sort("codes").alias("cs"))
    prev = F.concat(
        F.array(F.lit(None).cast("long")),
        F.slice(F.col("cs"), 1, F.greatest(F.lit(0), F.size("cs") - 1)),
    )
    flagged = F.zip_with(
        F.col("cs"),
        prev,
        lambda c, p: F.struct(
            c.alias("code"),
            F.when(p.isNull() | (c != p), 1).otherwise(0).cast("long").alias("f"),
        ),
    )
    occ = base.select(F.explode(flagged).alias("x")).select(
        F.col("x.code").alias("code"), F.col("x.f").alias("f")
    )
    return (
        occ.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.sum("f").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "code")
        .limit(CORPUS_NGRAM_TOP_K)
    )


def _q_corpus_ngrams_sql():
    from mimic2ts_spark.operators.dedup import (
        sql_shingle_codes_from_tc,
        sql_token_codes,
    )

    shingles = sql_shingle_codes_from_tc("tc")
    return f"""
WITH t AS (SELECT doc_id, {sql_token_codes('text')} AS tc FROM documents),
occ AS (SELECT doc_id, unnest({shingles}) AS code FROM t),
per_doc AS (SELECT code, doc_id, count(*) AS c FROM occ GROUP BY 1, 2)
SELECT code, CAST(sum(c) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_docs
FROM per_doc GROUP BY code
ORDER BY n_occurrences DESC, code
LIMIT {CORPUS_NGRAM_TOP_K}
"""


Q_CORPUS_NGRAMS_SQL = _q_corpus_ngrams_sql()


MIXTURE_SHARE_SCALE = 1000


def q_mixture_temperature(spark, sf_dir):
    """X122 — temperature-scaled mixture weights (the α=0.5 sampling
    rebalance of multilingual/multi-source training mixes: weight ∝
    n_tokens^α flattens the head): per-source token totals →
    floor(sqrt(n_tokens)) integer weights (IEEE sqrt is correctly
    rounded, so the floor is bit-safe cross-engine — unlike log/exp) →
    per-mille allocation shares. One B-bounded agg + a 1-row total
    broadcast."""
    d = _docs(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = d.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    )
    tot = w.agg(F.sum("weight").alias("_tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight",
            F.expr(f"weight * {MIXTURE_SHARE_SCALE} div _tw").alias("share_pm"),
        )
        .orderBy("source")
    )


def _q_mixture_temperature_sql():
    tc = X.SQL_TOKEN_COUNT.format(text="text")
    return f"""
WITH d AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({tc}) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
w AS (
    SELECT source, n_docs, n_tokens,
           CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
    FROM d
)
SELECT source, n_docs, n_tokens, weight,
       CAST(weight * {MIXTURE_SHARE_SCALE} // (SELECT sum(weight) FROM w) AS BIGINT)
           AS share_pm
FROM w ORDER BY source
"""


Q_MIXTURE_TEMPERATURE_SQL = _q_mixture_temperature_sql()


def q_pq_encode(spark, sf_dir):
    """X119 — product-quantization encoding (Jégou et al. 2011): M=4
    per-subspace codebooks (integer-exact k-means) → (vec_id, 4 codes,
    distortion). The compression side of ANN scale: ~64x fewer bytes
    per candidate through any shuffle (operators/pq.py). Codebooks are
    artifacts: cache_key=sf_dir shares ONE training across this and the
    other PQ queries of a run (at real scale a codebook is persisted by
    the maintain CLI's `codebook` command, not retrained per query)."""
    from mimic2ts_spark.operators.pq import pq_encode

    return pq_encode(_embs(spark, sf_dir), cache_key=sf_dir)


def q_ann_pq(spark, sf_dir):
    """X120/X230 — ADC top-k SERVED from the persisted PQ codes
    artifact (`maintain pq-codes` layout; operators/pq.py
    serve_pq_artifact) under the full oracle gate — the X222
    served-equals-scan doctrine applied to the PQ rung (VERDICT r13
    #2): the float corpus is never re-encoded; distances come from the
    stored 4-int rows + the query's driver-side distance tables, which
    the kernel docstring proves bit-equal to the literal-map _adc_expr
    scan form (pq_adc_topk; equality also pytest-pinned). Query = the
    lowest-id vector, shape projected to the scan form's
    (vec_id, adc_dist2) under the identical (adc_dist2, vec_id) tie
    order, so the oracle stays the byte-identical scan-form SQL and
    each gate run re-proves served == scan."""
    from mimic2ts_spark.operators.pq import PQ_TOP_K, serve_pq_artifact

    art = _codes_artifact_dir(spark, sf_dir, "pq")
    embs = _embs(spark, sf_dir)
    q = embs.orderBy("vec_id").limit(1)
    # no trailing orderBy: the gate compares sorted, and a global sort
    # of 20 rows would add a range exchange for nothing (plan-pinned:
    # one hash exchange, partial+final WindowGroupLimit, no join)
    return serve_pq_artifact(spark, art, q, k=PQ_TOP_K).select(
        F.col("neighbor_id").alias("vec_id"), "adc_dist2"
    )


def q_merge_upsert(spark, sf_dir):
    """X124 — MERGE/upsert with partition-pruned rewrite
    (operators/merge.py): base = documents minus every doc_id % 10 == 3
    (so the batch both updates and inserts), update batch = doc_id % 7
    == 0 with ' v2' text. Only the update keys' md5-bucket partitions
    are read (PartitionFilters) and rewritten (dynamic partition
    overwrite); the result is the merged table aggregated per bucket —
    full-outer-join-expressible, so the oracle checks the exact final
    state."""

    from mimic2ts_spark.operators.merge import merge_upsert, write_base
    from mimic2ts_spark.operators.sketch import kmv_code

    d = _docs(spark, sf_dir)
    base = d.where(F.col("doc_id") % 10 != 3)
    updates = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    ).withColumn("n_chars", F.col("n_chars") + 3)

    path = session_tmpdir(prefix="merge_upsert_")
    write_base(base, path, "doc_id")
    merge_upsert(spark, path, updates, "doc_id")

    final = spark.read.parquet(path)
    return (
        final.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(kmv_code(F.col("text")) % 1000000007)
            .cast("long")
            .alias("text_checksum"),
        )
        .orderBy("bucket")
    )


def _q_merge_upsert_sql():
    from mimic2ts_spark.operators.merge import sql_key_bucket

    code = X.SQL_CODE.format(tok="text")
    bucket = sql_key_bucket("doc_id")
    return f"""
WITH upd AS (
    SELECT doc_id, text || ' v2' AS text, lang, source, n_chars + 3 AS n_chars
    FROM documents WHERE doc_id % 7 = 0
),
kept AS (
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE doc_id % 10 != 3 AND doc_id % 7 != 0
),
final AS (SELECT * FROM upd UNION ALL SELECT * FROM kept)
SELECT {bucket} AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum({code} % 1000000007) AS BIGINT) AS text_checksum
FROM final GROUP BY 1 ORDER BY 1
"""


Q_MERGE_UPSERT_SQL = _q_merge_upsert_sql()


def q_merge_changelog(spark, sf_dir):
    """X129 — MERGE change-data-feed (operators/merge.py:
    merge_changelog): the q_merge_upsert scenario's update batch
    classified against the base BEFORE applying — (doc_id, op
    insert/update, old_n_chars, new_n_chars). The CDC stream downstream
    consumers react to instead of re-scanning the table; reads only the
    affected bucket partitions (same pruning as the merge itself)."""

    from mimic2ts_spark.operators.merge import merge_changelog, write_base

    d = _docs(spark, sf_dir)
    base = d.where(F.col("doc_id") % 10 != 3)
    updates = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    ).withColumn("n_chars", F.col("n_chars") + 3)

    path = session_tmpdir(prefix="merge_cdf_")
    write_base(base, path, "doc_id")
    return merge_changelog(
        spark, path, updates, "doc_id", carry_cols=("n_chars",)
    )


# insert = update key absent from the base (doc_id % 10 == 3 rows were
# excluded); update keys carry the pre-image n_chars, inserts NULL.
Q_MERGE_CHANGELOG_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 3 THEN 'insert' ELSE 'update' END AS op,
       CASE WHEN doc_id % 10 = 3 THEN NULL
            ELSE CAST(n_chars AS BIGINT) END AS old_n_chars,
       CAST(n_chars + 3 AS BIGINT) AS new_n_chars
FROM documents WHERE doc_id % 7 = 0
"""


# The versioned TABLE is an artifact (that is the whole point of the
# manifest layout): one init+merge per corpus per process, shared by
# the X130–X134 queries. Reuse is safe because every consumer reads
# content-stable state — latest content is invariant under the extra
# compact commits q_versioned_compact adds (content-identical rewrite),
# and v0/v1 manifests are retained (no vacuum here).
def _versioned_scenario(spark, sf_dir):
    """Shared X130–X134 setup: init v0 from the q_merge_upsert base,
    commit one merge as v1; returns the (memoized) table path."""
    from mimic2ts_spark.operators.versioned import init_table, merge_versioned

    def build(out):
        d = _docs(spark, sf_dir)
        base = d.where(F.col("doc_id") % 10 != 3)
        updates = d.where(F.col("doc_id") % 7 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" v2"))
        ).withColumn("n_chars", F.col("n_chars") + 3)
        init_table(base, out, "doc_id")
        merge_versioned(spark, out, updates, "doc_id")
        return out

    return memo.artifact(
        "versioned", [f"{sf_dir}/documents.parquet"], build, sf_dir
    )


def _bucket_rollup(df):
    from mimic2ts_spark.operators.sketch import kmv_code

    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(kmv_code(F.col("text")) % 1000000007)
            .cast("long")
            .alias("text_checksum"),
        )
        .orderBy("bucket")
    )


def q_merge_versioned(spark, sf_dir):
    """X130 — manifest-committed versioned MERGE (operators/
    versioned.py): the q_merge_upsert scenario as an ATOMIC commit —
    affected buckets land under v1/, untouched buckets stay referenced
    v0 files, the pointer flip is the commit. Final committed state
    equals the in-place merge, so this shares q_merge_upsert's oracle
    verbatim."""
    from mimic2ts_spark.operators.versioned import read_table

    path = _versioned_scenario(spark, sf_dir)
    return _bucket_rollup(read_table(spark, path))


def q_stream_versioned(spark, sf_dir):
    """X135 — streaming ingest with atomic version commits: the
    q_stream_merge scenario committing each microbatch as a manifest
    version (streaming.run_versioned_sink_available_now). Unique keys
    ⇒ batching-invariant final state ⇒ shares the batch MERGE oracle."""

    from mimic2ts_spark import streaming as ST
    from mimic2ts_spark.operators.versioned import init_table

    base = _docs(spark, sf_dir).where(F.col("doc_id") % 10 != 3)
    path = session_tmpdir(prefix="stream_versioned_")
    init_table(base, path, "doc_id")
    return _bucket_rollup(ST.run_versioned_sink_available_now(spark, sf_dir, path))


def q_version_diff(spark, sf_dir):
    """X138 — CDF BETWEEN COMMITTED VERSIONS: diff v0→v1 of the
    versioned corpus reading ONLY buckets whose manifest pointer
    changed (identical pointers ⇒ immutable-dir identity ⇒ zero read).
    Must reproduce the prospective changelog exactly — same oracle as
    q_merge_changelog, which is the invariant that makes a commit-range
    CDF trustworthy: what the merge SAID it would change is what the
    committed versions actually differ by."""
    from mimic2ts_spark.operators.versioned import diff_versions

    path = _versioned_scenario(spark, sf_dir)
    return diff_versions(spark, path, 0, 1, carry_cols=("n_chars",))


def q_schema_evolution(spark, sf_dir):
    """X139 — explicit schema evolution on the versioned MERGE: the
    update batch carries a NEW `score` column (allow_new_columns=True);
    updated/inserted rows hold values, every pre-existing row reads
    NULL through the reader's parquet schema-merge (old version dirs
    lack the column). Rollup per bucket counts scored rows — the oracle
    pins that exactly the update keys are scored and nothing else."""

    from mimic2ts_spark.operators.versioned import (
        init_table,
        merge_versioned,
        read_table,
    )

    d = _docs(spark, sf_dir)
    base = d.where(F.col("doc_id") % 10 != 3)
    updates = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "score", (F.col("doc_id") % 100).cast("long")
    )
    path = session_tmpdir(prefix="schema_evo_")
    init_table(base, path, "doc_id")
    merge_versioned(spark, path, updates, "doc_id", allow_new_columns=True)
    return (
        read_table(spark, path)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("score").cast("long").alias("n_scored"),
            F.sum("score").cast("long").alias("sum_score"),
        )
        .orderBy("bucket")
    )


def _q_schema_evolution_sql():
    from mimic2ts_spark.operators.merge import sql_key_bucket

    bucket = sql_key_bucket("doc_id")
    return f"""
WITH upd AS (
    SELECT doc_id, doc_id % 100 AS score FROM documents WHERE doc_id % 7 = 0
),
kept AS (
    SELECT doc_id, NULL AS score FROM documents
    WHERE doc_id % 10 != 3 AND doc_id % 7 != 0
),
final AS (SELECT * FROM upd UNION ALL SELECT * FROM kept)
SELECT {bucket} AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(score) AS BIGINT) AS n_scored,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM final GROUP BY 1 ORDER BY 1
"""


Q_SCHEMA_EVOLUTION_SQL = _q_schema_evolution_sql()


def q_cdf_refresh(spark, sf_dir):
    """X141 — rollup maintained FROM the CDF: the per-lang (n_rows,
    sum_n_chars) aggregate of table version 0, refreshed to version 1
    using ONLY diff_versions' change rows (Δ = new image of
    insert+update − old image of delete+update). The oracle recomputes
    the v1 rollup the hard way — the refreshed state must be
    bit-identical, which is the entire contract of CDC-maintained
    aggregates at 100 TB (delta cost, full-recompute answer)."""
    from mimic2ts_spark.operators.versioned import (
        diff_versions,
        incremental_agg_refresh,
        read_table,
    )

    path = _versioned_scenario(spark, sf_dir)
    agg0 = (
        read_table(spark, path, version=0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        )
    )
    cdf = diff_versions(spark, path, 0, 1, carry_cols=("lang", "n_chars"))
    return incremental_agg_refresh(agg0, cdf, "lang", sum_cols=("n_chars",))


Q_CDF_REFRESH_SQL = """
WITH upd AS (
    SELECT doc_id, lang, n_chars + 3 AS n_chars
    FROM documents WHERE doc_id % 7 = 0
),
kept AS (
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id % 10 != 3 AND doc_id % 7 != 0
),
final AS (SELECT * FROM upd UNION ALL SELECT * FROM kept)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
FROM final GROUP BY lang HAVING count(*) > 0
"""


def q_versioned_count(spark, sf_dir):
    """X140 — COUNT(*) as a METADATA-ONLY query: per-bucket row counts
    ride the manifest (harvested from parquet footers at write time),
    so counting the committed table touches one small JSON — zero data
    read, the planner-side stat every table format keeps. The oracle
    recomputes the true final-state count the hard way; any drift
    between manifest stats and data fails the hash."""
    from mimic2ts_spark.operators.versioned import table_count

    path = _versioned_scenario(spark, sf_dir)
    return spark.createDataFrame(
        [(table_count(path),)], "n_rows long"
    )


Q_VERSIONED_COUNT_SQL = """
WITH upd AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
kept AS (
    SELECT doc_id FROM documents WHERE doc_id % 10 != 3 AND doc_id % 7 != 0
)
SELECT CAST((SELECT count(*) FROM upd) + (SELECT count(*) FROM kept) AS BIGINT)
    AS n_rows
"""


def q_versioned_compact(spark, sf_dir):
    """X134 — OPTIMIZE as a commit: after the v1 merge, compact every
    bucket into one file as v2 (content-identical repartition, old
    versions stay time-travelable). The committed state must equal the
    merge-only state — shares q_merge_upsert's oracle verbatim, so any
    row lost or duplicated by the compaction rewrite fails the hash."""
    from mimic2ts_spark.operators.versioned import compact_versioned, read_table

    path = _versioned_scenario(spark, sf_dir)
    compact_versioned(spark, path)
    return _bucket_rollup(read_table(spark, path))


def q_time_travel(spark, sf_dir):
    """X131 — VERSION AS OF read: after the v1 merge commits, version 0
    must still reconstruct the pristine base exactly (every manifest is
    retained; old data dirs are immutable). Oracle = the base rolled up
    per bucket — any leakage of v1 rows into the v0 read fails the
    hash."""
    from mimic2ts_spark.operators.versioned import read_table

    path = _versioned_scenario(spark, sf_dir)
    return _bucket_rollup(read_table(spark, path, version=0))


def _q_time_travel_sql():
    from mimic2ts_spark.operators.merge import sql_key_bucket

    code = X.SQL_CODE.format(tok="text")
    bucket = sql_key_bucket("doc_id")
    return f"""
WITH base AS (
    SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 10 != 3
)
SELECT {bucket} AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum({code} % 1000000007) AS BIGINT) AS text_checksum
FROM base GROUP BY 1 ORDER BY 1
"""


Q_TIME_TRAVEL_SQL = _q_time_travel_sql()

# Mixed lookup batch: kept keys (2, 250), updated keys (21, 35, 77),
# an inserted key (483: doc_id%10==3 so absent from the base, %7==0 so
# the merge inserts it), and absent keys (3, 123: excluded from the
# base, not in the update batch — must return NO row).
_LOOKUP_KEYS = [2, 3, 21, 35, 77, 123, 250, 483]


def q_versioned_lookup(spark, sf_dir):
    """X132 — manifest-driven KEY LOOKUP on the versioned table: each
    key's md5 bucket is computed driver-side (hashlib — no Spark job),
    and the read touches ONLY those buckets' dirs. The point-read path
    of a 100 TB table: a batch of keys costs its buckets, never a scan
    or a listing. Runs after the v1 merge commit, so the lookup sees
    updates and inserts through the manifest indirection."""
    from mimic2ts_spark.operators.sketch import kmv_code
    from mimic2ts_spark.operators.versioned import read_table

    path = _versioned_scenario(spark, sf_dir)
    sub = read_table(spark, path, keys=_LOOKUP_KEYS)
    return sub.where(F.col("doc_id").isin(_LOOKUP_KEYS)).select(
        "doc_id",
        "bucket",
        F.col("n_chars").cast("long").alias("n_chars"),
        (kmv_code(F.col("text")) % 1000000007).cast("long").alias("text_code"),
    )


def _q_versioned_lookup_sql():
    from mimic2ts_spark.operators.merge import sql_key_bucket

    code = X.SQL_CODE.format(tok="text")
    bucket = sql_key_bucket("doc_id")
    keys = ", ".join(str(k) for k in _LOOKUP_KEYS)
    return f"""
WITH upd AS (
    SELECT doc_id, text || ' v2' AS text, n_chars + 3 AS n_chars
    FROM documents WHERE doc_id % 7 = 0
),
kept AS (
    SELECT doc_id, text, n_chars FROM documents
    WHERE doc_id % 10 != 3 AND doc_id % 7 != 0
),
final AS (SELECT * FROM upd UNION ALL SELECT * FROM kept)
SELECT doc_id,
       {bucket} AS bucket,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST({code} % 1000000007 AS BIGINT) AS text_code
FROM final WHERE doc_id IN ({keys})
"""


Q_VERSIONED_LOOKUP_SQL = _q_versioned_lookup_sql()


def q_compact_files(spark, sf_dir):
    """X127 — small-file compaction (the OPTIMIZE side of table
    maintenance): the q_merge_upsert scenario fragments the base's
    bucket partitions, compact_buckets rewrites each bucket to ONE file
    (repartition co-location + dynamic overwrite), and the output is the
    per-bucket content aggregate — byte-identical to pre-compaction, so
    this entry shares the MERGE oracle verbatim; the file-count drop
    itself is pinned in tests/test_merge.py."""

    from mimic2ts_spark.operators.merge import (
        compact_buckets,
        merge_upsert,
        write_base,
    )
    from mimic2ts_spark.operators.sketch import kmv_code

    d = _docs(spark, sf_dir)
    base = d.where(F.col("doc_id") % 10 != 3)
    updates = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    ).withColumn("n_chars", F.col("n_chars") + 3)

    path = session_tmpdir(prefix="compact_files_")
    write_base(base, path, "doc_id")
    merge_upsert(spark, path, updates, "doc_id")
    compact_buckets(spark, path)

    final = spark.read.parquet(path)
    return (
        final.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(kmv_code(F.col("text")) % 1000000007)
            .cast("long")
            .alias("text_checksum"),
        )
        .orderBy("bucket")
    )


def q_stream_ann_ingest(spark, sf_dir):
    """X149 — streaming ANN index ingest: the X146 delta batch arriving
    as a stream, each microbatch assigned against the memoized
    base-trained coarse cells and appended to the postings
    (streaming.run_ann_ingest_available_now). Per-row assignment
    against fixed centroids ⇒ batching-invariant ⇒ shares
    q_ann_incremental's oracle verbatim."""

    from mimic2ts_spark import streaming as ST

    path = session_tmpdir(prefix="stream_ann_") + "/postings"
    return ST.run_ann_ingest_available_now(spark, sf_dir, path)


def q_stream_merge(spark, sf_dir):
    """X126 — streaming MERGE sink (foreachBatch → partition-pruned
    upsert): the q_merge_upsert scenario driven through Structured
    Streaming — same base, the update batch arriving as a stream, each
    microbatch MERGEd into the bucketed base. Unique update keys make
    the final state batching-invariant, so this entry shares
    q_merge_upsert's oracle verbatim (streaming.run_merge_sink_available_now)."""

    from mimic2ts_spark import streaming as ST
    from mimic2ts_spark.operators.merge import write_base
    from mimic2ts_spark.operators.sketch import kmv_code

    base = _docs(spark, sf_dir).where(F.col("doc_id") % 10 != 3)
    path = session_tmpdir(prefix="stream_merge_")
    write_base(base, path, "doc_id")

    final = ST.run_merge_sink_available_now(spark, sf_dir, path)
    return (
        final.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(kmv_code(F.col("text")) % 1000000007)
            .cast("long")
            .alias("text_checksum"),
        )
        .orderBy("bucket")
    )


def q_ann_ivfpq(spark, sf_dir):
    """X123/X231 — IVF-PQ top-k SERVED from the persisted IVFADC index
    (`maintain ivfpq-codes` layout; operators/pq.py
    serve_ivfpq_artifact) under the full oracle gate — the last rung of
    the quantized-serving artifact matrix (VERDICT r13 #2 completed:
    IVF X222, SQ8 X226, PQ X230, BQ r14, now the COMPOSED tier Faiss
    deploys at billion scale). Trained coarse cells + frozen residual
    books load from the artifact JSONs; the probe pushes a static
    In(cid, …) PARTITION filter into the cid-partitioned codes (reads
    only its cells' files) and each candidate costs M table lookups on
    its stored 4-int row. Query = the lowest-id vector, projected to
    the scan form's (vec_id, cell, adc_dist2) under the identical
    (adc_dist2, vec_id) tie order — the oracle stays the byte-identical
    scan-form SQL (sql_ivfpq_topk), so each gate run re-proves
    served == scan (equality also pytest-pinned)."""
    from mimic2ts_spark.operators.pq import PQ_TOP_K, serve_ivfpq_artifact

    art = _codes_artifact_dir(spark, sf_dir, "ivfpq")
    embs = _embs(spark, sf_dir)
    q = embs.orderBy("vec_id").limit(1)
    return serve_ivfpq_artifact(spark, art, q, k=PQ_TOP_K).select(
        F.col("neighbor_id").alias("vec_id"), "cell", "adc_dist2"
    )


def _q_pq_sqls():
    from mimic2ts_spark.operators.pq import (
        sql_ivfpq_topk,
        sql_pq_adc_topk,
        sql_pq_encode,
    )

    return sql_pq_encode(), sql_pq_adc_topk(), sql_ivfpq_topk()


Q_PQ_ENCODE_SQL, Q_ANN_PQ_SQL, Q_ANN_IVFPQ_SQL = _q_pq_sqls()


def q_dsir_weights(spark, sf_dir):
    """X117 — DSIR importance weighting (Xie et al. 2023): score raw docs
    by hashed-unigram similarity to the English subset and keep the
    top-50 by normalized integer importance score (operators/dsir.py —
    integer ratio proxy for the paper's log-likelihood ratio; log() is
    not bit-stable cross-engine). B-row bucket stats broadcast; one
    doc_id shuffle; TakeOrdered top-k."""
    from mimic2ts_spark.operators.dsir import dsir_weights

    return dsir_weights(_docs(spark, sf_dir), F.col("lang") == "en")


def _q_dsir_weights_sql():
    from mimic2ts_spark.operators.dsir import sql_dsir_weights

    return sql_dsir_weights("lang = 'en'")


Q_DSIR_WEIGHTS_SQL = _q_dsir_weights_sql()


LINKAGE_DIRTY_MOD = 4


def q_record_linkage(spark, sf_dir):
    """X161 — record linkage / entity resolution: dirty records (a
    deterministic one-character deletion at an md5-derived position, the
    data-entry-typo stand-in, on ~1/4 of customers) resolved against the
    clean customer reference under levenshtein <= 1.

    Blocking is the SymSpell deletion-neighborhood scheme
    (operators/linkage.py): variants are n*(L+1) rows — linear — and the
    candidate join is an ordinary hash join on the variant string, so
    unlike X104's (end-char, length) keys there is no alphabet-sized key
    skew and candidates are exact-neighborhood tight. Linkage runs on
    DISTINCT names (the exact-first doctrine: duplicate-heavy references
    would otherwise fan copies x copies through the join) and rejoins
    per-record: best candidate = min (dist, clean key) — name-level
    min of per-name min keys is the same order — and ambiguity counts
    sum the copies of each matched name. The oracle is the NAIVE
    all-pairs lev filter: it shares no blocking theorem, so a blocking
    hole cannot hide behind a matching hash."""
    from mimic2ts_spark.operators import linkage as L
    from mimic2ts_spark.operators.sketch import kmv_code

    # spread: customer is a few-hundred-KB single split but the variant
    # explode + md5 coding is compute-dense per byte (CLAUDE.md r01 trap)
    cust = _spread_src(spark, f"{sf_dir}/customer.parquet")
    code = kmv_code(F.col("c_name"))
    dirty = (
        cust.where((code % LINKAGE_DIRTY_MOD) == 0)
        .withColumn("_pos", ((code % F.length("c_name")) + 1).cast("int"))
        .select(
            "c_custkey",
            F.expr(
                "concat(substr(c_name, 1, _pos - 1), substr(c_name, _pos + 1))"
            ).alias("dirty_name"),
        )
        # persisted: consumed twice (the distinct-name linkage input
        # and the per-record rejoin) — unpersisted the compute-dense
        # md5 coding pass ran per consumer (guide §5; r14)
        .persist()
    )
    clean_names = cust.groupBy("c_name").agg(
        F.min("c_custkey").alias("_min_key"),
        F.count(F.lit(1)).cast("long").alias("_n_copies"),
        # persisted: consumed twice (the linkage clean side and the
        # copies/min-key payload join)
    ).persist()
    name_pairs = L.fuzzy_link(
        dirty.select("dirty_name").distinct(),
        clean_names,
        dirty_key="dirty_name",
        clean_key="c_name",
        dirty_col="dirty_name",
        clean_col="c_name",
        max_dist=1,
    )
    name_report = (
        name_pairs.join(
            clean_names.select(
                F.col("c_name").alias("clean_key"), "_min_key", "_n_copies"
            ),
            "clean_key",
        )
        .groupBy(F.col("dirty_key").alias("dirty_name"))
        .agg(
            F.min(F.struct(F.col("dist"), F.col("_min_key"))).alias("_best"),
            F.sum("_n_copies").cast("long").alias("n_cand"),
        )
    )
    return dirty.join(name_report, "dirty_name").select(
        F.col("c_custkey").alias("dirty_key"),
        F.col("_best._min_key").alias("best_clean_key"),
        F.col("_best.dist").alias("best_dist"),
        "n_cand",
        (F.col("_best._min_key") == F.col("c_custkey"))
        .cast("long")
        .alias("hit_origin"),
    )


def _q_record_linkage_sql():
    code = X.SQL_CODE.format(tok="c_name")
    return f"""
WITH dirty AS (
    SELECT c_custkey AS dirty_key,
           substr(c_name, 1, pos - 1) || substr(c_name, pos + 1) AS dirty_name
    FROM (
        SELECT c_custkey, c_name,
               CAST(1 + ({code} % length(c_name)) AS INTEGER) AS pos
        FROM customer
        WHERE ({code} % {LINKAGE_DIRTY_MOD}) = 0
    )
),
cand AS (
    SELECT d.dirty_key, c.c_custkey AS clean_key,
           CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS dist
    FROM dirty d, customer c
    WHERE levenshtein(d.dirty_name, c.c_name) <= 1
),
ranked AS (
    SELECT dirty_key, clean_key, dist,
           row_number() OVER (PARTITION BY dirty_key
                              ORDER BY dist, clean_key) AS rn,
           count(*) OVER (PARTITION BY dirty_key) AS n_cand
    FROM cand
)
SELECT dirty_key, clean_key AS best_clean_key, dist AS best_dist,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(CASE WHEN clean_key = dirty_key THEN 1 ELSE 0 END AS BIGINT)
         AS hit_origin
FROM ranked WHERE rn = 1
"""


Q_RECORD_LINKAGE_SQL = _q_record_linkage_sql()


EXT_REGISTRY = {
    "q_dsir_weights": (q_dsir_weights, Q_DSIR_WEIGHTS_SQL),
    "q_bpe_apply": (q_bpe_apply, Q_BPE_APPLY_SQL),
    "q_pq_encode": (q_pq_encode, Q_PQ_ENCODE_SQL),
    "q_ann_pq": (q_ann_pq, Q_ANN_PQ_SQL),
    "q_corpus_ngrams": (q_corpus_ngrams, Q_CORPUS_NGRAMS_SQL),
    "q_mixture_temperature": (q_mixture_temperature, Q_MIXTURE_TEMPERATURE_SQL),
    "q_ann_ivfpq": (q_ann_ivfpq, Q_ANN_IVFPQ_SQL),
    "q_merge_upsert": (q_merge_upsert, Q_MERGE_UPSERT_SQL),
    "q_merge_changelog": (q_merge_changelog, Q_MERGE_CHANGELOG_SQL),
    "q_merge_versioned": (q_merge_versioned, Q_MERGE_UPSERT_SQL),
    "q_time_travel": (q_time_travel, Q_TIME_TRAVEL_SQL),
    "q_versioned_lookup": (q_versioned_lookup, Q_VERSIONED_LOOKUP_SQL),
    "q_versioned_compact": (q_versioned_compact, Q_MERGE_UPSERT_SQL),
    "q_stream_versioned": (q_stream_versioned, Q_MERGE_UPSERT_SQL),
    "q_version_diff": (q_version_diff, Q_MERGE_CHANGELOG_SQL),
    "q_schema_evolution": (q_schema_evolution, Q_SCHEMA_EVOLUTION_SQL),
    "q_versioned_count": (q_versioned_count, Q_VERSIONED_COUNT_SQL),
    "q_cdf_refresh": (q_cdf_refresh, Q_CDF_REFRESH_SQL),
    "q_stream_quality": (q_stream_quality, Q_QUALITY_GATE_SQL),
    "q_stream_merge": (q_stream_merge, Q_MERGE_UPSERT_SQL),
    "q_compact_files": (q_compact_files, Q_MERGE_UPSERT_SQL),
    "q_dedup_representatives": (q_dedup_representatives, Q_DEDUP_REPS_SQL),
    # round-4 additions first: registry order = driver-gate execution
    # order, and never-driver-verified queries must come before the
    # long-stable tail (CLAUDE.md — the r02 gate truncated at 50).
    "q_bpe_train": (q_bpe_train, Q_BPE_TRAIN_SQL),
    "q_scd2_lookup": (q_scd2_lookup, _q_scd2_lookup_sql()),
    "q_fuzzy_vocab": (q_fuzzy_vocab, Q_FUZZY_VOCAB_SQL),
    "q_basket_pairs": (q_basket_pairs, Q_BASKET_PAIRS_SQL),
    "q_sample_weighted": (q_sample_weighted, Q_SAMPLE_WEIGHTED_SQL),
    "q_source_csv_gz": (q_source_csv_gz, Q_SOURCE_JSONL_SQL),
    "q_layout_sorted": (q_layout_sorted, Q_LAYOUT_SORTED_SQL),
    "q_lang_confusion": (q_lang_confusion, Q_LANG_CONFUSION_SQL),
    "q_dataset_card": (q_dataset_card, Q_DATASET_CARD_SQL),
    "q_interarrival": (q_interarrival, Q_INTERARRIVAL_SQL),
    "q_dup_histogram": (q_dup_histogram, Q_DUP_HISTOGRAM_SQL),
    "q_graph_triangles": (q_graph_triangles, Q_GRAPH_TRIANGLES_SQL),
    "q_feature_bins": (q_feature_bins, Q_FEATURE_BINS_SQL),
    "q_rolling_actives": (q_rolling_actives, Q_ROLLING_ACTIVES_SQL),
    "q_rolling_actives_kmv": (q_rolling_actives_kmv, Q_ROLLING_ACTIVES_KMV_SQL),
    "q_winsorize": (q_winsorize, Q_WINSORIZE_SQL),
    "q_skew_report": (q_skew_report, Q_SKEW_REPORT_SQL),
    "q_quality_gate": (q_quality_gate, Q_QUALITY_GATE_SQL),
    "q_kmeans": (q_kmeans, Q_KMEANS_SQL),
    "q_dedup_semantic": (q_dedup_semantic, Q_DEDUP_SEMANTIC_SQL),
    "q_dedup_semantic_canonical": (
        q_dedup_semantic_canonical,
        Q_DEDUP_SEMANTIC_CANONICAL_SQL,
    ),
    "q_stream_kmv": (q_stream_kmv, Q_STREAM_KMV_SQL),
    "q_stream_rollup": (q_stream_rollup, Q_INCREMENTAL_AGG_SQL),
    "q_stream_postings_ingest": (q_stream_postings_ingest, Q_SEARCH_BM25_SQL),
    "q_incremental_agg": (q_incremental_agg, Q_INCREMENTAL_AGG_SQL),
    "q_event_ema": (q_event_ema, Q_EVENT_EMA_SQL),
    "q_zorder_layout": (q_zorder_layout, Q_ZORDER_LAYOUT_SQL),
    "q_dedup_spans": (q_dedup_spans, Q_DEDUP_SPANS_SQL),
    "q_tfidf_keywords": (q_tfidf_keywords, Q_TFIDF_KEYWORDS_SQL),
    "q_graph_pagerank": (q_graph_pagerank, Q_GRAPH_PAGERANK_SQL),
    "q_event_transitions": (q_event_transitions, Q_EVENT_TRANSITIONS_SQL),
    # RETIRED r13 (VERDICT r12 #2/#6, the r12 retirement pattern):
    # q_search_bm25 and q_search_bm25_pruned. Both gate rows ran the
    # BYTE-IDENTICAL Q_SEARCH_BM25_SQL on the same BM25_QUERY_TERMS
    # panel that q_stream_postings_ingest still gates every window
    # (drained index == full-scan scoring, the X204 hash-gated
    # contract); the scan path is further pinned by the drain pytest
    # (maxFilesPerTrigger=1 batching invariance) and the pruned scan
    # path by test_bm25_maxscore_prune_fires_and_is_lossless
    # (pruned == full row-for-row, firing AND non-firing regimes) —
    # each green ingest row therefore transitively verifies both scan
    # operators. The MaxScore SERVING path keeps its own gate row
    # (q_search_bm25_maxscore, longtail oracle). Functions + SQL stay.
    "q_decontaminate": (q_decontaminate, Q_DECONTAMINATE_SQL),
    "q_event_funnel": (q_event_funnel, Q_EVENT_FUNNEL_SQL),
    "q_retention_cohort": (q_retention_cohort, Q_RETENTION_COHORT_SQL),
    "q_corpus_diff": (q_corpus_diff, Q_CORPUS_DIFF_SQL),
    "q_embedding_normalize": (q_embedding_normalize, Q_EMBEDDING_NORMALIZE_SQL),
    "q_text_stats": (q_text_stats, Q_TEXT_STATS_SQL),
    "q_text_quality": (q_text_quality, Q_TEXT_QUALITY_SQL),
    "q_text_fingerprint": (q_text_fingerprint, Q_TEXT_FINGERPRINT_SQL),
    "q_text_normalize": (q_text_normalize, Q_TEXT_NORMALIZE_SQL),
    "q_dedup_exact": (q_dedup_exact, Q_DEDUP_EXACT_SQL),
    "q_dedup_minhash": (q_dedup_minhash, Q_DEDUP_MINHASH_SQL),
    "q_dedup_ngram": (q_dedup_ngram, Q_DEDUP_NGRAM_SQL),
    "q_dedup_recall": (q_dedup_recall, Q_DEDUP_RECALL_SQL),
    "q_dedup_ngram_blocked": (q_dedup_ngram_blocked, Q_DEDUP_NGRAM_BLOCKED_SQL),
    "q_dedup_incremental": (q_dedup_incremental, Q_DEDUP_INCREMENTAL_SQL),
    "q_ingest_admission": (q_ingest_admission, Q_INGEST_ADMISSION_SQL),
    "q_pack_sequences": (q_pack_sequences, Q_PACK_SEQUENCES_SQL),
    "q_embedding_stats": (q_embedding_stats, Q_EMBEDDING_STATS_SQL),
    "q_dedup_pipeline": (q_dedup_pipeline, Q_DEDUP_PIPELINE_SQL),
    "q_dedup_simhash": (q_dedup_simhash, Q_DEDUP_SIMHASH_SQL),
    "q_dedup_embedding": (q_dedup_embedding, Q_DEDUP_EMBEDDING_SQL),
    "q_dedup_embedding_lsh": (q_dedup_embedding_lsh, Q_DEDUP_EMBEDDING_LSH_SQL),
    "q_decontaminate_semantic": (
        q_decontaminate_semantic,
        _decon_semantic_sql().format(inner=Q_DEDUP_EMBEDDING_LSH_SQL),
    ),
    "q_dedup_embedding_lsh_canonical": (
        q_dedup_embedding_lsh_canonical,
        Q_DEDUP_EMBEDDING_LSH_CANON_SQL,
    ),
    "q_lm_fluency": (q_lm_fluency, Q_LM_FLUENCY_SQL),
    "q_dedup_clusters": (q_dedup_clusters, Q_DEDUP_CLUSTERS_SQL),
    "q_source_jsonl": (q_source_jsonl, Q_SOURCE_JSONL_SQL),
    "q_source_orc": (q_source_orc, Q_SOURCE_JSONL_SQL),
    "q_sample_topk_hash": (q_sample_topk_hash, Q_SAMPLE_TOPK_HASH_SQL),
    "q_sample_mixture": (q_sample_mixture, Q_SAMPLE_MIXTURE_SQL),
    "q_event_anomaly": (q_event_anomaly, Q_EVENT_ANOMALY_SQL),
    "q_sketch_kmv_union": (q_sketch_kmv_union, Q_SKETCH_KMV_UNION_SQL),
    "q_source_drift": (q_source_drift, Q_SOURCE_DRIFT_SQL),
    "q_text_pii_scrub": (q_text_pii_scrub, Q_TEXT_PII_SCRUB_SQL),
    "q_ann_bruteforce": (q_ann_bruteforce, Q_ANN_BRUTEFORCE_SQL),
    "q_ann_lsh": (q_ann_lsh, Q_ANN_LSH_SQL),
    "q_ann_lsh_multiprobe": (q_ann_lsh_multiprobe, Q_ANN_LSH_MULTIPROBE_SQL),
    "q_ann_knn_graph": (q_ann_knn_graph, Q_ANN_KNN_GRAPH_SQL),
    "q_ann_knn_graph_canonical": (
        q_ann_knn_graph_canonical,
        Q_ANN_KNN_GRAPH_CANONICAL_SQL,
    ),
    "q_ann_knn_beam": (q_ann_knn_beam, Q_ANN_KNN_BEAM_SQL),
    "q_graph_seed_distance": (q_graph_seed_distance, Q_GRAPH_SEED_DISTANCE_SQL),
    "q_knn_diagnostics": (q_knn_diagnostics, Q_KNN_DIAGNOSTICS_SQL),
    "q_graph_trustrank": (q_graph_trustrank, Q_GRAPH_TRUSTRANK_SQL),
    "q_constraint_audit": (q_constraint_audit, Q_CONSTRAINT_AUDIT_SQL),
    "q_sample_apportion": (q_sample_apportion, Q_SAMPLE_APPORTION_SQL),
    "q_lexical_knn_graph": (q_lexical_knn_graph, Q_LEXICAL_KNN_GRAPH_SQL),
    "q_audio_features": (q_audio_features, Q_AUDIO_FEATURES_SQL),
    "q_assoc_rules": (q_assoc_rules, Q_ASSOC_RULES_SQL),
    "q_assoc_rules_longtail": (
        q_assoc_rules_longtail,
        Q_ASSOC_RULES_LONGTAIL_SQL,
    ),
    "q_cluster_mutual_knn": (q_cluster_mutual_knn, Q_CLUSTER_MUTUAL_KNN_SQL),
    "q_doc_hash_vectors": (q_doc_hash_vectors, Q_DOC_HASH_VECTORS_SQL),
    "q_quality_classifier": (q_quality_classifier, Q_QUALITY_CLASSIFIER_SQL),
    "q_jl_projection": (q_jl_projection, Q_JL_PROJECTION_SQL),
    "q_stream_classifier": (q_stream_classifier, Q_QUALITY_CLASSIFIER_SQL),
    "q_sq8_quantize": (q_sq8_quantize, Q_SQ8_QUANTIZE_SQL),
    "q_sq8_topk": (q_sq8_topk, Q_SQ8_TOPK_SQL),
    "q_cdc_chunks": (q_cdc_chunks, Q_CDC_CHUNKS_SQL),
    "q_winnow_fingerprints": (q_winnow_fingerprints, Q_WINNOW_SQL),
    "q_winnow_overlap": (q_winnow_overlap, Q_WINNOW_OVERLAP_SQL),
    "q_lexical_vector_topk": (q_lexical_vector_topk, Q_LEXICAL_VECTOR_TOPK_SQL),
    "q_item_cf": (q_item_cf, Q_ITEM_CF_SQL),
    "q_semantic_representatives": (
        q_semantic_representatives,
        Q_SEMANTIC_REPS_SQL,
    ),
    "q_kcenter_coreset": (q_kcenter_coreset, Q_KCENTER_CORESET_SQL),
    "q_shard_balanced": (q_shard_balanced, Q_SHARD_BALANCED_SQL),
    # RETIRED r13 (VERDICT r12 #2, the r12 retirement pattern): q_ann_ivf
    # (the corpus-SCAN twin). Its gate row is fully carried by
    # q_ann_ivf_indexed below — the served form gates the BYTE-IDENTICAL
    # Q_ANN_IVF_SQL on the same panel every window — plus the pytest
    # equality pins (test_maintain_cli ivf CLI served == ivf_topk;
    # test_extensions X223 append/serve), which transitively extend each
    # green indexed row to the scan operator. ivf_topk and its SQL stay
    # (the oracle IS the scan form).
    # X222: index-served IVF under the SCAN-form oracle — the hash
    # compare is the served-equals-scan contract (X177 doctrine).
    "q_ann_ivf_indexed": (q_ann_ivf_indexed, Q_ANN_IVF_SQL),
    "q_multimodal_features": (q_multimodal_features, Q_MULTIMODAL_SQL),
    "q_multimodal_decode": (q_multimodal_decode, Q_MULTIMODAL_DECODE_SQL),
    "q_multimodal_frames": (q_multimodal_frames, Q_MULTIMODAL_FRAMES_SQL),
    "q_multimodal_resize": (q_multimodal_resize, Q_MULTIMODAL_RESIZE_SQL),
    "q_stream_tumbling": (q_stream_tumbling, Q_STREAM_TUMBLING_SQL),
    "q_stream_sessionize": (q_stream_sessionize, Q_STREAM_SESSIONIZE_SQL),
    "q_stream_clamp": (q_stream_clamp, Q_STREAM_CLAMP_SQL),
    "q_stream_sliding": (q_stream_sliding, Q_STREAM_SLIDING_SQL),
    "q_stream_dedup": (q_stream_dedup, Q_STREAM_DEDUP_SQL),
    "q_stream_join": (q_stream_join, Q_STREAM_JOIN_SQL),
    "q_stream_dedup_incremental": (q_stream_dedup_incremental, Q_DEDUP_INCREMENTAL_SQL),
    "q_split_hash": (q_split_hash, Q_SPLIT_HASH_SQL),
    "q_epoch_shuffle": (q_epoch_shuffle, Q_EPOCH_SHUFFLE_SQL),
    "q_split_leakage_safe": (q_split_leakage_safe, Q_SPLIT_LEAKAGE_SQL),
    "q_doc_chunks": (q_doc_chunks, Q_DOC_CHUNKS_SQL),
    "q_corpus_manifest": (q_corpus_manifest, Q_CORPUS_MANIFEST_SQL),
    "q_text_repetition": (q_text_repetition, Q_TEXT_REPETITION_SQL),
    "q_hybrid_rrf": (q_hybrid_rrf, Q_HYBRID_RRF_SQL),
    "q_hard_negatives": (q_hard_negatives, Q_HARD_NEGATIVES_SQL),
    "q_dedup_containment": (q_dedup_containment, Q_DEDUP_CONTAINMENT_SQL),
    "q_dedup_containment_canonical": (
        q_dedup_containment_canonical,
        Q_DEDUP_CONTAINMENT_CANONICAL_SQL,
    ),
    "q_multimodal_phash": (q_multimodal_phash, Q_MULTIMODAL_PHASH_SQL),
    "q_ann_incremental": (q_ann_incremental, Q_ANN_INCREMENTAL_SQL),
    "q_join_bloom": (q_join_bloom, Q_JOIN_BLOOM_SQL),
    "q_graph_communities": (q_graph_communities, Q_GRAPH_COMMUNITIES_SQL),
    "q_graph_communities_canonical": (
        q_graph_communities_canonical,
        Q_GRAPH_COMMUNITIES_CANONICAL_SQL,
    ),
    "q_stream_ann_ingest": (q_stream_ann_ingest, Q_ANN_INCREMENTAL_SQL),
    "q_embedding_truncation": (q_embedding_truncation, Q_EMBEDDING_TRUNCATION_SQL),
    "q_mmr_rerank": (q_mmr_rerank, Q_MMR_RERANK_SQL),
    "q_sketch_join_card": (q_sketch_join_card, Q_SKETCH_JOIN_CARD_SQL),
    "q_sketch_cms": (q_sketch_cms, Q_SKETCH_CMS_SQL),
    "q_sketch_hll": (q_sketch_hll, Q_SKETCH_HLL_SQL),
    "q_sketch_ddq": (q_sketch_ddq, Q_SKETCH_DDQ_SQL),
    # RETIRED from the registry r12 (VERDICT r11 #7 window-budget audit,
    # −2 entries): q_search_phrase / q_search_substring (the corpus-SCAN
    # twins). Their information is fully carried by (a) the *_indexed
    # entries below, which gate the IDENTICAL oracle SQL and the same
    # query panels every window, and (b) the pytest equality pins
    # (test_maintain_cli: served == scan bit-equal on base AND grown
    # corpora), which transitively extend each green indexed gate row to
    # the scan operators (phrase_occurrences / substring_occurrences —
    # both still exercised as the verify stage inside the indexed
    # serving paths and by their semantics pytests). The scan functions
    # and SQL builders stay; only the duplicate gate rows go.
    # (q_search_bm25_pruned retired r13 — rationale at the q_search_bm25
    # retirement comment above)
    "q_search_bm25_indexed": (q_search_bm25_indexed, Q_SEARCH_BM25_LONGTAIL_SQL),
    "q_search_bm25_maxscore": (
        q_search_bm25_maxscore,
        Q_SEARCH_BM25_LONGTAIL_SQL,
    ),
    "q_retrieval_mrr": (q_retrieval_mrr, Q_RETRIEVAL_MRR_SQL),
    # X177: index-served twins under the SCAN-form oracles — the hash
    # compare is the served-equals-scan contract.
    "q_search_phrase_indexed": (q_search_phrase_indexed, Q_SEARCH_PHRASE_SQL),
    "q_search_substring_indexed": (
        q_search_substring_indexed,
        Q_SEARCH_SUBSTRING_SQL,
    ),
    "q_stream_cms": (q_stream_cms, Q_STREAM_CMS_SQL),
    "q_stream_sq8_stats": (q_stream_sq8_stats, Q_STREAM_SQ8_STATS_SQL),
    "q_stream_ddq": (q_stream_ddq, Q_STREAM_DDQ_SQL),
    "q_trend_daily": (q_trend_daily, Q_TREND_DAILY_SQL),
    "q_trend_robust": (q_trend_robust, Q_TREND_ROBUST_SQL),
    "q_trend_robust_windowed": (
        q_trend_robust_windowed,
        Q_TREND_ROBUST_WINDOWED_SQL,
    ),
    "q_json_props": (q_json_props, Q_JSON_PROPS_SQL),
    "q_ann_recall": (q_ann_recall, Q_ANN_RECALL_SQL),
    "q_ann_filtered": (q_ann_filtered, Q_ANN_FILTERED_SQL),
    "q_retrieval_map": (q_retrieval_map, Q_RETRIEVAL_MAP_SQL),
    "q_record_linkage": (q_record_linkage, Q_RECORD_LINKAGE_SQL),
}

# close the harness ⇄ harness_ext import cycle from THIS side too, so
# `import mimic2ts_spark.harness_ext` works standalone (harness's bottom
# skips its own composition when it finds us mid-import on the stack)
_h._compose_registry(EXT_REGISTRY)
