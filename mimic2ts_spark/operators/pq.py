"""Product quantization (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search"): split the embedding space into M orthogonal
subspaces, learn a small codebook per subspace (k-means), encode every
vector as M small codes, and answer queries by Asymmetric Distance
Computation — the query's exact subvectors against the codebook, so
each candidate costs M table lookups instead of a full dim-by-dim scan.

Why this matters at 100 TB: PQ is the memory side of ANN scale. IVF
(similarity.py) bounds which vectors a query touches; PQ bounds the
bytes per touched vector (M codes ≈ 4 bytes vs 256 bytes of float32) —
a ~64× compression of the candidate stream through any shuffle. The
two compose (IVF-PQ) exactly as built here: both are the same k-means
machinery (operators/kmeans.py), so codebooks, codes, and ADC
distances inherit its integer-exact cross-engine contract.

Shape at scale:
- training: the M subspace codebooks are learned JOINTLY — each Lloyd
  round is ONE Arrow kernel pass over the full quantized vectors
  (numpy argmin per subspace slice) plus one posexplode hash-agg for
  the floor-div centroid update. The per-round collect is M·K centroid
  rows (bounded, a documented broadcast-budget choice).
- encoding: ONE kernel pass emits all M codes + the exact integer
  distortion per vector — ZERO joins (the r04 M-way vec_id self-join
  is gone; codes never shuffle).
- codebooks are ARTIFACTS, not per-query work: `train_codebooks`
  memoizes per cache_key (the harness passes sf_dir, so the encode /
  ADC / IVF-PQ queries of one run share one training), and the
  maintain CLI's `codebook` command persists them as JSON for
  cross-run reuse (`save_codebooks`/`load_codebooks`).
- ADC query: the query row and the k·M-integer distance table are
  bounded driver-side literals (like the BPE merge rules); scoring is
  ONE scan over the encoded corpus with M map lookups per row — zero
  joins — and top-k plans as TakeOrderedAndProject.
- IVF-PQ composes the two halves the production way: coarse k-means
  cells bound WHICH vectors a query touches, PQ codes over RESIDUALS
  (x − cell centroid, exact int64 subtraction) bound the bytes per
  touched vector. Cell pruning is a JVM isin filter; codes and ADC
  sums happen in the same single kernel pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic2ts_spark import memo
from mimic2ts_spark.operators.kmeans import (
    KM_ROUNDS,
    _sql_quant,
    quantize,
    sql_kmeans_parts,
    train_coarse,
)


PQ_M = 4        # subspaces
PQ_SUB = 16     # dims per subspace (embeddings are 64-d)
PQ_K = 16       # centroids per subspace codebook
PQ_ROUNDS = 1   # Lloyd rounds per codebook
PQ_TOP_K = 20


def _quant_base(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return vectors.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("x")
    )


def _slice_books(rows) -> list[list[tuple[int, list[int]]]]:
    """Driver-side: k seed rows (vec_id, x[64]) → M per-subspace
    codebooks [(cid, subvec[16])], cids ascending (rows arrive sorted
    by vec_id)."""
    return [
        [
            (int(r["vec_id"]), [int(v) for v in r["x"][m * PQ_SUB:(m + 1) * PQ_SUB]])
            for r in rows
        ]
        for m in range(PQ_M)
    ]


def _books_np(books):
    """(cids[m], mat[m]) numpy views of the codebooks."""
    import numpy as np

    cids = [np.array([c for c, _ in b], dtype=np.int64) for b in books]
    mats = [np.array([v for _, v in b], dtype=np.int64) for b in books]
    return cids, mats


def _assign_all(base: DataFrame, books, coarse=None) -> DataFrame:
    """ONE kernel pass emitting every subspace's code + distance.

    base: (vec_id, x) [, cell when coarse is given — then x is first
    replaced by the RESIDUAL x − coarse[cell] before slicing].
    Output: (vec_id, x, [cell,] code_0..{M-1}, d_0..{M-1}) where x is
    the (residual) vector the codes quantize — so the floor-div update
    can aggregate it directly. Exact: int64 |a|²+|b|²−2ab terms < 2^50,
    integer math is associative, np.argmin's first-minimum tie-break
    equals the (d, cid) struct-min because codebook cids are ascending.
    """
    import numpy as np
    import pandas as pd

    cids, mats = _books_np(books)
    norms = [(m * m).sum(axis=1) for m in mats]
    if coarse is not None:
        c_index = {int(cid): i for i, cid in enumerate(coarse[0])}
        c_mat = coarse[1]

    cols = ["vec_id", "x"] + (["cell"] if coarse is not None else [])
    schema = "vec_id long, x array<bigint>" + (
        ", cell long" if coarse is not None else ""
    )
    schema += "".join(f", code_{m} long" for m in range(PQ_M))
    schema += "".join(f", d_{m} long" for m in range(PQ_M))

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            out = {"vec_id": pdf["vec_id"]}
            if coarse is not None:
                cells = pdf["cell"].to_numpy(dtype=np.int64)
                rows = np.array([c_index[int(c)] for c in cells])
                X = X - c_mat[rows]
                out["x"] = list(X)
                out["cell"] = cells
            else:
                out["x"] = pdf["x"]
            codes, ds = [], []
            for m in range(PQ_M):
                Xm = X[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                D = (
                    (Xm * Xm).sum(axis=1)[:, None]
                    + norms[m][None, :]
                    - 2 * (Xm @ mats[m].T)
                )
                j = np.argmin(D, axis=1)
                codes.append(cids[m][j])
                ds.append(D[np.arange(len(j)), j])
            # column order must match the declared schema positionally
            for m in range(PQ_M):
                out[f"code_{m}"] = codes[m]
            for m in range(PQ_M):
                out[f"d_{m}"] = ds[m]
            yield pd.DataFrame(out)

    return base.select(*cols).mapInPandas(gen, schema=schema)


def _update_all(assigned: DataFrame) -> list[list[tuple[int, list[int]]]]:
    """Floor-div centroid update for ALL M subspaces in one hash-agg
    pass: posexplode the (residual) vector, bucket each dim into its
    subspace, group by (subspace, code, dim). Collect is M·K centroid
    rows × PQ_SUB dims — bounded. Identical math to kmeans._update
    (floor(double(sum)/count), the cross-engine-safe floor-div)."""
    codes = F.array(*[F.col(f"code_{m}") for m in range(PQ_M)])
    per_dim = (
        assigned.select(codes.alias("_codes"), F.posexplode("x").alias("dim", "v"))
        .select(
            F.floor(F.col("dim") / PQ_SUB).cast("int").alias("m"),
            F.element_at("_codes", F.floor(F.col("dim") / PQ_SUB).cast("int") + 1)
            .alias("cid"),
            F.col("dim"),
            F.col("v"),
        )
        .groupBy("m", "cid", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "m", "cid", "dim",
            F.floor(F.col("s").cast("double") / F.col("n")).alias("mv"),
        )
        .collect()
    )
    by_key: dict[tuple[int, int], dict[int, int]] = {}
    for r in per_dim:
        by_key.setdefault((r["m"], r["cid"]), {})[r["dim"]] = int(r["mv"])
    books: list[list[tuple[int, list[int]]]] = []
    for m in range(PQ_M):
        ents = sorted(cid for (mm, cid) in by_key if mm == m)
        books.append(
            [
                (
                    int(cid),
                    [
                        by_key[(m, cid)][d]
                        for d in range(m * PQ_SUB, (m + 1) * PQ_SUB)
                    ],
                )
                for cid in ents
            ]
        )
    return books


# Codebooks are artifacts: one training per cache_key per process (the
# harness keys by sf_dir so q_pq_encode / q_ann_pq / q_ann_ivfpq share
# one training), and the maintain CLI persists them as JSON for
# cross-run reuse. Driver-side size is M·K·PQ_SUB ints — trivial.
_CODEBOOKS_CACHE: dict[str, object] = {}


def train_codebooks(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
) -> list[list[tuple[int, list[int]]]]:
    """Train the M global subspace codebooks: seeds = subvector slices
    of the PQ_K lowest-id vectors, then PQ_ROUNDS joint Lloyd rounds
    (one kernel pass + one update agg each)."""
    if cache_key is not None and ("g", cache_key) in _CODEBOOKS_CACHE:
        return _CODEBOOKS_CACHE[("g", cache_key)]  # type: ignore[return-value]
    base = _quant_base(vectors, id_col, vec_col).persist()
    books = _slice_books(base.orderBy("vec_id").limit(PQ_K).collect())
    for _ in range(PQ_ROUNDS):
        books = _update_all(_assign_all(base, books))
    base.unpersist()
    if cache_key is not None:
        _CODEBOOKS_CACHE[("g", cache_key)] = books
    return books


def save_codebooks(books, path: str) -> None:
    """Persist trained codebooks as a JSON artifact (maintain CLI)."""
    import json

    with open(path, "w") as f:
        json.dump(
            {"m": PQ_M, "sub": PQ_SUB, "k": PQ_K, "rounds": PQ_ROUNDS,
             "books": [[[cid, list(v)] for cid, v in b] for b in books]},
            f,
        )


def load_codebooks(path: str):
    import json

    with open(path) as f:
        art = json.load(f)
    if art["m"] != PQ_M or art["sub"] != PQ_SUB:
        raise ValueError(
            f"codebook artifact shape ({art['m']}×{art['sub']}) does not "
            f"match PQ_M×PQ_SUB ({PQ_M}×{PQ_SUB})"
        )
    return [[(int(cid), [int(v) for v in vec]) for cid, vec in b]
            for b in art["books"]]


def pq_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    cache_key: str | None = None,
) -> DataFrame:
    """(vec_id, code_0..code_{M-1}, distortion): per-subspace codebook
    codes plus the exact integer quantization distortion Σ_m d_m — the
    PQ reconstruction-error scoreboard. ONE kernel pass, zero joins."""
    if codebooks is None:
        codebooks = train_codebooks(vectors, id_col, vec_col, cache_key)
    enc = _assign_all(_quant_base(vectors, id_col, vec_col), codebooks)
    distortion = None
    for m in range(PQ_M):
        dm = F.col(f"d_{m}")
        distortion = dm if distortion is None else distortion + dm
    return enc.select(
        "vec_id",
        *[f"code_{m}" for m in range(PQ_M)],
        distortion.cast("long").alias("distortion"),
    )


def _query_row(vectors: DataFrame, id_col: str, vec_col: str) -> tuple[int, list]:
    q_row = (
        vectors.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .limit(1)
        .collect()[0]
    )
    return int(q_row["vec_id"]), [int(v) for v in q_row["qx"]]


def _adc_expr(q_vec: list[int], books) -> F.Column:
    """The literal-map ADC distance Σ_m table_m[code_m] for a quantized
    query — Python-side table arithmetic is pure int, bit-equal to the
    SQL mirror's integer expressions."""
    dist_expr = None
    for m in range(PQ_M):
        q_sub = q_vec[m * PQ_SUB:(m + 1) * PQ_SUB]
        entries = [
            (cid, sum((x - y) * (x - y) for x, y in zip(q_sub, c)))
            for cid, c in books[m]
        ]
        mapping = F.map_from_arrays(
            F.array(*[F.lit(c).cast("long") for c, _ in entries]),
            F.array(*[F.lit(d).cast("long") for _, d in entries]),
        )
        term = F.element_at(mapping, F.col(f"code_{m}"))
        dist_expr = term if dist_expr is None else dist_expr + term
    return dist_expr


def pq_adc_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = PQ_TOP_K,
    codebooks=None,
    cache_key: str | None = None,
) -> DataFrame:
    """(vec_id, adc_dist2): the top_k nearest encoded vectors to the
    lowest-id vector, by ADC over the learned codebooks — one encode
    pass + a literal-map distance sum, TakeOrdered top-k, zero joins."""
    if codebooks is None:
        codebooks = train_codebooks(vectors, id_col, vec_col, cache_key)
    q_id, q_vec = _query_row(vectors, id_col, vec_col)
    enc = _assign_all(_quant_base(vectors, id_col, vec_col), codebooks)
    return (
        enc.where(F.col("vec_id") != q_id)
        .select("vec_id", _adc_expr(q_vec, codebooks).cast("long").alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(top_k)
    )


# --- IVF-PQ with residual encoding -----------------------------------------

IVFPQ_K = 16      # MINIMUM coarse cells (floor; derived_cells grows with n)
IVFPQ_NPROBE = 4  # probed cells per query (floor; derived past the train cap)


def _derived_ivfpq_nprobe(vectors: DataFrame, id_col: str) -> int:
    """IVFPQ_NPROBE floored at every oracle-gated scale, growing past
    the cell-train cap per similarity.derived_nprobe (the r06 dial rule
    — cells stop growing there, so fixed probes read a shrinking corpus
    fraction; the SQL mirrors keep their literal because the floor
    covers every gated corpus). One MEMOIZED slim count (VERDICT r11
    #3)."""
    from mimic2ts_spark.operators.dupguard import memoized_count
    from mimic2ts_spark.operators.similarity import derived_nprobe

    return max(
        IVFPQ_NPROBE, derived_nprobe(memoized_count(vectors.select(id_col)))
    )


def train_ivfpq(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
):
    """(coarse_rows, residual_books): coarse k-means cells (KM_ROUNDS
    Lloyd rounds over the quantized vectors) plus per-subspace codebooks
    trained on RESIDUALS x − cell_centroid — the production IVF-PQ form
    (residuals concentrate around 0, so the same K codes carry less
    distortion than global codebooks; pinned by
    test_ivfpq_residual_distortion_below_global)."""
    import numpy as np

    if cache_key is not None and ("r", cache_key) in _CODEBOOKS_CACHE:
        return _CODEBOOKS_CACHE[("r", cache_key)]  # type: ignore[return-value]
    from mimic2ts_spark.operators.similarity import derived_cells

    base = _quant_base(vectors, id_col, vec_col).persist()
    # cells grow with the corpus (nlist rule, sample-capped) — floor
    # keeps sf0.01/0.1 at the historical 16 so hashes only change where
    # cells do; training is the bounded md5-sample Lloyd (lloyd_train)
    n = base.count()
    n_cells = derived_cells(n)
    coarse_rows = train_coarse(
        vectors, n_cells, KM_ROUNDS, id_col, vec_col, cache_key, _base=base, n=n
    )
    coarse = (
        np.array([r["cid"] for r in coarse_rows], dtype=np.int64),
        np.array([list(r["m"]) for r in coarse_rows], dtype=np.int64),
    )
    assigned = _cells_of(base, coarse).persist()

    # residual seeds: the PQ_K lowest-id rows, residualized driver-side
    cent_of = {int(cid): coarse[1][i] for i, cid in enumerate(coarse[0])}
    seed_rows = assigned.orderBy("vec_id").limit(PQ_K).collect()
    books = _slice_books(
        [
            {"vec_id": r["vec_id"],
             "x": [int(v) - int(c) for v, c in zip(r["x"], cent_of[int(r["cell"])])]}
            for r in seed_rows
        ]
    )
    for _ in range(PQ_ROUNDS):
        books = _update_all(_assign_all(assigned, books, coarse=coarse))
    assigned.unpersist()
    base.unpersist()
    out = (coarse_rows, books)
    if cache_key is not None:
        _CODEBOOKS_CACHE[("r", cache_key)] = out
    return out


def _coarse_np(coarse_rows):
    import numpy as np

    return (
        np.array([r["cid"] for r in coarse_rows], dtype=np.int64),
        np.array([list(r["m"]) for r in coarse_rows], dtype=np.int64),
    )


def _cells_of(base: DataFrame, coarse) -> DataFrame:
    """(vec_id, x, cell): nearest coarse centroid by exact int L2 —
    the same kernel math as kmeans._assign_kernel, carrying x for the
    downstream residual pass."""
    import numpy as np
    import pandas as pd

    cids, mat = coarse
    m_norm = (mat * mat).sum(axis=1)

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            D = (X * X).sum(axis=1)[:, None] + m_norm[None, :] - 2 * (X @ mat.T)
            j = np.argmin(D, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "x": pdf["x"], "cell": cids[j]}
            )

    return base.mapInPandas(gen, schema="vec_id long, x array<bigint>, cell long")


def ivfpq_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
) -> DataFrame:
    """(vec_id, cell, code_0.., distortion): residual-encoded corpus —
    the persisted-index shape an IVF-PQ deployment scans."""
    coarse_rows, books = train_ivfpq(vectors, id_col, vec_col, cache_key)
    coarse = _coarse_np(coarse_rows)
    cells = _cells_of(_quant_base(vectors, id_col, vec_col), coarse)
    enc = _assign_all(cells, books, coarse=coarse)
    distortion = None
    for m in range(PQ_M):
        dm = F.col(f"d_{m}")
        distortion = dm if distortion is None else distortion + dm
    return enc.select(
        "vec_id", "cell",
        *[f"code_{m}" for m in range(PQ_M)],
        distortion.cast("long").alias("distortion"),
    )


def ivfpq_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = PQ_TOP_K,
    cache_key: str | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF-PQ: the two ANN scale halves composed the production way —
    trained coarse cells bound WHICH vectors the query touches
    (nprobe/k of the corpus, pruned by a JVM isin filter BEFORE any
    Python), residual PQ codes bound the BYTES per touched vector.
    Query side: probed cells and the per-(cell, subspace) ADC tables
    are driver-side integer literals (nprobe·M·K entries); candidate
    scoring is ONE kernel pass over the probed slice emitting
    (vec_id, cell, adc_dist2), then TakeOrdered top-k. Everything is
    integer-exact, so the DuckDB mirror (coarse kmeans CTEs + residual
    subspace kmeans CTEs + per-cell ADC tables) hash-matches."""
    import numpy as np
    import pandas as pd

    coarse_rows, books = train_ivfpq(vectors, id_col, vec_col, cache_key)
    coarse = _coarse_np(coarse_rows)
    cids_c, mat_c = coarse
    if nprobe is None:
        nprobe = _derived_ivfpq_nprobe(vectors, id_col)

    q_id, q_vec = _query_row(vectors, id_col, vec_col)
    qx = np.array(q_vec, dtype=np.int64)
    # probe: nprobe nearest coarse cells by exact int L2, ties to the
    # lower cid (rows already cid-ascending; python sort is stable)
    dq = ((mat_c - qx[None, :]) ** 2).sum(axis=1)
    order = sorted(range(len(cids_c)), key=lambda i: (int(dq[i]), int(cids_c[i])))
    probed = [int(cids_c[i]) for i in order[:nprobe]]

    # per-(cell, m) ADC tables of the query RESIDUAL vs the codebook
    cent_of = {int(cid): mat_c[i] for i, cid in enumerate(cids_c)}
    _, mats_b = _books_np(books)
    tables = {}
    for cell in probed:
        qr = qx - cent_of[cell]
        tables[cell] = [
            ((mats_b[m] - qr[m * PQ_SUB:(m + 1) * PQ_SUB][None, :]) ** 2).sum(axis=1)
            for m in range(PQ_M)
        ]

    norms_b = [(m * m).sum(axis=1) for m in mats_b]
    c_index = {int(cid): i for i, cid in enumerate(cids_c)}

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            R = X - mat_c[np.array([c_index[int(c)] for c in cells])]
            adc = np.zeros(len(cells), dtype=np.int64)
            for m in range(PQ_M):
                Rm = R[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                D = (
                    (Rm * Rm).sum(axis=1)[:, None]
                    + norms_b[m][None, :]
                    - 2 * (Rm @ mats_b[m].T)
                )
                j = np.argmin(D, axis=1)
                for ci, cell in enumerate(cells):
                    adc[ci] += tables[int(cell)][m][j[ci]]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cells, "adc_dist2": adc}
            )

    cells = _cells_of(_quant_base(vectors, id_col, vec_col), coarse)
    pruned = cells.where(F.col("cell").isin(probed) & (F.col("vec_id") != q_id))
    return (
        pruned.mapInPandas(score, schema="vec_id long, cell long, adc_dist2 long")
        .orderBy("adc_dist2", "vec_id")
        .limit(top_k)
    )


def _batch_topk(pdf, k: int, dist: str):
    """Per-batch EXACT top-k — the map-side combine of every panel
    top-k kernel: rows prune to the k smallest per query under the
    (dist, neighbor_id) total order BEFORE leaving the Python worker,
    so the WindowGroupLimit that merges batches shuffles ≤ batches·k
    rows per query instead of the full corpus (at 10⁹ vectors the
    un-pruned emission is the shuffle bottleneck; pruned it is
    ~(corpus/maxRecordsPerBatch)·k). Value-identical by the superset
    property: any row of the GLOBAL top-k is among the k smallest of
    its own batch under the same total order the downstream window
    sorts by — this is pure row SELECTION, no arithmetic is reordered,
    so cross-engine bit-exactness is untouched."""
    import numpy as np

    if not len(pdf):
        return pdf
    order = np.lexsort(
        (
            pdf["neighbor_id"].to_numpy(),
            pdf[dist].to_numpy(),
            pdf["query_id"].to_numpy(),
        )
    )
    return pdf.iloc[order].groupby("query_id", sort=False).head(k)


def brute_force_l2_panel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact int-L2 top-k per panel query over the QUANTIZED vectors —
    the metric-matched gold standard for ADC recall (ADC approximates
    quantized L2, not cosine, so scoring it against a cosine panel
    would measure metric mismatch instead of index quality). The panel
    is collected driver-side (bounded — same budget class as the ADC
    tables); one kernel pass over the corpus, per-query top-k as a
    WindowGroupLimit. Integer-exact: every distance is an int64 sum."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    q_ids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    Q = np.array([[int(v) for v in r["qx"]] for r in q_rows], dtype=np.int64)
    q_norm = (Q * Q).sum(axis=1)

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x_norm = (X * X).sum(axis=1)
            D = x_norm[:, None] + q_norm[None, :] - 2 * (X @ Q.T)
            qi, ni = np.meshgrid(np.arange(len(q_ids)), np.arange(len(ids)))
            keep = q_ids[qi.ravel()] != ids[ni.ravel()]
            yield _batch_topk(
                pd.DataFrame(
                    {
                        "query_id": q_ids[qi.ravel()][keep],
                        "neighbor_id": ids[ni.ravel()][keep],
                        "d2": D[ni.ravel(), qi.ravel()][keep],
                    }
                ),
                k,
                "d2",
            )

    scored = _quant_base(vectors, id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, d2 long"
    )
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ivfpq_topk_panel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = PQ_TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Multi-query IVF-PQ ADC top-k (the recall-eval form of
    ivfpq_topk): the panel is collected driver-side (bounded), each
    query probes its IVFPQ_NPROBE nearest coarse cells and gets
    per-(cell, subspace) ADC tables — all integer literals shipped in
    the kernel closure. ONE kernel pass over the union of probed cells
    computes each row's residual codes once (query-independent) and
    sums every probing query's table at those codes, vectorized per
    (cell, query). Per-query top-k is a WindowGroupLimit. Same int
    math as ivfpq_topk ⇒ same cross-engine exactness."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    coarse_rows, books = train_ivfpq(vectors, id_col, vec_col, cache_key)
    coarse = _coarse_np(coarse_rows)
    cids_c, mat_c = coarse
    if nprobe is None:
        nprobe = _derived_ivfpq_nprobe(vectors, id_col)
    cent_of = {int(cid): mat_c[i] for i, cid in enumerate(cids_c)}
    _, mats_b = _books_np(books)
    norms_b = [(m * m).sum(axis=1) for m in mats_b]
    c_index = {int(cid): i for i, cid in enumerate(cids_c)}

    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    tables: dict = {}
    queries_by_cell: dict = {}
    for r in q_rows:
        qid = int(r["vec_id"])
        qx = np.array([int(v) for v in r["qx"]], dtype=np.int64)
        dq = ((mat_c - qx[None, :]) ** 2).sum(axis=1)
        order = sorted(
            range(len(cids_c)), key=lambda i: (int(dq[i]), int(cids_c[i]))
        )
        for cell in (int(cids_c[i]) for i in order[:nprobe]):
            qr = qx - cent_of[cell]
            tables[(qid, cell)] = [
                ((mats_b[m] - qr[m * PQ_SUB:(m + 1) * PQ_SUB][None, :]) ** 2).sum(
                    axis=1
                )
                for m in range(PQ_M)
            ]
            queries_by_cell.setdefault(cell, []).append(qid)

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            cellv = pdf["cell"].to_numpy(dtype=np.int64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            R = X - mat_c[np.array([c_index[int(c)] for c in cellv])]
            codes = np.zeros((len(ids), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                Rm = R[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                D = (
                    (Rm * Rm).sum(axis=1)[:, None]
                    + norms_b[m][None, :]
                    - 2 * (Rm @ mats_b[m].T)
                )
                codes[:, m] = np.argmin(D, axis=1)
            frames = []
            for cell in np.unique(cellv):
                idx = np.nonzero(cellv == cell)[0]
                cd = codes[idx]
                for qid in queries_by_cell[int(cell)]:
                    t = tables[(qid, int(cell))]
                    d = np.zeros(len(idx), dtype=np.int64)
                    for m in range(PQ_M):
                        d += t[m][cd[:, m]]
                    keep = ids[idx] != qid
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(keep.sum(), qid, np.int64),
                                "neighbor_id": ids[idx][keep],
                                "adc_dist2": d[keep],
                            }
                        )
                    )
            if frames:
                yield _batch_topk(
                    pd.concat(frames, ignore_index=True), k, "adc_dist2"
                )

    cells = _cells_of(_quant_base(vectors, id_col, vec_col), coarse)
    pruned = cells.where(F.col("cell").isin(sorted(queries_by_cell)))
    scored = pruned.mapInPandas(
        score, schema="query_id long, neighbor_id long, adc_dist2 long"
    )
    w = W.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


# --- SQL mirrors -----------------------------------------------------------


def _sql_sub(vec_col: str, m: int) -> str:
    # DuckDB list slice is 1-based INCLUSIVE on both ends
    return f"{vec_col}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"


def _sql_subspace_parts(
    table: str, m: int, id_col: str, vec_col: str, pre_quantized: bool = False
) -> tuple[list[str], str, str]:
    sub_tbl = (
        f"(SELECT {id_col} AS vec_id, {_sql_sub(vec_col, m)} AS sub FROM {table})"
    )
    # train_cap=None: the Spark-side PQ codebook training (the joint
    # _assign_all/_update_all kernel) scans the full base — fixed k=16
    # per subspace keeps that LINEAR, so the derived-k sample cap does
    # not apply and the mirror must not sample either.
    return sql_kmeans_parts(
        sub_tbl, k=PQ_K, rounds=PQ_ROUNDS, id_col="vec_id", vec_col="sub",
        prefix=f"s{m}_", pre_quantized=pre_quantized, train_cap=None,
    )


def sql_pq_encode(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """Mirror of pq_encode: M unrolled Lloyd chains over sliced
    subvectors, joined on vec_id. (The Spark side computes the same
    math in one fused kernel pass; the oracle mirrors the MATH, not the
    physical plan.)"""
    parts: list[str] = []
    finals = []
    for m in range(PQ_M):
        p, final_a, _ = _sql_subspace_parts(table, m, id_col, vec_col)
        parts.extend(p)
        finals.append(final_a)
    joins = " ".join(
        f"JOIN {finals[m]} e{m} ON e0.vec_id = e{m}.vec_id" for m in range(1, PQ_M)
    )
    codes = ", ".join(f"e{m}.cid AS code_{m}" for m in range(PQ_M))
    dist = " + ".join(f"e{m}.d" for m in range(PQ_M))
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT e0.vec_id, {codes}, CAST({dist} AS BIGINT) AS distortion"
        + f"\nFROM {finals[0]} e0 {joins}"
    )


_SQL_L2 = (
    "list_aggregate(list_transform(generate_series(1, len({b})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
)


def sql_ivfpq_topk(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = PQ_TOP_K,
) -> str:
    """Mirror of ivfpq_topk: coarse kmeans CTEs (KM_ROUNDS over the
    quantized vectors, int L2, ties to lower cid), residual base
    (x − cell centroid), per-subspace residual kmeans chains
    (pre-quantized — residuals are already ints), probe CTE (nprobe
    nearest cells to the min-id query by int L2), per-(cell, subspace)
    ADC tables of the query residual, summed through the code+cell
    joins."""
    from mimic2ts_spark.operators.similarity import sql_derived_cells

    parts: list[str] = []
    # coarse cells (count grows with the corpus — derived_cells mirror)
    cparts, c_final_a, c_final_c = sql_kmeans_parts(
        table, k=sql_derived_cells(table), rounds=KM_ROUNDS,
        id_col=id_col, vec_col=vec_col, prefix="ivf_",
    )
    parts.extend(cparts)
    parts.append(
        f"""rbase AS (
    SELECT a.vec_id, a.cid AS cell,
           list_transform(generate_series(1, len(a.x)),
                          i -> a.x[i] - c.m[i]) AS x
    FROM {c_final_a} a JOIN {c_final_c} c ON a.cid = c.cid
)"""
    )
    parts.append(
        f"q AS (SELECT x FROM ivf_base ORDER BY vec_id LIMIT 1)"
    )
    d_qc = _SQL_L2.format(a="q.x", b="c.m")
    parts.append(
        f"""probes AS (
    SELECT cid AS cell, m FROM (
        SELECT c.cid, c.m, {d_qc} AS d,
               row_number() OVER (ORDER BY {d_qc}, c.cid) AS rn
        FROM {c_final_c} c CROSS JOIN q
    ) WHERE rn <= {IVFPQ_NPROBE}
)"""
    )
    parts.append(
        """qres AS (
    SELECT p.cell,
           list_transform(generate_series(1, len(p.m)),
                          i -> q.x[i] - p.m[i]) AS qx
    FROM probes p CROSS JOIN q
)"""
    )
    finals = []
    for m in range(PQ_M):
        p, final_a, final_c = _sql_subspace_parts(
            "rbase", m, "vec_id", "x", pre_quantized=True
        )
        parts.extend(p)
        d_adc = (
            "list_aggregate(list_transform(generate_series(1, len(c.m)), "
            f"i -> (r.qx[{m * PQ_SUB} + i] - c.m[i]) * (r.qx[{m * PQ_SUB} + i] - c.m[i])), "
            "'sum')"
        )
        parts.append(
            f"""adc{m} AS (
    SELECT r.cell, c.cid, {d_adc} AS d2
    FROM qres r CROSS JOIN {final_c} c
)"""
        )
        finals.append(final_a)
    joins = " ".join(
        f"JOIN {finals[m]} e{m} ON e0.vec_id = e{m}.vec_id" for m in range(1, PQ_M)
    )
    joins += " JOIN rbase rb ON rb.vec_id = e0.vec_id"
    joins += " ".join(
        f" JOIN adc{m} ON adc{m}.cell = rb.cell AND adc{m}.cid = e{m}.cid"
        for m in range(PQ_M)
    )
    dist = " + ".join(f"adc{m}.d2" for m in range(PQ_M))
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT e0.vec_id, rb.cell, CAST({dist} AS BIGINT) AS adc_dist2
FROM {finals[0]} e0 {joins}
WHERE e0.vec_id != (SELECT min({id_col}) FROM {table})
ORDER BY adc_dist2, e0.vec_id
LIMIT {top_k}"""
    )


def sql_l2_panel(
    nq: int,
    k: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Mirror of brute_force_l2_panel: exact quantized-int L2 top-k per
    panel query (vec_id < nq), ties to the lower neighbor id."""
    base = f"(SELECT {id_col} AS vec_id, {_sql_quant(vec_col)} AS x FROM {table})"
    d = _SQL_L2.format(a="q.x", b="v.x")
    return f"""
WITH pb AS MATERIALIZED (SELECT vec_id, x FROM {base} b)
SELECT query_id, neighbor_id, d2 FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, {d} AS d2,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d}, v.vec_id) AS rn
    FROM (SELECT * FROM pb WHERE vec_id < {nq}) q
    JOIN pb v ON q.vec_id <> v.vec_id
) WHERE rn <= {k}
"""


def sql_ivfpq_panel_topk(
    nq: int,
    top_k: int = PQ_TOP_K,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Panel generalization of sql_ivfpq_topk: every CTE that was keyed
    by the single min-id query carries query_id (vec_id < nq), the ADC
    tables become (query_id, cell, cid) rows, and the final top-k is a
    per-query row_number window. Identical integer math per query."""
    from mimic2ts_spark.operators.similarity import sql_derived_cells

    parts: list[str] = []
    cparts, c_final_a, c_final_c = sql_kmeans_parts(
        table, k=sql_derived_cells(table), rounds=KM_ROUNDS,
        id_col=id_col, vec_col=vec_col, prefix="ivf_",
    )
    parts.extend(cparts)
    parts.append(
        f"""rbase AS (
    SELECT a.vec_id, a.cid AS cell,
           list_transform(generate_series(1, len(a.x)),
                          i -> a.x[i] - c.m[i]) AS x
    FROM {c_final_a} a JOIN {c_final_c} c ON a.cid = c.cid
)"""
    )
    parts.append(
        f"q AS (SELECT vec_id AS query_id, x FROM ivf_base WHERE vec_id < {nq})"
    )
    d_qc = _SQL_L2.format(a="q.x", b="c.m")
    parts.append(
        f"""probes AS (
    SELECT query_id, cid AS cell, m FROM (
        SELECT q.query_id, c.cid, c.m, {d_qc} AS d,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {d_qc}, c.cid) AS rn
        FROM {c_final_c} c CROSS JOIN q
    ) WHERE rn <= {IVFPQ_NPROBE}
)"""
    )
    parts.append(
        """qres AS (
    SELECT p.query_id, p.cell,
           list_transform(generate_series(1, len(p.m)),
                          i -> q.x[i] - p.m[i]) AS qx
    FROM probes p JOIN q ON q.query_id = p.query_id
)"""
    )
    finals = []
    for m in range(PQ_M):
        p, final_a, final_c = _sql_subspace_parts(
            "rbase", m, "vec_id", "x", pre_quantized=True
        )
        parts.extend(p)
        d_adc = (
            "list_aggregate(list_transform(generate_series(1, len(c.m)), "
            f"i -> (r.qx[{m * PQ_SUB} + i] - c.m[i]) * (r.qx[{m * PQ_SUB} + i] - c.m[i])), "
            "'sum')"
        )
        parts.append(
            f"""adc{m} AS (
    SELECT r.query_id, r.cell, c.cid, {d_adc} AS d2
    FROM qres r CROSS JOIN {final_c} c
)"""
        )
        finals.append(final_a)
    joins = " ".join(
        f"JOIN {finals[m]} e{m} ON e0.vec_id = e{m}.vec_id" for m in range(1, PQ_M)
    )
    joins += " JOIN rbase rb ON rb.vec_id = e0.vec_id"
    joins += " JOIN probes pr ON pr.cell = rb.cell"
    joins += " ".join(
        f" JOIN adc{m} ON adc{m}.query_id = pr.query_id"
        f" AND adc{m}.cell = rb.cell AND adc{m}.cid = e{m}.cid"
        for m in range(PQ_M)
    )
    dist = " + ".join(f"adc{m}.d2" for m in range(PQ_M))
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, adc_dist2 FROM (
    SELECT pr.query_id, e0.vec_id AS neighbor_id,
           CAST({dist} AS BIGINT) AS adc_dist2,
           row_number() OVER (PARTITION BY pr.query_id
                              ORDER BY CAST({dist} AS BIGINT), e0.vec_id) AS rn
    FROM {finals[0]} e0 {joins}
    WHERE e0.vec_id != pr.query_id
) WHERE rn <= {top_k}"""
    )


def sql_pq_adc_topk(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = PQ_TOP_K,
) -> str:
    """Mirror of pq_adc_topk: per-subspace ADC tables (query subvector
    vs final codebook), summed through the code joins."""
    parts: list[str] = []
    finals = []
    for m in range(PQ_M):
        p, final_a, final_c = _sql_subspace_parts(table, m, id_col, vec_col)
        parts.extend(p)
        q_sub = _sql_quant(_sql_sub(vec_col, m))
        parts.append(
            f"""q{m} AS (
    SELECT {q_sub} AS qx FROM {table} ORDER BY {id_col} LIMIT 1
)"""
        )
        parts.append(
            f"""adc{m} AS (
    SELECT c.cid,
           list_aggregate(list_transform(generate_series(1, len(c.m)),
               i -> (q.qx[CAST(i AS INTEGER)] - c.m[CAST(i AS INTEGER)])
                    * (q.qx[CAST(i AS INTEGER)] - c.m[CAST(i AS INTEGER)])),
               'sum') AS d2
    FROM {final_c} c CROSS JOIN q{m} q
)"""
        )
        finals.append(final_a)
    joins = " ".join(
        f"JOIN {finals[m]} e{m} ON e0.vec_id = e{m}.vec_id" for m in range(1, PQ_M)
    ) + " " + " ".join(f"JOIN adc{m} ON adc{m}.cid = e{m}.cid" for m in range(PQ_M))
    dist = " + ".join(f"adc{m}.d2" for m in range(PQ_M))
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT e0.vec_id, CAST({dist} AS BIGINT) AS adc_dist2"
        + f"\nFROM {finals[0]} e0 {joins}"
        + f"\nWHERE e0.vec_id != (SELECT min({id_col}) FROM {table})"
        + f"\nORDER BY adc_dist2, e0.vec_id\nLIMIT {top_k}"
    )


# --- scalar quantization (SQ8, X211) -----------------------------------------
#
# The OTHER standard vector-store compression next to PQ: per-dimension
# affine int8 codes (Faiss ScalarQuantizer / Lucene int8 HNSW et al.) —
# code = floor((v - lo_d) * 255 / (hi_d - lo_d)) with per-dim corpus
# min/max. 4x smaller than float32 (8x vs float64), trivially SIMD-able,
# and reconstruction error is bounded per dim by one step
# (hi-lo)/255 — the cheap compression tier below PQ's. Cross-engine
# exactness: lo/hi are exact aggregate values; the quantize expression
# is the IDENTICAL IEEE op order both engines ((v - lo) * 255.0 /
# (hi - lo), then floor, then least(,255) to absorb the v = hi edge
# where x*255/x may land an ulp above 255), so codes hash bit-equal.
# Scale shape: one posexplode pass + a 64-row broadcast stats join; at
# 100 TB the stats agg is the only corpus-wide reduction.

SQ8_LEVELS = 255


def sq8_stats(vectors, id_col: str = "vec_id", vec_col: str = "embedding"):
    """(dim, lo, hi): per-dimension corpus min/max — the whole trained
    state of the scalar quantizer (two doubles per dim)."""
    rows = vectors.select(F.posexplode(vec_col).alias("dim", "_v"))
    return rows.groupBy("dim").agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi")
    )


def sq8_quantize_rows(
    vectors, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """(vec_id, dim, code): int8-range codes in long form (the
    gate-checkable exchange format, like the X187 hashed rows)."""
    rows = vectors.select(
        F.col(id_col), F.posexplode(vec_col).alias("dim", "_v")
    )
    stats = sq8_stats(vectors, id_col, vec_col)
    return rows.join(F.broadcast(stats), "dim").select(
        id_col,
        F.col("dim").cast("long").alias("dim"),
        F.expr(
            f"CAST(CASE WHEN hi = lo THEN 0 ELSE "
            f"least(floor((_v - lo) * {SQ8_LEVELS}.0D / (hi - lo)), "
            f"{SQ8_LEVELS}.0D) END AS BIGINT)"
        ).alias("code"),
    )


def sql_sq8_quantize_rows(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror — scalar generate_series inside list_transform is
    the ordinality idiom this DuckDB supports (no WITH ORDINALITY, no
    lateral column args to the table function); 1-based indexing maps
    to posexplode's 0-based dim; same IEEE op order, floor, least."""
    return f"""
WITH r AS MATERIALIZED (
    SELECT {id_col}, s.d AS dim, s.v AS v FROM (
        SELECT {id_col},
               unnest(list_transform(generate_series(1, len({vec_col})),
                   i -> struct_pack(
                       d := CAST(i - 1 AS BIGINT),
                       v := {vec_col}[CAST(i AS INTEGER)]))) AS s
        FROM {table})
),
stats AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM r GROUP BY 1)
SELECT r.{id_col}, r.dim,
       CAST(CASE WHEN s.hi = s.lo THEN 0 ELSE
            least(floor((r.v - s.lo) * {SQ8_LEVELS}.0::DOUBLE / (s.hi - s.lo)),
                  {SQ8_LEVELS}.0::DOUBLE) END AS BIGINT) AS code
FROM r JOIN stats s ON s.dim = r.dim
"""


# --- SQ8 serving (the int8 compression TIER, not just the codes) -------------
#
# Faiss ScalarQuantizer / Lucene int8-HNSW serve search from the codes:
# the query stays full precision, every database vector is DECODED from
# its int8 code and scored — asymmetric distance computation, SQ8
# flavor. To keep the tier oracle-exact (the r04/r09 integer doctrine:
# int sums are associative, float sums are not), this serving form runs
# over the QUANTIZED int vectors (kmeans.quantize, the same 2^20-unit
# grid every PQ/IVF leg uses) and decodes with an INTEGER midpoint:
#
#   code_d = (v_d - lo_d) * 255 div (hi_d - lo_d)      (0..255, ints)
#   dec_d  = lo_d + ((2*code_d + 1) * (hi_d - lo_d)) div 510
#
# dec_d is the floor of the textbook midpoint reconstruction
# lo + (code+0.5)*step (step = (hi-lo)/255) on the quant grid — the
# flooring error is < 1 quant unit (2^-20 of a coordinate) against an
# SQ8 step of ~thousands of units, i.e. noise ~1e-4 of the code error,
# and it buys bit-exact cross-engine distances: every numerator above
# is non-negative (lo/hi are per-dim min/max), so Spark `div`, DuckDB
# `//` and numpy `//` all agree, and d2 = Σ (q_d - dec_d)² stays well
# inside int64 (|q - dec| ≤ hi - lo ≤ ~2^21 ⇒ d2 ≤ 64·2^42 < 2^48).
#
# Scale shape: the 128-value (lo, hi) table is the WHOLE trained state
# (one corpus agg, collected driver-side — bounded); serving is one
# kernel pass over the codes with the panel in the closure — same
# budget class as brute_force_l2_panel, and the leg that measures what
# the 4× (vs float32) compression costs in recall.


# (cache_key, base-plan hash) -> stats rows: the r05 trained-state
# doctrine (codebooks / coarse centroids precedent) — quantizer stats
# are an ARTIFACT, not per-query work; queries sharing a corpus share
# one stats agg per process, and `maintain sq8-stats` is the cross-run
# form. The PLAN hash rides in the key (the r11 semanticHash rule):
# cache_key alone would be first-caller-wins — a caller training on a
# filtered SUBSET under the corpus key would poison every full-corpus
# consumer's codes with subset stats, an oracle mismatch far from the
# cause. Driver-side ints: immune to release_storage, deterministic ⇒
# oracle hashes fixed.
_SQ8_STATS_CACHE: dict = {}


def sq8_int_stats(
    base: DataFrame, cache_key: str | None = None
) -> list[tuple[int, int, int]]:
    """(dim, lo, hi) over the QUANTIZED int vectors — the trained state
    of the serving-tier quantizer (two int64 per dim; the float-side
    sq8_stats/sq8_quantize_rows remain the X211 code-artifact form).
    Driver-side collect is bounded: one row per dimension."""
    from mimic2ts_spark.operators.dupguard import _plan_digest

    if cache_key is not None:
        digest = _plan_digest(base)
        # a None digest must BYPASS the cache (compute, don't store) —
        # (cache_key, None) would collide two different base plans under
        # one corpus key, the first-caller-wins poisoning the plan-hash
        # component exists to prevent (ADVICE r12; memoized_count rule)
        cache_key = None if digest is None else (cache_key, digest)
    if cache_key is not None and cache_key in _SQ8_STATS_CACHE:
        return _SQ8_STATS_CACHE[cache_key]
    rows = (
        base.select(F.posexplode("x").alias("dim", "_v"))
        .groupBy("dim")
        .agg(F.min("_v").alias("lo"), F.max("_v").alias("hi"))
        .collect()
    )
    out = sorted((int(r["dim"]), int(r["lo"]), int(r["hi"])) for r in rows)
    if cache_key is not None:
        _SQ8_STATS_CACHE[cache_key] = out
    return out


def save_sq8_stats(stats: list[tuple[int, int, int]], path: str) -> None:
    """Persist the serving-tier quantizer state (dim, lo, hi int64
    triples + the quant grid) as a JSON artifact — the `maintain
    sq8-stats` twin of save_codebooks: at real scale the stats agg runs
    once per corpus version, and serving loads the artifact instead of
    re-reducing 100 TB for 128 numbers."""
    import json

    from mimic2ts_spark.operators.kmeans import QUANT

    with open(path, "w") as f:
        json.dump({"quant": QUANT, "dims": [list(s) for s in stats]}, f)


def load_sq8_stats(path: str) -> list[tuple[int, int, int]]:
    import json

    from mimic2ts_spark.operators.kmeans import QUANT

    with open(path) as f:
        obj = json.load(f)
    if obj["quant"] != QUANT:
        raise ValueError(
            f"sq8 stats artifact trained on quant grid {obj['quant']}, "
            f"engine uses {QUANT} — retrain the artifact"
        )
    return [tuple(s) for s in obj["dims"]]


def sq8_l2_panel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: list[tuple[int, int, int]] | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """SQ8-served L2 top-k per panel query: every corpus vector is
    encoded to per-dim int8 codes and DECODED (integer midpoint, header
    comment) inside one kernel pass; the panel queries score at full
    quant precision against the decoded values — the asymmetric
    int8 serving tier beside IVF / IVF-PQ / graph. Integer-exact end to
    end, per-query top-k as a WindowGroupLimit. `stats` swaps in a
    persisted artifact (`maintain sq8-stats` / load_sq8_stats) for the
    corpus-wide agg — artifact-served results are identical by
    construction (deterministic stats; pytest-pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    base = _quant_base(vectors, id_col, vec_col)
    if stats is None:
        stats = sq8_int_stats(base, cache_key=cache_key)
    lo = np.array([s[1] for s in stats], dtype=np.int64)
    hi = np.array([s[2] for s in stats], dtype=np.int64)
    rng = hi - lo
    safe = np.maximum(rng, 1)  # hi == lo dims: code 0, dec == lo

    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    q_ids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    Q = np.array([[int(v) for v in r["qx"]] for r in q_rows], dtype=np.int64)
    q_norm = (Q * Q).sum(axis=1)

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.minimum((X - lo[None, :]) * 255 // safe[None, :], 255)
            D_ = lo[None, :] + (2 * C + 1) * rng[None, :] // 510
            d_norm = (D_ * D_).sum(axis=1)
            D = d_norm[:, None] + q_norm[None, :] - 2 * (D_ @ Q.T)
            qi, ni = np.meshgrid(np.arange(len(q_ids)), np.arange(len(ids)))
            keep = q_ids[qi.ravel()] != ids[ni.ravel()]
            yield _batch_topk(
                pd.DataFrame(
                    {
                        "query_id": q_ids[qi.ravel()][keep],
                        "neighbor_id": ids[ni.ravel()][keep],
                        "d2": D[ni.ravel(), qi.ravel()][keep],
                    }
                ),
                k,
                "d2",
            )

    scored = base.mapInPandas(
        score, schema="query_id long, neighbor_id long, d2 long"
    )
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def sql_sq8_l2_panel(
    nq: int,
    k: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Mirror of sq8_l2_panel: same quant grid, same integer code and
    midpoint decode (all floor divisions on non-negative numerators, so
    `//` == Spark div == numpy), per-dim join form so the int64 sum
    order is free (associative)."""
    base = f"(SELECT {id_col} AS vec_id, {_sql_quant(vec_col)} AS x FROM {table})"
    return f"""
WITH qb AS MATERIALIZED (
    SELECT vec_id, s.d AS dim, s.v AS v FROM (
        SELECT vec_id,
               unnest(list_transform(generate_series(1, len(x)),
                   i -> struct_pack(d := CAST(i - 1 AS BIGINT),
                                    v := x[CAST(i AS INTEGER)]))) AS s
        FROM {base} b)
),
st AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM qb GROUP BY 1),
dec AS MATERIALIZED (
    SELECT qb.vec_id, qb.dim,
           st.lo + (2 * (CASE WHEN st.hi = st.lo THEN 0
                         ELSE (qb.v - st.lo) * 255 // (st.hi - st.lo) END)
                    + 1) * (st.hi - st.lo) // 510 AS xh
    FROM qb JOIN st USING (dim)
),
qr AS (SELECT vec_id, dim, v FROM qb WHERE vec_id < {nq}),
sq8_scored AS (
    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
           CAST(sum((q.v - d.xh) * (q.v - d.xh)) AS BIGINT) AS d2
    FROM qr q JOIN dec d ON d.dim = q.dim AND d.vec_id <> q.vec_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, d2 FROM (
    SELECT query_id, neighbor_id, d2,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY d2, neighbor_id) AS rn
    FROM sq8_scored
) WHERE rn <= {k}
"""


# --- X218: 1-bit binary quantization (BQ) serving tier ----------------------
#
# The bottom rung of the quantization ladder (PQ X119 / SQ8 X212 / BQ
# here — the Faiss binary / Lucene BQ tier): one SIGN bit per dimension,
# 64 dims packed into two 32-bit integer lanes, candidate ranking by
# Hamming distance. For UNIT vectors (the corpus contract — the shipped
# embeddings have norm exactly 1.0) sign-bit agreement estimates the
# ANGLE (Charikar hyperplane sketch with the identity rotation), so the
# metric-matched exact reference is the cosine top-k panel.
#
# Engine posture: packing is a per-lane integer FOLD over a slice of the
# source column (acc*2 + sign bit — no shiftleft-by-column, which Spark
# lacks; the MSB-first fold is bit-identical to DuckDB's list_reduce
# scalar fold, parity-tested), Hamming is bit_count(xor) per lane — all
# whole-stage-codegen JVM expressions, no kernel, no broadcast hint. At
# 100 TB this is the cheap linear-scan tier: 8 bytes/vector (64× smaller
# than float64 coords), one scan, per-query WindowGroupLimit top-k; the
# panel side rides each corpus row as ONE parsed literal array (the r06
# py4y-roundtrip rule), so the plan stays scan → project → window.

BQ_DIM = 64      # corpus dimensionality contract (embeddings tables)
BQ_LANE = 32     # bits per packed lane (two lanes cover BQ_DIM)


def _bq_lane(vec_col: str, lane: int):
    """MSB-first sign fold of dims [lane*32, lane*32+32) into one long:
    acc*2 + (x > 0). The fold over a SLICE of a plain source column is
    a single interpreted pass per row — no element_at-in-HOF
    re-evaluation (the r01 trap needs a derived array expression)."""
    return F.aggregate(
        F.slice(F.col(vec_col), lane * BQ_LANE + 1, BQ_LANE),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2)
        + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def bq_codes(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, b0, b1): the packed 64-bit sign sketch, two 32-bit
    lanes. 8 bytes of index state per vector — the persisted-artifact
    form is just this table."""
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        _bq_lane(vec_col, 0).alias("b0"),
        _bq_lane(vec_col, 1).alias("b1"),
    )


def _bq_hamming_from_codes(codes: DataFrame, q_rows: list, k: int) -> DataFrame:
    """Core Hamming top-k over an ALREADY-PACKED (vec_id, b0, b1) codes
    relation — shared by the scan form (bq_hamming_panel) and artifact
    serving (serve_bq_artifact), so the two are bit-identical by
    construction."""
    from pyspark.sql import Window as W

    qlit = F.expr(
        "array("
        + ",".join(
            f"struct({int(r['vec_id'])}L as query_id, "
            f"{int(r['b0'])}L as q0, {int(r['b1'])}L as q1)"
            for r in q_rows
        )
        + ")"
    )
    scored = (
        codes.select("vec_id", "b0", "b1", F.explode(qlit).alias("q"))
        .where(F.col("q.query_id") != F.col("vec_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("b0").bitwiseXOR(F.col("q.q0")))
                + F.bit_count(F.col("b1").bitwiseXOR(F.col("q.q1")))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _bq_q_rows(queries: DataFrame, id_col: str, vec_col: str) -> list:
    """Panel-side packed codes, collected driver-side (panel-sized, the
    documented bounded pattern sq8_l2_panel set); they re-enter the plan
    as ONE parsed literal struct array (the r06 py4j-roundtrip rule)."""
    return (
        bq_codes(queries, id_col=id_col, vec_col=vec_col)
        .orderBy("vec_id")
        .collect()
    )


def bq_hamming_panel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, hamming): BQ-served top-k per panel
    query — Hamming over the packed sign sketches, ties ascending
    neighbor id; the only wide operation is the per-query
    WindowGroupLimit."""
    return _bq_hamming_from_codes(
        bq_codes(vectors, id_col=id_col, vec_col=vec_col),
        _bq_q_rows(queries, id_col, vec_col),
        k,
    )


def sql_bq_lane(vec_col: str, lane: int) -> str:
    lo, hi = lane * BQ_LANE + 1, lane * BQ_LANE + BQ_LANE
    return (
        f"list_reduce(list_transform({vec_col}[{lo}:{hi}], "
        "x -> CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        "(a, b) -> a * 2 + b)"
    )


def sql_bq_hamming_panel(
    nq: int,
    k: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Mirror of bq_hamming_panel: DuckDB's init-less list_reduce seeds
    with the first element, which equals Spark's 0-seeded fold
    (0*2 + b1 = b1) — parity-tested bit-exact."""
    return f"""
SELECT query_id, neighbor_id, hamming FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           CAST(bit_count(xor(c.b0, q.q0)) + bit_count(xor(c.b1, q.q1))
                AS BIGINT) AS hamming,
           row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY bit_count(xor(c.b0, q.q0))
                        + bit_count(xor(c.b1, q.q1)), c.vec_id) AS rn
    FROM (SELECT {id_col} AS vec_id, {sql_bq_lane(vec_col, 0)} AS b0,
                 {sql_bq_lane(vec_col, 1)} AS b1 FROM {table}) c
    CROSS JOIN (SELECT {id_col} AS query_id,
                       {sql_bq_lane(vec_col, 0)} AS q0,
                       {sql_bq_lane(vec_col, 1)} AS q1
                FROM {table} WHERE {id_col} < {nq}) q
    WHERE c.vec_id <> q.query_id
) WHERE rn <= {k}
"""


BQ_RESCORE_CAND = 64  # Hamming candidates per query before exact rescore


def bq_rescore_panel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    cand: int = BQ_RESCORE_CAND,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cands: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, d2): the PRACTICAL BQ serving shape —
    Hamming top-`cand` candidate generation over the 8-byte sign
    sketches, then an exact quantized-int-L2 rescore of only those
    candidates (how Lucene/Faiss deploy binary quantization: the sketch
    prunes, full precision ranks). Scale shape: the corpus is touched
    ONCE by the bit_count scan; the rescore runs on |panel|·cand rows —
    the panel coordinates ride in as one parsed literal map (the r06
    single-F.expr rule) and the candidate→coordinate join is small
    enough for AQE's runtime broadcast, no explicit hint (the
    panel-eval broadcast-boundedness pin stays trivially green).
    Integer-exact end to end; candidate-boundary ties break
    (hamming, neighbor_id) ascending on both engines. Pass `cands`
    (a (query_id, neighbor_id) top-`cand` Hamming relation, e.g. a
    persisted bq_hamming_panel the caller also serves the raw leg
    from) to skip the candidate scan — q_ann_recall shares ONE packed
    scan between its bq and bq_rescore legs this way."""
    if cands is None:
        cands = bq_hamming_panel(
            vectors, queries, cand, id_col=id_col, vec_col=vec_col
        ).select("query_id", "neighbor_id")
    else:
        cands = cands.select("query_id", "neighbor_id")
    return _bq_rescore_candidates(
        cands, vectors, queries, k, id_col=id_col, vec_col=vec_col
    )


def _bq_rescore_candidates(
    cands: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact quantized-int-L2 rescore of a (query_id, neighbor_id)
    candidate relation — the shared second stage of bq_rescore_panel
    and artifact serving."""
    from pyspark.sql import Window as W

    from mimic2ts_spark.operators.kmeans import quantize

    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    qmap = F.expr(
        "map("
        + ",".join(
            f"{int(r['vec_id'])}L, array("
            + ",".join(f"{int(v)}L" for v in r["qx"])
            + ")"
            for r in q_rows
        )
        + ")"
    )
    base = vectors.select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("x")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("x"), F.element_at(qmap, F.col("query_id")),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = cands.join(base, "neighbor_id").select(
        "query_id", "neighbor_id", d2.alias("d2")
    )
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def sql_bq_rescore_panel(
    nq: int,
    k: int,
    cand: int = BQ_RESCORE_CAND,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Mirror of bq_rescore_panel: identical candidate chain, identical
    quant grid and integer L2 fold, identical tie-breaks."""
    from mimic2ts_spark.operators.kmeans import _sql_quant

    inner = sql_bq_hamming_panel(
        nq, cand, table=table, id_col=id_col, vec_col=vec_col
    )
    return f"""
SELECT query_id, neighbor_id, d2 FROM (
    SELECT c.query_id, c.neighbor_id,
           CAST(list_aggregate(list_transform(generate_series(1, len(nb.x)),
                i -> (nb.x[i] - qq.x[i]) * (nb.x[i] - qq.x[i])), 'sum')
                AS BIGINT) AS d2,
           row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY list_aggregate(list_transform(
                            generate_series(1, len(nb.x)),
                            i -> (nb.x[i] - qq.x[i]) * (nb.x[i] - qq.x[i])),
                        'sum'), c.neighbor_id) AS rn
    FROM ({inner}) c
    JOIN (SELECT {id_col} AS vec_id, {_sql_quant(vec_col)} AS x
          FROM {table}) nb ON nb.vec_id = c.neighbor_id
    JOIN (SELECT {id_col} AS vec_id, {_sql_quant(vec_col)} AS x
          FROM {table} WHERE {id_col} < {nq}) qq ON qq.vec_id = c.query_id
) WHERE rn <= {k}
"""


# --- X218 artifact: persisted BQ codes (the 8-byte index state) -------------

BQ_META = "_bq_meta.json"


def build_bq_artifact(
    spark,
    out_dir: str,
    src: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist the packed sign sketch as the standing BQ index
    (`maintain bq-codes`): 8 bytes of state per vector, rebuilt only
    when the corpus changes (appends are row-local — new codes append,
    nothing rescores, unlike the graph artifact). Deterministic pack ⇒
    artifact-served results bit-equal the scan form (pytest-pinned)."""
    import json
    import os

    codes = bq_codes(src, id_col=id_col, vec_col=vec_col)
    os.makedirs(out_dir, exist_ok=True)
    codes.repartition(1).sortWithinPartitions("vec_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "codes"))
    n = spark.read.parquet(os.path.join(out_dir, "codes")).count()
    meta = {"n": n, "dim": BQ_DIM, "lanes": 2, "lane_bits": BQ_LANE}
    with open(os.path.join(out_dir, BQ_META), "w") as f:
        json.dump(meta, f)
    return meta


def serve_bq_artifact(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int,
    src: DataFrame | None = None,
    cand: int = BQ_RESCORE_CAND,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k from the persisted BQ codes without re-packing the corpus
    — the index read is 8 bytes/vector instead of the 512-byte float64
    coordinates. Hamming-only when `src` is None; with `src` (the raw
    vector table) the deployed two-stage shape runs: Hamming top-`cand`
    candidates from the artifact, exact quantized-int-L2 rescore
    against `src` coordinates fetched for candidates only.

    `allowed` (a one-column id relation, X221) semi-joins the STORED
    codes BEFORE the Hamming cut — the artifact-served filtered form:
    the cut always ranks allowed survivors (never a post-filter), and
    the filter prunes the 8-byte scan itself."""
    import os

    codes = memo.read_parquet(spark, os.path.join(out_dir, "codes"))
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias("vec_id"))
        codes = codes.join(ids, "vec_id", "left_semi")
    q_rows = _bq_q_rows(queries, id_col, vec_col)
    if src is None:
        return _bq_hamming_from_codes(codes, q_rows, k)
    cands = _bq_hamming_from_codes(codes, q_rows, cand).select(
        "query_id", "neighbor_id"
    )
    return _bq_rescore_candidates(
        cands, src, queries, k, id_col=id_col, vec_col=vec_col
    )


def append_bq_artifact(
    spark,
    out_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Insert a NEW-ids delta batch into the persisted BQ index at
    O(delta) cost: the sign pack is ROW-LOCAL (each code is a pure
    function of its own vector), so delta codes append and NOTHING
    rescores or rewrites — append-then-serve bit-equals a from-scratch
    rebuild by construction (pytest-pinned; contrast the knn-graph
    append, whose reverse edges must rescore). Single-writer layout
    like every versioned/maintained artifact.

    IDEMPOTENT on redelivery (ADVICE r11): the NEW-ids contract is
    ENFORCED, not documented — delta ids already present in the stored
    codes are anti-joined away before the append (one slim scan of the
    8-byte/row codes table), so a failed-then-rerun streaming ingest
    (X220's foreachBatch makes redelivery realistic) or an
    overlapping-id delta appends nothing twice. A duplicated code row
    would otherwise occupy two of the k Hamming slots in served top-k,
    silently displacing a real neighbor.

    r14: audit `n` is meta-incremental (the ADVICE r12 rule — the old
    full recount made every microbatch O(index)) and crash-consistent
    via the pending_delta marker protocol (_load_codes_meta_reconciled,
    VERDICT r13 #4)."""
    import os

    meta = _load_codes_meta_reconciled(spark, out_dir, BQ_META)
    codes_path = os.path.join(out_dir, "codes")
    stored_ids = spark.read.parquet(codes_path).select("vec_id")
    codes = (
        bq_codes(delta, id_col=id_col, vec_col=vec_col)
        # within-batch dedupe: a delta carrying the same new id twice
        # must append ONE code row (deterministic struct-min pick;
        # identical rows pack identically, so a no-op on well-formed
        # deltas) — the anti-join below only covers STORED ids
        .groupBy("vec_id")
        .agg(F.min(F.struct("b0", "b1")).alias("_s"))
        .select("vec_id", F.col("_s.b0").alias("b0"), F.col("_s.b1").alias("b1"))
        .join(stored_ids, "vec_id", "left_anti")
        # settle the pack AND the stored-ids scan before the append
        # touches the directory being read
        .localCheckpoint(eager=True)
    )
    n_new = codes.count()
    if n_new:
        # marker BEFORE the append (kill-between window self-heals)
        _write_codes_meta(
            out_dir, BQ_META, {**meta, "pending_delta": n_new}
        )
        codes.write.mode("append").parquet(codes_path)
    meta["n"] = int(meta["n"]) + n_new
    _write_codes_meta(out_dir, BQ_META, meta)
    return {"n": meta["n"], "delta": n_new}


def _write_codes_meta(out_dir: str, meta_file: str, meta: dict) -> None:
    import json
    import os

    path = os.path.join(out_dir, meta_file)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


def _load_codes_meta_reconciled(
    spark, out_dir: str, meta_file: str, subdir: str = "codes"
) -> dict:
    """Load a flat-codes artifact's audit meta, healing a
    crash-interrupted append (VERDICT r13 #4): appends write the meta
    FIRST with a `pending_delta` marker, append the codes, then clear
    the marker — all three meta writes atomic (tmp + os.replace). A
    leftover marker therefore means a crash landed between the marker
    and the final meta, i.e. the parquet append may or may not have
    completed; the audit `n` is re-derived from ONE cheap count() of
    the slim codes table and the marker cleared (reconcile-on-marker).
    The normal path reads the JSON and runs NO job, preserving the
    ADVICE r12 O(delta)-per-microbatch contract."""
    import json
    import os

    path = os.path.join(out_dir, meta_file)
    with open(path) as f:
        meta = json.load(f)
    if "pending_delta" in meta:
        meta.pop("pending_delta", None)
        meta["n"] = spark.read.parquet(
            os.path.join(out_dir, subdir)
        ).count()
        _write_codes_meta(out_dir, meta_file, meta)
    return meta


# --- X226 artifact: persisted SQ8 codes (the 64-byte index state) -----------
#
# Completes the quantized-serving ladder's ARTIFACT symmetry: BQ serves
# from stored 8-byte packs (X218), IVF from cid-partitioned postings
# (X222) — SQ8 alone re-encoded the float corpus on every panel call.
# The stored state is (vec_id, c: array<int>) — the EXACT per-dim codes
# the sq8_l2_panel kernel derives, so artifact-served results bit-equal
# the scan form by construction — plus the stats JSON (`maintain
# sq8-stats` format) that gives the codes meaning. At 100 TB the serve
# scan reads 64 small ints/vector instead of 512 bytes of float64
# coordinates (parquet bit-packs the 8-bit range), and the quantizer
# stats are FROZEN artifact hyper-state (the r10 rule: versioned into
# the artifact, never retrained by an append or a filter — retraining
# would silently change every stored code's meaning).

SQ8_META = "_sq8_meta.json"
SQ8_STATS_FILE = "stats.json"


def _sq8_arrays(stats: list[tuple[int, int, int]]):
    import numpy as np

    lo = np.array([s[1] for s in stats], dtype=np.int64)
    hi = np.array([s[2] for s in stats], dtype=np.int64)
    rng = hi - lo
    safe = np.maximum(rng, 1)  # hi == lo dims: code 0, dec == lo
    return lo, rng, safe


def sq8_encode_codes(
    base: DataFrame, stats: list[tuple[int, int, int]]
) -> DataFrame:
    """(vec_id, c): per-dim SQ8 codes of a _quant_base relation under
    FIXED stats — the identical `np.minimum((X - lo) * 255 // safe,
    255)` expression the sq8_l2_panel kernel evaluates inline, factored
    out so the stored artifact and the scan form can never diverge.
    (No low-side clamp, exactly like the kernel: stats trained on the
    covering corpus make negative numerators impossible; a frozen-stats
    append of an out-of-range vector stores the kernel's value, keeping
    served == scan-form-under-the-same-stats true unconditionally.)"""
    import numpy as np
    import pandas as pd

    lo, _rng, safe = _sq8_arrays(stats)

    def encode(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["x"]), dtype=np.int64)
            C = np.minimum((X - lo[None, :]) * 255 // safe[None, :], 255)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                 "c": list(C)}
            )

    return base.mapInPandas(encode, schema="vec_id long, c array<long>")


def build_sq8_artifact(
    spark,
    out_dir: str,
    src: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
) -> dict:
    """Persist the SQ8 index (`maintain sq8-codes`): quantizer stats
    trained ONCE on the full src (bounded driver state, 2 ints/dim) +
    the encoded codes table. Deterministic stats + the shared encode
    expression ⇒ artifact-served results bit-equal sq8_l2_panel on the
    same corpus (pytest-pinned)."""
    import json
    import os

    from mimic2ts_spark.operators.kmeans import QUANT

    base = _quant_base(src, id_col, vec_col)
    # cache_key shares the (deterministic) stats agg with scan-form
    # queries of the same corpus — the r05 trained-state memo rule;
    # the persisted artifact is identical either way
    stats = sq8_int_stats(base, cache_key=cache_key)
    os.makedirs(out_dir, exist_ok=True)
    save_sq8_stats(stats, os.path.join(out_dir, SQ8_STATS_FILE))
    sq8_encode_codes(base, stats).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codes")
    )
    n = spark.read.parquet(os.path.join(out_dir, "codes")).count()
    meta = {"n": n, "dim": len(stats), "quant": QUANT}
    with open(os.path.join(out_dir, SQ8_META), "w") as f:
        json.dump(meta, f)
    return meta


def serve_sq8_artifact(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, d2): asymmetric SQ8 top-k served FROM
    the persisted codes — no corpus re-encode, no stats re-agg: the
    panel queries quantize driver-side, the stored codes decode with
    the artifact's integer-midpoint expression inside one kernel pass,
    and the per-query top-k cuts as a WindowGroupLimit. Bit-equals
    sq8_l2_panel(src, queries, k, stats=artifact stats) because the
    stored codes ARE the kernel's intermediate (sq8_encode_codes).

    `allowed` (one-column id relation) semi-joins the CODES before the
    cut — the X221 pre-cut doctrine on the stored-codes scan (the
    filter prunes the 64-byte rows themselves; a post-filter of a fixed
    top-k is never executed), mirroring serve_bq_artifact(allowed=…).
    The stats stay the artifact's full-corpus state: a filter never
    retrains the quantizer."""
    import os

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    stats = load_sq8_stats(os.path.join(out_dir, SQ8_STATS_FILE))
    lo, rng, _safe = _sq8_arrays(stats)

    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    q_ids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    Q = np.array([[int(v) for v in r["qx"]] for r in q_rows], dtype=np.int64)
    q_norm = (Q * Q).sum(axis=1)

    codes = memo.read_parquet(spark, os.path.join(out_dir, "codes"))
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias("vec_id"))
        codes = codes.join(ids, "vec_id", "left_semi")

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            C = np.array(list(pdf["c"]), dtype=np.int64)
            ids_ = pdf["vec_id"].to_numpy(dtype=np.int64)
            D_ = lo[None, :] + (2 * C + 1) * rng[None, :] // 510
            d_norm = (D_ * D_).sum(axis=1)
            D = d_norm[:, None] + q_norm[None, :] - 2 * (D_ @ Q.T)
            qi, ni = np.meshgrid(np.arange(len(q_ids)), np.arange(len(ids_)))
            keep = q_ids[qi.ravel()] != ids_[ni.ravel()]
            yield _batch_topk(
                pd.DataFrame(
                    {
                        "query_id": q_ids[qi.ravel()][keep],
                        "neighbor_id": ids_[ni.ravel()][keep],
                        "d2": D[ni.ravel(), qi.ravel()][keep],
                    }
                ),
                k,
                "d2",
            )

    scored = codes.mapInPandas(
        score, schema="query_id long, neighbor_id long, d2 long"
    )
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def append_sq8_artifact(
    spark,
    out_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Grow the persisted SQ8 index at O(delta) cost: the delta encodes
    against the STORED stats (frozen artifact hyper-state — never
    retrained; the codes' meaning must not move under an append) and
    appends. IDEMPOTENT on redelivery like the BQ/IVF appends (ADVICE
    r11 contract): within-batch duplicates collapse deterministically,
    already-stored ids anti-join away — a replayed foreachBatch
    microbatch appends 0 rows. Audit count is incremental via the meta
    (the ADVICE r12 rule: never an O(index) rescan per microbatch) and
    CRASH-CONSISTENT via the pending_delta marker protocol
    (_load_codes_meta_reconciled, VERDICT r13 #4; kill-between
    pytest-pinned)."""
    import os

    meta = _load_codes_meta_reconciled(spark, out_dir, SQ8_META)
    stats = load_sq8_stats(os.path.join(out_dir, SQ8_STATS_FILE))
    codes_path = os.path.join(out_dir, "codes")
    stored_ids = spark.read.parquet(codes_path).select("vec_id")
    rows = (
        sq8_encode_codes(_quant_base(delta, id_col, vec_col), stats)
        # identical input rows encode identically under fixed stats, so
        # the struct-min pick is a no-op on well-formed deltas
        .groupBy("vec_id")
        .agg(F.min(F.struct("c")).alias("_s"))
        .select("vec_id", F.col("_s.c").alias("c"))
        .join(stored_ids, "vec_id", "left_anti")
        # settle the encode AND the stored-ids scan before the append
        # touches the directory being read
        .localCheckpoint(eager=True)
    )
    n_new = rows.count()
    if n_new:
        # marker BEFORE the append: a crash in the window leaves the
        # marker behind and the next meta load reconciles n by count
        _write_codes_meta(
            out_dir, SQ8_META, {**meta, "pending_delta": n_new}
        )
        rows.write.mode("append").parquet(codes_path)
    meta["n"] = int(meta["n"]) + n_new
    _write_codes_meta(out_dir, SQ8_META, meta)
    return {"n": meta["n"], "delta": n_new}


# --- X230 artifact: persisted PQ codes (the 4-int/vector ADC index) ---------
#
# The codebooks were already maintained table state (`maintain
# codebook`, r05 doctrine) but the CODES were not: pq_adc_topk re-ran
# the encode kernel over the FLOAT corpus on every call, so serving
# still paid a full 512-byte/vector scan. Storing (vec_id,
# code_0..code_{M-1}) — 4 small ints/vector here, the Faiss IVFADC
# posture — lets ADC answer from the codes alone: the per-query
# distance is Σ_m T_m[code_m] with the M×K tables computed driver-side
# from the loaded codebooks (integer math end to end, bit-exact).
# Codebooks are FROZEN artifact hyper-state exactly like SQ8's stats
# (X226): an append encodes under the stored books — retraining would
# silently change every stored code's meaning.

PQ_CODES_META = "_pq_meta.json"
PQ_BOOKS_FILE = "codebooks.json"


def _pq_adc_panel_from_codes(
    codes: DataFrame,
    queries: DataFrame,
    books,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist2, rank): panel ADC top-k over a
    pre-encoded codes relation. The panel quantizes driver-side; per
    subspace the (nq × K) distance table T_m = |q_m|² + |c|² − 2 q_m·c
    is exact int64, and the kernel's lookup D = Σ_m T_m[:, pos(code_m)]
    is pure integer table arithmetic — bit-equal to the literal-map
    _adc_expr form. Ties rank ascending neighbor id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    cids, mats = _books_np(books)
    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    q_ids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    Q = np.array([[int(v) for v in r["qx"]] for r in q_rows], dtype=np.int64)
    tables = []
    for m in range(PQ_M):
        Qm = Q[:, m * PQ_SUB:(m + 1) * PQ_SUB]
        T = (
            (Qm * Qm).sum(axis=1)[:, None]
            + (mats[m] * mats[m]).sum(axis=1)[None, :]
            - 2 * (Qm @ mats[m].T)
        )
        tables.append(T)

    code_cols = [f"code_{m}" for m in range(PQ_M)]

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids_ = pdf["vec_id"].to_numpy(dtype=np.int64)
            D = np.zeros((len(q_ids), len(ids_)), dtype=np.int64)
            for m in range(PQ_M):
                pos = np.searchsorted(
                    cids[m], pdf[code_cols[m]].to_numpy(dtype=np.int64)
                )
                D += tables[m][:, pos]
            qi, ni = np.meshgrid(np.arange(len(q_ids)), np.arange(len(ids_)))
            keep = q_ids[qi.ravel()] != ids_[ni.ravel()]
            yield _batch_topk(
                pd.DataFrame(
                    {
                        "query_id": q_ids[qi.ravel()][keep],
                        "neighbor_id": ids_[ni.ravel()][keep],
                        "adc_dist2": D[qi.ravel(), ni.ravel()][keep],
                    }
                ),
                k,
                "adc_dist2",
            )

    scored = codes.select("vec_id", *code_cols).mapInPandas(
        score, schema="query_id long, neighbor_id long, adc_dist2 long"
    )
    w = W.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def pq_adc_panel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    cache_key: str | None = None,
) -> DataFrame:
    """Scan-form panel ADC (encode inline, then the shared table
    kernel) — the twin serve_pq_artifact is pinned bit-equal to."""
    if codebooks is None:
        codebooks = train_codebooks(vectors, id_col, vec_col, cache_key)
    codes = _assign_all(_quant_base(vectors, id_col, vec_col), codebooks)
    return _pq_adc_panel_from_codes(
        codes, queries, codebooks, k, id_col=id_col, vec_col=vec_col
    )


def build_pq_artifact(
    spark,
    out_dir: str,
    src: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
) -> dict:
    """Persist the PQ index (`maintain pq-codes`): codebooks JSON (the
    existing save_codebooks artifact format) + the encoded codes table.
    Deterministic training + the shared argmin tie discipline ⇒
    artifact-served ADC bit-equals the scan form (pytest-pinned)."""
    import json
    import os

    # cache_key shares the (deterministic) codebook training with
    # scan-form queries of the same corpus (r05 trained-state memo
    # rule); the persisted artifact is identical either way
    books = train_codebooks(src, id_col, vec_col, cache_key)
    os.makedirs(out_dir, exist_ok=True)
    save_codebooks(books, os.path.join(out_dir, PQ_BOOKS_FILE))
    (
        _assign_all(_quant_base(src, id_col, vec_col), books)
        .select("vec_id", *[f"code_{m}" for m in range(PQ_M)])
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "codes"))
    )
    n = spark.read.parquet(os.path.join(out_dir, "codes")).count()
    meta = {"n": n, "m": PQ_M, "k": PQ_K, "sub": PQ_SUB}
    with open(os.path.join(out_dir, PQ_CODES_META), "w") as f:
        json.dump(meta, f)
    return meta


def serve_pq_artifact(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist2, rank): ADC top-k served FROM
    the persisted PQ codes — no corpus re-encode, no retrain: the float
    corpus is never touched (the panel quantizes driver-side, distances
    come from the stored 4-int rows + driver-side tables). `allowed`
    semi-joins the stored codes BEFORE the cut (the X221 pre-cut
    doctrine); the codebooks stay the artifact's full-corpus state — a
    filter never retrains."""
    import os

    books = load_codebooks(os.path.join(out_dir, PQ_BOOKS_FILE))
    codes = memo.read_parquet(spark, os.path.join(out_dir, "codes"))
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias("vec_id"))
        codes = codes.join(ids, "vec_id", "left_semi")
    return _pq_adc_panel_from_codes(
        codes, queries, books, k, id_col=id_col, vec_col=vec_col
    )


def append_pq_artifact(
    spark,
    out_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Grow the persisted PQ index at O(delta) cost under the FROZEN
    stored codebooks (artifact hyper-state — never retrained by an
    append). Idempotent on redelivery like the BQ/SQ8/IVF appends:
    within-batch duplicates collapse deterministically, stored ids
    anti-join away; audit total is meta-incremental (ADVICE r12) and
    crash-consistent via the pending_delta marker protocol
    (_load_codes_meta_reconciled, VERDICT r13 #4)."""
    import os

    meta = _load_codes_meta_reconciled(spark, out_dir, PQ_CODES_META)
    books = load_codebooks(os.path.join(out_dir, PQ_BOOKS_FILE))
    codes_path = os.path.join(out_dir, "codes")
    stored_ids = spark.read.parquet(codes_path).select("vec_id")
    code_cols = [f"code_{m}" for m in range(PQ_M)]
    rows = (
        _assign_all(_quant_base(delta, id_col, vec_col), books)
        .select("vec_id", *code_cols)
        .groupBy("vec_id")
        .agg(F.min(F.struct(*code_cols)).alias("_s"))
        .select("vec_id", *[F.col(f"_s.{c}").alias(c) for c in code_cols])
        .join(stored_ids, "vec_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    n_new = rows.count()
    if n_new:
        # marker BEFORE the append (kill-between window self-heals)
        _write_codes_meta(
            out_dir, PQ_CODES_META, {**meta, "pending_delta": n_new}
        )
        rows.write.mode("append").parquet(codes_path)
    meta["n"] = int(meta["n"]) + n_new
    _write_codes_meta(out_dir, PQ_CODES_META, meta)
    return {"n": meta["n"], "delta": n_new}


def compact_codes_dir(
    spark, out_dir: str, subdir: str = "codes", max_files: int = 1,
    sort_cols: tuple = ("vec_id",),
) -> dict:
    """Compact a FLAT parquet artifact directory (BQ codes X218, SQ8
    codes X226) fragmented by appends — each batch/microbatch append
    adds one file, so a long-running ingest degrades the codes scan
    into a many-file listing (X229; the flat-layout twin of
    `ivf-compact`). No-op below `max_files` data files; otherwise the
    whole dir rewrites to ONE file, vec_id-sorted within it (parquet
    rowgroup min/max stats then serve id-pruned reads), through the
    crash-safe rename-aside swap: the staging and aside dirs are
    artifact-level SIBLINGS of the scanned directory (nothing ever
    inside it), a complete codes dir exists at every instant, and
    entry-time recovery restores an interrupted swap. Rows untouched —
    serving before == after bit-equal (pytest-pinned)."""
    import os
    import shutil

    codes_dir = os.path.join(out_dir, subdir)
    tmp = codes_dir + "._compacting"
    aside = codes_dir + "._old"
    # recovery (the _migrate_flat_postings invariants): live missing +
    # aside present → the promote never happened, restore; leftover
    # aside/tmp beside a live dir are safe to drop
    if not os.path.isdir(codes_dir) and os.path.isdir(aside):
        os.rename(aside, codes_dir)
    if os.path.isdir(aside):
        shutil.rmtree(aside)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    if not os.path.isdir(codes_dir):
        # ADVICE r13: a clean audit-path error instead of a raw
        # listdir traceback when the artifact was never built
        raise FileNotFoundError(
            f"codes artifact not found at {out_dir} (no {subdir}/ dir) — "
            "build it first (`maintain bq-codes`/`sq8-codes`/`pq-codes`)"
        )
    files = [
        e for e in os.listdir(codes_dir)
        if e.endswith(".parquet") and not e.startswith(("_", "."))
    ]
    if len(files) <= max_files:
        return {"files_before": len(files), "files_after": len(files),
                "compacted": False}
    (
        spark.read.parquet(codes_dir)
        .coalesce(1)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    os.rename(codes_dir, aside)
    os.rename(tmp, codes_dir)
    shutil.rmtree(aside)
    after = len([
        e for e in os.listdir(codes_dir)
        if e.endswith(".parquet") and not e.startswith(("_", "."))
    ])
    return {"files_before": len(files), "files_after": after,
            "compacted": True}


# --- X231 artifact: persisted IVF-PQ codes (the Faiss IVFADC layout) --------
#
# Completes the quantized-serving ARTIFACT matrix: BQ (X218), SQ8
# (X226), PQ (X230) and IVF (X222) all serve from persisted state, but
# the COMPOSED tier — IVF-PQ, the shape Faiss actually deploys at
# billion scale (inverted lists whose entries are residual PQ codes) —
# still re-trained/re-encoded per call. The artifact stores the three
# pieces of an IVFADC index exactly as the production systems do:
#   centroids.json   coarse cells (kmeans.save_centroids format)
#   codebooks.json   residual subspace codebooks (save_codebooks)
#   codes/cid=<c>/   (vec_id, code_0..code_{M-1}) parquet, PARTITIONED
#                    by coarse cell — a probe pushes a static
#                    In(cid, …) PARTITION filter and reads only its
#                    cells' files (the X222 listing story), and each
#                    row is M small ints (the X230 bytes story).
# Coarse centroids AND residual books are FROZEN artifact hyper-state
# (r10 rule): appends encode under the stored state — retraining either
# would silently change every stored code's meaning. Serving is
# bit-equal to the scan-form ivfpq_topk/_panel because the stored codes
# ARE the argmin assignments those kernels derive (same tie discipline,
# pytest-pinned + oracle-gated via q_ann_ivfpq's unchanged scan-form
# SQL).

IVFPQ_META = "_ivfpq_meta.json"
IVFPQ_CENTROIDS_FILE = "centroids.json"


def _ivfpq_state(out_dir: str):
    """(coarse, books) loaded from the artifact — bounded driver rows,
    no retrain, no corpus scan."""
    import os

    from mimic2ts_spark.operators.kmeans import load_centroids

    import numpy as np

    cents_rows, _meta = load_centroids(
        os.path.join(out_dir, IVFPQ_CENTROIDS_FILE)
    )
    # attribute access: load_centroids returns CentRow namedtuples
    # (collected Spark Rows also expose .cid/.m, but _coarse_np's
    # key-style access does not work on namedtuples)
    coarse = (
        np.array([r.cid for r in cents_rows], dtype=np.int64),
        np.array([list(r.m) for r in cents_rows], dtype=np.int64),
    )
    books = load_codebooks(os.path.join(out_dir, PQ_BOOKS_FILE))
    return coarse, books


def _ivfpq_encode_under(base: DataFrame, coarse, books) -> DataFrame:
    """(vec_id, cid, code_0..): encode under FROZEN state — the pure
    per-row function appends and streaming ingest share with the build."""
    enc = _assign_all(_cells_of(base, coarse), books, coarse=coarse)
    return enc.select(
        "vec_id",
        F.col("cell").alias("cid"),
        *[f"code_{m}" for m in range(PQ_M)],
    )


def build_ivfpq_artifact(
    spark,
    out_dir: str,
    src: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
) -> dict:
    """Persist the IVF-PQ index (`maintain ivfpq-codes`). Training is
    the shared train_ivfpq (coarse cells sample-capped + residual
    books; cache_key shares it with scan-form queries — deterministic,
    artifact identical either way)."""
    import json
    import os

    from mimic2ts_spark.operators.kmeans import KM_ROUNDS, save_centroids

    coarse_rows, books = train_ivfpq(src, id_col, vec_col, cache_key)
    os.makedirs(out_dir, exist_ok=True)
    save_centroids(
        coarse_rows, os.path.join(out_dir, IVFPQ_CENTROIDS_FILE),
        meta={"n_cells": len(coarse_rows), "rounds": KM_ROUNDS,
              "id_col": id_col, "vec_col": vec_col},
    )
    save_codebooks(books, os.path.join(out_dir, PQ_BOOKS_FILE))
    coarse = _coarse_np(coarse_rows)
    (
        _ivfpq_encode_under(_quant_base(src, id_col, vec_col), coarse, books)
        # repartition("cid") first (r14, guide §6): one file per cell
        # instead of one per (encode task, cell) — the IVF postings
        # small-files lesson applied to the IVFADC codes layout
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(out_dir, "codes"))
    )
    n = spark.read.parquet(os.path.join(out_dir, "codes")).count()
    meta = {"n": n, "m": PQ_M, "k": PQ_K, "sub": PQ_SUB,
            "cells": len(coarse_rows)}
    with open(os.path.join(out_dir, IVFPQ_META), "w") as f:
        json.dump(meta, f)
    return meta


def serve_ivfpq_artifact(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cell, adc_dist2): panel IVF-PQ ADC top-k
    served FROM the persisted index — trained state loads from the two
    JSONs, the panel probes its nprobe nearest cells driver-side, and
    the probed cell ids (≤ |panel|·nprobe driver ints, the r08 routing
    pattern) push a static In(cid, …) PARTITION filter into the
    cid-partitioned codes, so a probe lists and reads only its cells'
    files; each surviving row costs M table lookups (positions via
    searchsorted over the ascending codebook cids — identical to the
    scan kernels' argmin under the shared tie discipline, so served ==
    scan bit-exact). `allowed` semi-joins the PRUNED codes BEFORE the
    cut (X221 pre-cut doctrine); the stored state never retrains."""
    import os

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    coarse, books = _ivfpq_state(out_dir)
    if nprobe is None:
        # derive from ARTIFACT state (audit meta n — appends keep it
        # current; reconciled load also heals a crash marker)
        from mimic2ts_spark.operators.similarity import derived_nprobe

        meta = _load_codes_meta_reconciled(spark, out_dir, IVFPQ_META)
        nprobe = max(IVFPQ_NPROBE, derived_nprobe(int(meta.get("n", 0))))
    cids_c, mat_c = coarse
    cent_of = {int(cid): mat_c[i] for i, cid in enumerate(cids_c)}
    cids_b, mats_b = _books_np(books)

    q_rows = (
        queries.select(
            F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("qx")
        )
        .orderBy("vec_id")
        .collect()
    )
    tables: dict = {}
    queries_by_cell: dict = {}
    for r in q_rows:
        qid = int(r["vec_id"])
        qx = np.array([int(v) for v in r["qx"]], dtype=np.int64)
        dq = ((mat_c - qx[None, :]) ** 2).sum(axis=1)
        order = sorted(
            range(len(cids_c)), key=lambda i: (int(dq[i]), int(cids_c[i]))
        )
        for cell in (int(cids_c[i]) for i in order[:nprobe]):
            qr = qx - cent_of[cell]
            tables[(qid, cell)] = [
                ((mats_b[m] - qr[m * PQ_SUB:(m + 1) * PQ_SUB][None, :]) ** 2)
                .sum(axis=1)
                for m in range(PQ_M)
            ]
            queries_by_cell.setdefault(cell, []).append(qid)

    codes = memo.read_parquet(spark, os.path.join(out_dir, "codes")).where(
        F.col("cid").isin(sorted(queries_by_cell))
    )
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias("vec_id"))
        codes = codes.join(ids, "vec_id", "left_semi")

    code_cols = [f"code_{m}" for m in range(PQ_M)]

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids_ = pdf["vec_id"].to_numpy(dtype=np.int64)
            cellv = pdf["cid"].to_numpy(dtype=np.int64)
            pos = [
                np.searchsorted(
                    cids_b[m], pdf[code_cols[m]].to_numpy(dtype=np.int64)
                )
                for m in range(PQ_M)
            ]
            frames = []
            for cell in np.unique(cellv):
                idx = np.nonzero(cellv == cell)[0]
                for qid in queries_by_cell[int(cell)]:
                    t = tables[(qid, int(cell))]
                    d = np.zeros(len(idx), dtype=np.int64)
                    for m in range(PQ_M):
                        d += t[m][pos[m][idx]]
                    keep = ids_[idx] != qid
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    int(keep.sum()), qid, np.int64
                                ),
                                "neighbor_id": ids_[idx][keep],
                                "cell": np.full(
                                    int(keep.sum()), int(cell), np.int64
                                ),
                                "adc_dist2": d[keep],
                            }
                        )
                    )
            if frames:
                yield _batch_topk(
                    pd.concat(frames, ignore_index=True), k, "adc_dist2"
                )

    scored = codes.select("vec_id", "cid", *code_cols).mapInPandas(
        score,
        schema="query_id long, neighbor_id long, cell long, adc_dist2 long",
    )
    w = W.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def append_ivfpq_artifact(
    spark,
    out_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Grow the persisted IVF-PQ index at O(delta) cost under the
    FROZEN coarse centroids + residual books. Idempotent on redelivery
    (within-batch struct-min collapse + stored-ids anti-join) and
    audit-crash-consistent via the pending_delta marker protocol, like
    the other codes appends."""
    import os

    meta = _load_codes_meta_reconciled(spark, out_dir, IVFPQ_META)
    coarse, books = _ivfpq_state(out_dir)
    codes_path = os.path.join(out_dir, "codes")
    stored_ids = spark.read.parquet(codes_path).select("vec_id")
    code_cols = [f"code_{m}" for m in range(PQ_M)]
    rows = (
        _ivfpq_encode_under(_quant_base(delta, id_col, vec_col), coarse, books)
        # identical rows encode identically under frozen state ⇒ the
        # struct-min pick is a no-op on well-formed deltas
        .groupBy("vec_id")
        .agg(F.min(F.struct("cid", *code_cols)).alias("_s"))
        .select(
            "vec_id",
            F.col("_s.cid").alias("cid"),
            *[F.col(f"_s.{c}").alias(c) for c in code_cols],
        )
        .join(stored_ids, "vec_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    n_new = rows.count()
    if n_new:
        # marker BEFORE the append (kill-between window self-heals)
        _write_codes_meta(
            out_dir, IVFPQ_META, {**meta, "pending_delta": n_new}
        )
        rows.write.mode("append").partitionBy("cid").parquet(codes_path)
    meta["n"] = int(meta["n"]) + n_new
    _write_codes_meta(out_dir, IVFPQ_META, meta)
    return {"n": meta["n"], "delta": n_new}
