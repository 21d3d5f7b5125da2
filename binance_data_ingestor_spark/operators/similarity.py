"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:

- **Brute-force cosine top-k** — the exact baseline. The query set is
  broadcast (it's small by definition); each executor scans its
  candidate partition once, computes cosine in codegen'd higher-order
  functions (zip_with/aggregate — no Python), and keeps top-k per query
  via a partitioned window. Cost O(|Q|·N·d) flops, embarrassingly
  parallel, zero shuffle on the big side until the final tiny top-k.
- **Sign-LSH bucketed ANN** — the scale path: random-hyperplane sign
  bits bucket the candidates; queries only scan their own bucket
  (plus optional multi-probe neighbors). Hyperplanes are deterministic
  literals (fixed seed) so results are reproducible run-to-run.
"""

from __future__ import annotations

import random
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

ID_COL = "vec_id"
VEC_COL = "embedding"
LABEL_COL = "label"


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — same evaluation order as the
    DuckDB oracle's list_inner_product, so doubles match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    # nullif: a zero-norm vector divides to NULL in DuckDB but RAISES
    # under Spark ANSI — the q57 zero-norm guard, applied at the shared
    # helper so every consumer inherits it (round-7 ln/sqrt audit).
    # On nonzero norms the expression is unchanged bit-for-bit.
    da, db = _as_double(a), _as_double(b)
    return dot(da, db) / F.nullif(
        F.sqrt(dot(da, da)) * F.sqrt(dot(db, db)), F.lit(0.0)
    )


def norm(col: Column) -> Column:
    """sqrt(dot(v, v)) with the same double-cast fold as :func:`cosine`
    — hoist it to a per-ROW projection when a join scores many PAIRS per
    row: the interpreted HOF fold (no codegen, one intermediate array
    per dot) then runs once per row instead of once per pair, and
    ``dot(q, c) / nullif(q_norm * c_norm, 0)`` is bit-identical to
    :func:`cosine` (identical factors, identical multiply order,
    identical guard)."""
    d = _as_double(col)
    return F.sqrt(dot(d, d))


def _pair_cos(q_vec: Column, c_vec: Column, q_norm: Column, c_norm: Column) -> Column:
    return dot(_as_double(q_vec), _as_double(c_vec)) / F.nullif(
        q_norm * c_norm, F.lit(0.0)
    )


def _matrix(series: pd.Series) -> np.ndarray:
    """Arrow list<float> column → (n, d) float64 matrix (exact upcast)."""
    return np.array([np.asarray(v, dtype=np.float64) for v in series])


def brute_force_topk(
    candidates: DataFrame, queries: DataFrame, *, k: int = 5
) -> DataFrame:
    """Exact cosine top-k for a small query set over a huge candidate set.

    The query matrix is collected and shipped to every task (it is small
    by contract — the broadcast side). Each task GEMMs its candidate
    batches against it and keeps a running per-query top-k, so the
    shuffle after the scan carries at most |partitions|·|Q|·k rows, not
    |Q|·N. The final exact rank is a window over that tiny remainder.
    Cost O(|Q|·N·d) flops at BLAS speed; one pass over the candidates.
    """
    q_pdf = queries.select(
        F.col(ID_COL).cast("long").alias("query_id"), F.col(VEC_COL).alias("q_vec")
    ).toPandas()
    q_ids = q_pdf["query_id"].to_numpy(dtype=np.int64)
    Q = _matrix(q_pdf["q_vec"])
    q_norm = np.sqrt((Q * Q).sum(axis=1))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task accumulator of the k best (cos, neighbor) per query
        best: dict[int, list[tuple[float, int]]] = {int(q): [] for q in q_ids}
        for pdf in batches:
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            C = _matrix(pdf["c_vec"])
            c_norm = np.sqrt((C * C).sum(axis=1))
            S = (Q @ C.T) / np.outer(q_norm, c_norm)
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                row, rids = S[qi][mask], ids[mask]
                take = min(len(row), k)
                if take == 0:
                    continue
                idx = np.argpartition(-row, take - 1)[:take]
                cur = best[int(qid)] + [(float(row[j]), int(rids[j])) for j in idx]
                # ties broken by ascending id, matching the final window
                cur.sort(key=lambda t: (-t[0], t[1]))
                best[int(qid)] = cur[:k]
        out = [
            (int(qid), nid, cos)
            for qid, heap in best.items()
            for cos, nid in heap
        ]
        yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "cos_sim"])

    # no repartition: one GEMM per input split is already the right
    # granularity — at scale the candidate set arrives as many files,
    # and an extra exchange would just move every vector once more
    c = candidates.select(
        F.col(ID_COL).cast("long").alias("neighbor_id"), F.col(VEC_COL).alias("c_vec")
    )
    scored = c.mapInPandas(score, "query_id long, neighbor_id long, cos_sim double")
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed → stable buckets)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def sign_lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bucket id = concatenated sign bits of <v, plane_i>."""
    bits = []
    for p in planes:
        plane_lit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(_as_double(vec_col), plane_lit) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, then exact rerank
    within the bucket. At scale the bucket join replaces the full cross
    product with a 2^n_planes-way partition of the candidate set."""
    planes = hyperplanes(dim, n_planes, seed)
    # norms hoisted to per-row projections (round-12): the bucket join
    # scores many pairs per row and the interpreted dot fold was paying
    # 3 dots/pair; see norm()
    q = queries.select(
        F.col(ID_COL).alias("query_id"),
        F.col(VEC_COL).alias("q_vec"),
        sign_lsh_bucket(F.col(VEC_COL), planes).alias("bucket"),
        norm(F.col(VEC_COL)).alias("__qn"),
    )
    c = candidates.select(
        F.col(ID_COL).alias("neighbor_id"),
        F.col(VEC_COL).alias("c_vec"),
        sign_lsh_bucket(F.col(VEC_COL), planes).alias("bucket"),
        norm(F.col(VEC_COL)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            _pair_cos(F.col("q_vec"), F.col("c_vec"), F.col("__qn"), F.col("__cn")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def centroids(dim: int, n: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random coarse centroids (fixed seed).
    A production IVF trains these with k-means over a sample; the index
    structure and probe path below are identical either way."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def _centroid_sims(vec_col: Column, cents: list[list[float]]) -> Column:
    """Array of cosine(vec, centroid_i) — the coarse-quantizer scores."""
    return F.array(
        *[cosine(vec_col, F.array(*[F.lit(float(x)) for x in c])) for c in cents]
    )


def assign_cells(
    df: DataFrame, cents: list[list[float]], *, out_id: str = "vec_id"
) -> DataFrame:
    """Nearest-centroid cell assignment: one Arrow-batched GEMM against
    the (tiny) centroid matrix. Returns (out_id, cell, vec). Argmax
    takes the first occurrence on ties, matching
    list_position(s, list_max(s)) on the DuckDB oracle side. Sims are
    rounded to 6 dp BEFORE the argmax (same convention as cos_r): BLAS
    GEMM and a scalar dot product can differ in the last ulp, and a
    near-tie argmax flip would move the vector to a different cell."""
    C = np.array(cents, dtype=np.float64)
    c_norm = np.sqrt((C * C).sum(axis=1))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = _matrix(pdf["vec"])
            v_norm = np.sqrt((M * M).sum(axis=1))
            S = np.round((M @ C.T) / np.outer(v_norm, c_norm), 6)
            yield pd.DataFrame(
                {
                    out_id: pdf[out_id],
                    "cell": S.argmax(axis=1).astype("int32"),
                    "vec": pdf["vec"],
                }
            )

    return df.select(
        F.col(ID_COL).cast("long").alias(out_id), F.col(VEC_COL).alias("vec")
    ).mapInPandas(assign, f"{out_id} long, cell int, vec array<float>")


def semantic_dedup(
    df: DataFrame,
    *,
    threshold: float = 0.4,
    n_centroids: int = 8,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-quantize into
    centroid cells, then prune every vector that has a lower-id
    near-duplicate (rounded cosine ≥ threshold) inside its cell.

    Scale shape: the O(n²) similarity never crosses cells — each cell
    is one applyInPandas group doing a single float64 GEMM, so total
    work is Σ|cell|² instead of n², and the only shuffle is the
    groupBy(cell). Keeping the lowest id per near-dup neighborhood is
    the deterministic representative rule (no RNG, no iteration
    order). Returns the PRUNED rows: (vec_id, cell, witness_id,
    witness_cos_r, n_witnesses) where witness_id is the smallest
    qualifying lower id.
    """
    thr = float(threshold)
    cells = assign_cells(df, centroids(dim, n_centroids, seed))

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        M = _matrix(pdf["vec"])
        norms = np.sqrt((M * M).sum(axis=1))
        S = np.round((M @ M.T) / np.outer(norms, norms), 6)
        n = len(ids)
        qual = (S >= thr) & (np.arange(n)[:, None] < np.arange(n)[None, :])
        out = []
        for j in range(n):
            wit = np.nonzero(qual[:, j])[0]
            if len(wit):
                w = wit[0]  # ids sorted ascending ⇒ first hit = min id
                out.append(
                    (ids[j], int(pdf["cell"].iloc[0]), ids[w],
                     S[w, j], len(wit))
                )
        return pd.DataFrame(
            out,
            columns=["vec_id", "cell", "witness_id",
                     "witness_cos_r", "n_witnesses"],
        )

    return cells.groupBy("cell").applyInPandas(
        lambda _, pdf: prune(pdf),
        "vec_id long, cell int, witness_id long, "
        "witness_cos_r double, n_witnesses long",
    )


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Index side: every candidate is assigned to its nearest coarse
    centroid (cell) — at scale this is the partition/bucket key, so a
    query touches n_probe/n_centroids of the data instead of all of it.
    Query side: each query probes its n_probe best cells; candidates in
    probed cells are reranked with exact cosine and windowed to top-k.
    Candidate cell assignment is a batched GEMM against the (tiny)
    centroid matrix — one Arrow crossing for the index build; the
    query-side probe scoring stays in column expressions (|Q| is small).
    """
    cents = centroids(dim, n_centroids, seed)
    c = assign_cells(candidates, cents, out_id="neighbor_id").withColumnRenamed(
        "vec", "c_vec"
    )

    q_sims = _centroid_sims(F.col(VEC_COL), cents)
    q_cells = queries.select(
        F.col(ID_COL).alias("query_id"),
        F.col(VEC_COL).alias("q_vec"),
        F.posexplode(q_sims).alias("cell", "sim"),
    )
    # probe ranking on 6-dp-rounded sims (cell asc tie-break) — keeps the
    # probed-cell set identical across engines at near-tie scores
    wp = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("sim"), 6)), F.asc("cell")
    )
    probes = (
        q_cells.withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "q_vec", "cell", norm(F.col("q_vec")).alias("__qn"))
    )

    # norms hoisted to per-row projections (round-12): every candidate
    # is scored against ~n_probe·|Q|/n_centroids probes, so the
    # interpreted dot fold was paying 3 dots/pair; see norm()
    cn = c.select("*", norm(F.col("c_vec")).alias("__cn"))
    scored = (
        cn.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            _pair_cos(F.col("q_vec"), F.col("c_vec"), F.col("__qn"), F.col("__cn")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def codebooks(
    dim: int, m: int, n_codes: int, seed: int = 11
) -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks: m subspaces of dim/m dims,
    n_codes centroids each (fixed seed → stable codes). Centroid
    coordinates are drawn at sigma = 1/√dim so centroid subvectors live
    at the same norm as unit-vector subspace slices — unit-sigma
    centroids would sit ~8× farther out and the ||c||² term would
    dominate argmin, collapsing every vector onto the smallest-norm
    code. A production PQ trains these with per-subspace k-means over a
    sample; the encode and ADC paths below are identical either way."""
    rng = random.Random(seed)
    ds = dim // m
    sigma = 1.0 / dim**0.5
    return [
        [[rng.gauss(0.0, sigma) for _ in range(ds)] for _ in range(n_codes)]
        for _ in range(m)
    ]


def pq_encode(
    df: DataFrame, books: list[list[list[float]]], *, vec_col: str = "embedding"
) -> DataFrame:
    """Product-quantization encode: each vector → m small codes (one
    byte each at n_codes ≤ 256), the nearest codebook centroid per
    subspace by squared L2. This is the index build: at scale the codes
    table is ~d·4/m× smaller than the raw vectors (64-dim float32 → 8
    bytes: 32×), so the ANN scan reads codes and never touches the
    embedding column. One GEMM per (batch, subspace) against the tiny
    codebook; ties take the lowest code (numpy argmin first-occurrence
    = the oracle's ORDER BY dist, code).
    """
    B = [np.array(b, dtype=np.float64) for b in books]
    m = len(B)
    ds = B[0].shape[1]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = _matrix(pdf["vec"])
            codes = np.empty((len(M), m), dtype=np.int32)
            for j in range(m):
                S = M[:, j * ds : (j + 1) * ds]
                d2 = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ B[j].T)
                    + (B[j] * B[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return df.select(
        F.col(ID_COL).cast("long").alias("vec_id"), F.col(vec_col).alias("vec")
    ).mapInPandas(encode, "vec_id long, codes array<int>")


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    seed: int = 11,
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance computation (ADC).

    Query side: each query precomputes an m×n_codes table of squared-L2
    distances from its subvectors to every codebook centroid (tiny —
    computed once, shipped in the task closure with the broadcast query
    set). The table is quantized to integer micro-units (FAISS-style
    quantized LUT): PQ ties are structural — identical codes give
    identical distances — and float summation order is engine-specific,
    so an integer LUT makes the ADC sum exact, orderless, and
    reproducible. Scan side: a candidate's approximate distance is m
    table lookups + an integer sum — no vector math per candidate, and
    only the codes column is read. Each task keeps a running per-query
    top-k so the shuffle carries |partitions|·|Q|·k rows; the final
    exact rank is a window over that remainder. The compression/recall
    trade lives in (m, n_codes); the scan cost is O(N·m) regardless of
    dim.
    """
    books = codebooks(dim, m, n_codes, seed)
    B = [np.array(b, dtype=np.float64) for b in books]
    ds = dim // m

    q_pdf = queries.select(
        F.col(ID_COL).cast("long").alias("query_id"), F.col(VEC_COL).alias("q_vec")
    ).toPandas()
    q_ids = q_pdf["query_id"].to_numpy(dtype=np.int64)
    Q = _matrix(q_pdf["q_vec"])
    # tables[qi][j][code] = round(1e6 · ||q_j - c_{j,code}||²) — integer
    # micro-units so the m-term ADC sum is exact in any order
    ftab = np.empty((len(q_ids), m, n_codes), dtype=np.float64)
    for j in range(m):
        S = Q[:, j * ds : (j + 1) * ds]
        ftab[:, j, :] = (
            (S * S).sum(axis=1)[:, None]
            - 2.0 * (S @ B[j].T)
            + (B[j] * B[j]).sum(axis=1)[None, :]
        )
    tables = np.floor(ftab * 1e6 + 0.5).astype(np.int64)

    encoded = pq_encode(candidates, books)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, list[tuple[int, int]]] = {int(q): [] for q in q_ids}
        cols = np.arange(m)
        for pdf in batches:
            ids = pdf["codes_id"].to_numpy(dtype=np.int64)
            C = np.array([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            for qi, qid in enumerate(q_ids):
                # ADC: m fancy-indexed lookups per candidate, summed
                d = tables[qi][cols[None, :], C].sum(axis=1)
                mask = ids != qid
                row, rids = d[mask], ids[mask]
                if len(row) == 0:
                    continue
                # PQ ties are structural (identical codes ⇒ identical
                # ADC), so the k-selection must respect the (dist, id)
                # total order — argpartition would drop tied low-ids
                idx = np.lexsort((rids, row))[:k]
                cur = best[int(qid)] + [(int(row[j]), int(rids[j])) for j in idx]
                cur.sort(key=lambda t: (t[0], t[1]))
                best[int(qid)] = cur[:k]
        out = [
            (int(qid), nid, dist)
            for qid, heap in best.items()
            for dist, nid in heap
        ]
        yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "adc_micro"])

    scored = encoded.select(
        F.col("vec_id").alias("codes_id"), "codes"
    ).mapInPandas(scan, "query_id long, neighbor_id long, adc_micro long")
    w = W.partitionBy("query_id").orderBy(F.asc("adc_micro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_micro")
    )


def cosine_neardup_pairs(df: DataFrame, *, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t).

    Exact all-pairs via distributed block matrix product: vectors are
    hashed into B row blocks; each of the B·(B+1)/2 block pairs is one
    task doing a single float64 GEMM (BLAS) instead of per-element
    expression evaluation. Each block is replicated ~B/2 times, so pick
    B ≈ √tasks-wanted; flops are the unavoidable O(n²·d) of the exact
    form — the sign-LSH bucket prefilter above is the scale path that
    makes the quadratic term approximate-but-linear.
    """
    spark = df.sparkSession
    nb = max(4, int(spark.sparkContext.defaultParallelism ** 0.5 * 2))
    thr = float(threshold)

    packed = (
        df.select(
            F.pmod(F.xxhash64(F.col(ID_COL)), F.lit(nb)).alias("block_id"),
            F.struct(
                F.col(ID_COL).cast("long").alias("vid"), F.col(VEC_COL).alias("vec")
            ).alias("r"),
        )
        .groupBy("block_id")
        .agg(F.collect_list("r").alias("rows"))
    )
    pairs = (
        packed.select(F.col("block_id").alias("ba"), F.col("rows").alias("rows_a"))
        .join(
            packed.select(F.col("block_id").alias("bb"), F.col("rows").alias("rows_b")),
            F.col("ba") <= F.col("bb"),
        )
        # one block-pair per task: the GEMM is the unit of work
        .repartition(nb * (nb + 1) // 2, "ba", "bb")
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ia = np.array([r["vid"] for r in row["rows_a"]], dtype=np.int64)
                ib = np.array([r["vid"] for r in row["rows_b"]], dtype=np.int64)
                A = _matrix(pd.Series([r["vec"] for r in row["rows_a"]]))
                B = _matrix(pd.Series([r["vec"] for r in row["rows_b"]]))
                na = np.sqrt((A * A).sum(axis=1))
                nb_ = np.sqrt((B * B).sum(axis=1))
                S = np.round((A @ B.T) / np.outer(na, nb_), 6)
                if row["ba"] == row["bb"]:
                    # diagonal block holds both orderings of every pair;
                    # id_a < id_b dedups the mirrors
                    keep = (S >= thr) & (ia[:, None] < ib[None, :])
                    i, j = np.nonzero(keep)
                    id_a, id_b = ia[i], ib[j]
                else:
                    # off-diagonal blocks meet exactly once; normalize order
                    i, j = np.nonzero(S >= thr)
                    id_a = np.minimum(ia[i], ib[j])
                    id_b = np.maximum(ia[i], ib[j])
                yield pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": S[i, j]})

    return pairs.mapInPandas(compute, "id_a long, id_b long, cos_sim double")


def int8_quantize(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization with an exact error
    certificate — the embedding-compression step before an ANN index
    build (4× smaller than float32, 8× smaller than the float64 PQ
    input; complements q66's PQ path, which compresses further but
    lossier).

    Per vector: scale = max|x| / 127, code_i = floor(x_i/scale + 0.5).
    With a symmetric scale the codes land in [-127, 127] by
    construction (|x|/scale ≤ 127 within one ulp, and floor(±(127+ε) ∓
    0.5) stays at ±127), so no clamp is needed. Zero vectors nullif the
    scale (both engines agree on NULL, where ANSI Spark would raise and
    DuckDB already returns NULL).

    Everything is row-local expression work — zero shuffle, zero
    Python. The certificate columns are parity-exact by construction:
    ``scale`` is one IEEE division, ``max_abs_err`` a max (order-free)
    of identically-computed doubles, ``sum_codes`` an exact integer.
    """
    v = _as_double(F.col(VEC_COL))
    scale = F.nullif(
        F.array_max(F.transform(v, F.abs)) / F.lit(127.0), F.lit(0.0)
    )
    d = df.select(
        F.col(ID_COL), v.alias("_v"), F.size(VEC_COL).alias("n_dims"), scale.alias("scale")
    )
    codes = F.transform(
        F.col("_v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("long")
    )
    d = d.withColumn("_codes", codes)
    err = F.array_max(
        F.zip_with(
            F.col("_codes"), F.col("_v"), lambda c, x: F.abs(c * F.col("scale") - x)
        )
    )
    return d.select(
        ID_COL,
        "n_dims",
        "scale",
        F.aggregate(
            F.col("_codes"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_codes"),
        err.alias("max_abs_err"),
    )


ROUND_DP = 6
NEIGHBOR_TAPS = 8


def closest_pairs_exact(
    df: DataFrame, *, id_col: str, feature_cols: list[str], k: int
) -> DataFrame:
    """EXACT k closest pairs (squared euclidean, deterministic
    (dist2, id_a, id_b) ordering) WITHOUT an all-pairs product —
    projection-bound pruning.

    Pruning invariant: for the unit vector u = (1,…,1)/√d the scalar
    projection p(x) = <x, u> is 1-Lipschitz, so |p(a) − p(b)| ≤
    ‖a − b‖₂ for EVERY pair; any radius r that provably contains the
    k-th smallest pair distance makes "projection gap > r" a safe
    (exactness-preserving) rejection.

    Two rounds, both adaptive statistics collected driver-side (the
    same planning-statistic class as ``rangejoin.auto_bin_seconds``):

    1. **Bound**: rank rows by p via the bucket-offset two-pass rank
       (fully parallel), pair each row with its ``NEIGHBOR_TAPS``
       following rank-neighbors through a bounded explode + equi-join
       on rank (≈ taps·n candidate pairs, never n²), and collect the
       k-th smallest candidate distance — an upper bound on the true
       k-th distance since candidates ⊆ all pairs. Tiny inputs with
       fewer than k candidates fall back to the per-dimension span
       diagonal, which bounds every distance.
    2. **Exact sweep**: binned radius self-join on p — bin width = r,
       one side replicated into bins {b−1, b, b+1}, plain equi-join on
       the bin id. Each qualifying pair meets in both orientations and
       the ``id_a < id_b`` guard keeps exactly one; a pair with
       ‖a−b‖ ≤ r has projection gap ≤ r, hence bin gap ≤ 1, hence is
       matched, while every excluded pair is strictly farther than the
       k-th — so TakeOrdered(k) over the exact distances is the true
       answer. The radius carries conservative padding (relative 1e-9,
       absolute 1e-12, plus 10^-ROUND_DP for the output rounding) so
       float wobble can only ADD candidates, never drop a true pair.

    Scale: the shuffles are the rank pass, the taps equi-join, and the
    bin equi-join — all keyed; no CartesianProduct or BNLJ anywhere.
    Bin-join fan-in is the row count within r of each other in
    projection — the governing quantity of any fixed-radius blocking
    scheme; data where everything sits within r of everything degrades
    toward the quadratic that the exact answer inherently costs (the
    LSH/IVF operators above are the approximate escape hatch).
    """
    import math

    from .partitioning import with_global_rank, with_range_bucket

    d = len(feature_cols)
    proj = sum(F.col(c) for c in feature_cols) / F.lit(math.sqrt(d))
    s = (
        df.select(F.col(id_col).alias("__id"), *feature_cols)
        .withColumn("__proj", proj)
        .localCheckpoint(eager=True)  # feeds rank, bound probe, and sweep
    )
    n = s.count()
    if n < 2:
        return s.select(
            F.col("__id").alias("id_a"),
            F.col("__id").alias("id_b"),
            F.lit(0.0).alias("dist2"),
        ).limit(0)

    dist2 = None
    for c in feature_cols:
        t = (F.col(f"__a_{c}") - F.col(f"__b_{c}")) * (
            F.col(f"__a_{c}") - F.col(f"__b_{c}")
        )
        dist2 = t if dist2 is None else dist2 + t

    # ---- round 1: candidate bound from proj-rank neighbors -------------
    ranked = with_global_rank(
        with_range_bucket(s, F.col("__proj"), bucket_col="__rb"),
        [],
        [F.asc("__proj"), F.asc("__id")],
        bucket=F.col("__rb"),
        rank_col="__rk",
    ).drop("__rb")
    taps = min(NEIGHBOR_TAPS, n - 1)
    left = ranked.filter(F.col("__rk") < n).select(
        F.col("__id").alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in feature_cols],
        F.explode(
            F.sequence(
                F.col("__rk") + 1,
                F.least(F.col("__rk") + taps, F.lit(n).cast("long")),
            )
        ).alias("__rk_b"),
    )
    right = ranked.select(
        F.col("__id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in feature_cols],
        F.col("__rk").alias("__rk_b"),
    )
    top = (
        left.join(right, "__rk_b")
        .select(F.round(dist2, ROUND_DP).alias("__d2"))
        .orderBy("__d2")
        .limit(k)
        .collect()
    )
    if len(top) >= k:
        r2_bound = float(top[-1]["__d2"]) + 10.0 ** (-ROUND_DP)
    else:
        spans = s.agg(
            *[(F.max(c) - F.min(c)).alias(f"__sp_{c}") for c in feature_cols]
        ).collect()[0]
        r2_bound = (
            sum(float(spans[f"__sp_{c}"] or 0.0) ** 2 for c in feature_cols)
            + 1.0
        )
    radius = math.sqrt(max(r2_bound, 0.0)) * (1.0 + 1e-9) + 1e-12

    # ---- round 2: binned radius self-join, exact refine -----------------
    binned = s.withColumn(
        "__bin", F.floor(F.col("__proj") / F.lit(radius)).cast("long")
    )
    a = binned.select(
        F.col("__id").alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in feature_cols],
        F.explode(
            F.array(F.col("__bin") - 1, F.col("__bin"), F.col("__bin") + 1)
        ).alias("__jb"),
    )
    b = binned.select(
        F.col("__id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in feature_cols],
        F.col("__bin").alias("__jb"),
    )
    return (
        a.join(b, "__jb")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dist2, ROUND_DP).alias("dist2"))
        .orderBy(F.asc("dist2"), F.asc("id_a"), F.asc("id_b"))
        .limit(k)
    )


def quantize_micro(M: np.ndarray) -> np.ndarray:
    """Float matrix → exact integer µunits via ``floor(x·1e6 + 0.5)`` —
    the quantization rule shared VERBATIM with the DuckDB oracle
    (identical IEEE double ops → identical int64 on both engines,
    half-up including negatives)."""
    return np.floor(M * 1e6 + 0.5).astype(np.int64)


def pq_fit_micro(
    df: DataFrame,
    *,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 4,
    seed: int = 11,
) -> list[list[list[int]]]:
    """µ-quantized Lloyd's codebook training — distributed AND
    bit-reproducible on any engine with int64 + IEEE doubles.

    The cross-engine trick: embeddings and centroids live on an exact
    integer 1e-6 grid (:func:`quantize_micro`), so assignment distances
    are exact int64 sums of squares (order-free — no float summation
    ambiguity, no GEMM-order sensitivity), ties break to the lowest
    code (numpy argmin-first == SQL ``ORDER BY d2, code``), and the
    ONLY float operation in an update is one IEEE double division per
    centroid coordinate, re-gridded as ``floor(sum/n + 0.5)``. A fixed
    seed + fixed iteration count therefore yields the IDENTICAL
    codebook in this implementation and in the unrolled DuckDB replay
    (q67's oracle) — iterative training moves from rows-only checking
    to full hash parity.

    Distribution shape: each iteration is one pass; tasks emit
    ≤ |tasks|·m·n_codes partial (sum, count) rows and the driver
    reduces integers (order-free, no sort needed). Empty
    clusters keep their previous centroid. At 100 TB you train on a
    deterministic hash-sample; int64 holds exact sums for ~9e6 vectors
    per task batch at µ-scale ±1e6 — far beyond any sane sample.
    """
    ds = dim // m
    books = [
        quantize_micro(np.array(b, dtype=np.float64))
        for b in codebooks(dim, m, n_codes, seed)
    ]
    vecs = df.select(F.col(VEC_COL).alias("vec"))

    for _ in range(iters):
        B = [b.copy() for b in books]

        def partial(
            batches: Iterator[pd.DataFrame], _B: list[np.ndarray] = B
        ) -> Iterator[pd.DataFrame]:
            sums = np.zeros((m, n_codes, ds), dtype=np.int64)
            counts = np.zeros((m, n_codes), dtype=np.int64)
            for pdf in batches:
                Z = quantize_micro(_matrix(pdf["vec"]))
                for j in range(m):
                    S = Z[:, j * ds : (j + 1) * ds]
                    d2 = (
                        (S * S).sum(axis=1)[:, None]
                        - 2 * (S @ _B[j].T)
                        + (_B[j] * _B[j]).sum(axis=1)[None, :]
                    )
                    a = d2.argmin(axis=1)
                    np.add.at(sums[j], a, S)
                    np.add.at(counts[j], a, 1)
            out = [
                (j, c, [int(x) for x in sums[j, c]], int(counts[j, c]))
                for j in range(m)
                for c in range(n_codes)
                if counts[j, c] > 0
            ]
            yield pd.DataFrame(out, columns=["subspace", "code", "vsum", "n"])

        parts = vecs.mapInPandas(
            partial, "subspace int, code int, vsum array<long>, n long"
        ).collect()
        acc_s = np.zeros((m, n_codes, ds), dtype=np.int64)
        acc_n = np.zeros((m, n_codes), dtype=np.int64)
        for r in parts:  # integer accumulation: order-free by construction
            acc_s[r["subspace"], r["code"]] += np.asarray(r["vsum"], dtype=np.int64)
            acc_n[r["subspace"], r["code"]] += r["n"]
        for j in range(m):
            nz = acc_n[j] > 0
            books[j][nz] = np.floor(
                acc_s[j][nz] / acc_n[j][nz, None] + 0.5
            ).astype(np.int64)
    return [[[int(x) for x in c] for c in b] for b in books]


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    cent_seed: int = 7,
    pq_seed: int = 11,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed production ANN shape
    (FAISS ``IVFx,PQy``): the coarse quantizer restricts each query to
    ``n_probe`` of ``n_centroids`` cells AND the scan over those cells
    reads only m-byte PQ codes, never embeddings.

    Index build (once): nearest-centroid cell per candidate
    (:func:`assign_cells`) + PQ codes (:func:`pq_encode`) — the stored
    index row is (id, cell, m codes) ≈ 12 bytes/vector here vs 256 for
    raw float32. Query: probe cells exactly as :func:`ivf_topk`
    (6-dp-rounded sims, cell-asc tie-break), then ADC-score only the
    probed cells' codes with the integer-µ LUT from :func:`pq_topk`
    (exact, orderless sums — engine-reproducible). The scan cost per
    query is O(N·m·n_probe/n_centroids); the shuffle carries per-task
    per-query top-k remainders only.
    """
    cents = centroids(dim, n_centroids, cent_seed)
    books = codebooks(dim, m, n_codes, pq_seed)
    B = [np.array(b, dtype=np.float64) for b in books]
    ds = dim // m

    cells = assign_cells(candidates, cents)
    encoded = pq_encode(cells, books, vec_col="vec")
    index = encoded.join(cells.select("vec_id", "cell"), "vec_id")

    q_sims = _centroid_sims(F.col(VEC_COL), cents)
    q_cells = queries.select(
        F.col(ID_COL).alias("query_id"),
        F.posexplode(q_sims).alias("cell", "sim"),
    )
    wp = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("sim"), 6)), F.asc("cell")
    )
    probes = (
        q_cells.withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "cell")
    )

    q_pdf = queries.select(
        F.col(ID_COL).cast("long").alias("query_id"), F.col(VEC_COL).alias("q_vec")
    ).toPandas()
    q_ids = q_pdf["query_id"].to_numpy(dtype=np.int64)
    Q = _matrix(q_pdf["q_vec"])
    ftab = np.empty((len(q_ids), m, n_codes), dtype=np.float64)
    for j in range(m):
        S = Q[:, j * ds : (j + 1) * ds]
        ftab[:, j, :] = (
            (S * S).sum(axis=1)[:, None]
            - 2.0 * (S @ B[j].T)
            + (B[j] * B[j]).sum(axis=1)[None, :]
        )
    tables = np.floor(ftab * 1e6 + 0.5).astype(np.int64)
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, list[tuple[int, int]]] = {int(q): [] for q in q_ids}
        cols = np.arange(m)
        for pdf in batches:
            for qid, grp in pdf.groupby("query_id"):
                qi = q_index[int(qid)]
                ids = grp["vec_id"].to_numpy(dtype=np.int64)
                C = np.array([np.asarray(c, dtype=np.int64) for c in grp["codes"]])
                d = tables[qi][cols[None, :], C].sum(axis=1)
                mask = ids != int(qid)
                row, rids = d[mask], ids[mask]
                if len(row) == 0:
                    continue
                idx = np.lexsort((rids, row))[:k]
                cur = best[int(qid)] + [
                    (int(row[j]), int(rids[j])) for j in idx
                ]
                cur.sort(key=lambda t: (t[0], t[1]))
                best[int(qid)] = cur[:k]
        out = [
            (qid, nid, dist)
            for qid, heap in best.items()
            for dist, nid in heap
        ]
        yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "adc_micro"])

    scored = index.join(F.broadcast(probes), "cell").select(
        "query_id", "vec_id", "codes"
    ).mapInPandas(scan, "query_id long, neighbor_id long, adc_micro long")
    w = W.partitionBy("query_id").orderBy(F.asc("adc_micro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_micro")
    )


def hard_negative_topk(
    candidates: DataFrame, queries: DataFrame, *, k: int = 5
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (query), the k most-similar candidates with a DIFFERENT label —
    the negatives that actually teach the margin.

    Same execution shape as :func:`brute_force_topk` (the anchor
    matrix+labels ship in the task closure, each task GEMMs its
    candidate batch and keeps a per-anchor top-k, the shuffle carries
    |partitions|·|Q|·k rows), with the label-mismatch mask applied
    inside the kernel so excluded positives never leave the task.

    Ranking is on 6-dp-ROUNDED cosine with ascending-id tie-break —
    the repo-wide GEMM convention (see :func:`cell_loo_knn`): GEMM and
    a sequential dot product differ in the last ulp, so rounding
    before selection makes the rank order engine-independent instead
    of relying on a fixture-specific rank-boundary margin.
    """
    q_pdf = queries.select(
        F.col(ID_COL).cast("long").alias("query_id"),
        F.col(VEC_COL).alias("q_vec"),
        F.col(LABEL_COL).cast("int").alias("q_label"),
    ).toPandas()
    q_ids = q_pdf["query_id"].to_numpy(dtype=np.int64)
    q_labels = q_pdf["q_label"].to_numpy(dtype=np.int64)
    Q = _matrix(q_pdf["q_vec"])
    q_norm = np.sqrt((Q * Q).sum(axis=1))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, list[tuple[float, int, int]]] = {
            int(q): [] for q in q_ids
        }
        for pdf in batches:
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            labels = pdf["n_label"].to_numpy(dtype=np.int64)
            C = _matrix(pdf["c_vec"])
            c_norm = np.sqrt((C * C).sum(axis=1))
            # round BEFORE selection (repo GEMM convention) so the rank
            # order is engine-independent; the id tie-break below makes
            # rounded ties deterministic
            S = np.round((Q @ C.T) / np.outer(q_norm, c_norm), 6)
            for qi, qid in enumerate(q_ids):
                mask = (ids != qid) & (labels != q_labels[qi])
                row, rids, rlab = S[qi][mask], ids[mask], labels[mask]
                take = min(len(row), k)
                if take == 0:
                    continue
                idx = np.argpartition(-row, take - 1)[:take]
                cur = best[int(qid)] + [
                    (float(row[j]), int(rids[j]), int(rlab[j])) for j in idx
                ]
                cur.sort(key=lambda t: (-t[0], t[1]))
                best[int(qid)] = cur[:k]
        out = [
            (int(qid), nid, lab, cos)
            for qid, heap in best.items()
            for cos, nid, lab in heap
        ]
        yield pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "neg_label", "cos_sim"]
        )

    c = candidates.select(
        F.col(ID_COL).cast("long").alias("neighbor_id"),
        F.col(VEC_COL).alias("c_vec"),
        F.col(LABEL_COL).cast("int").alias("n_label"),
    )
    scored = c.mapInPandas(
        score, "query_id long, neighbor_id long, neg_label int, cos_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def pca_project(df: DataFrame, *, k: int = 2, dims: int = 8) -> DataFrame:
    """Project the first ``dims`` embedding coordinates onto their top-k
    principal components — the consumer of q92's covariance sufficient
    statistic.

    Scale shape: mean and covariance reduce in ONE distributed pass
    (the same 36-aggregate scan q92 runs — O(dims²) driver state, like
    the PQ codebooks); the dims×dims eigendecomposition runs
    driver-side (numpy ``eigh`` on an 8×8 symmetric matrix — a
    planning-time statistic, not data work); the projection itself is
    a pure codegen expression (k dot products per row, no Python, no
    shuffle). Components are deterministic up to sign — GIVEN distinct
    top-k eigenvalues: for a (near-)degenerate eigenvalue, ``eigh``'s
    basis for the subspace is platform-dependent and sign
    canonicalization cannot fix a subspace rotation, so determinism is
    guarded by an explicit relative eigen-gap check (the fixture's
    spectrum is well-separated; a degenerate real-world spectrum should
    project onto the whole subspace or perturb the data). Each kept
    eigenvector is canonicalized to make its largest-|coordinate| entry
    positive (ties broken by lowest index); eigenvalues emit in
    decreasing order. Raises on empty input and on a degenerate top-k
    spectrum. Returns (vec_id, pc1…pck).
    """
    d = [
        F.element_at(VEC_COL, i + 1).cast("double").alias(f"__d{i}")
        for i in range(dims)
    ]
    base = df.select(F.col(ID_COL), *d)
    stats = base.agg(
        F.count("*").alias("__n"),
        *[F.avg(f"__d{i}").alias(f"m{i}") for i in range(dims)],
        *[
            F.covar_pop(f"__d{i}", f"__d{j}").alias(f"c_{i}_{j}")
            for i in range(dims)
            for j in range(i, dims)
        ],
    ).collect()[0]
    if stats["__n"] == 0:
        raise ValueError(
            "pca_project: input has no rows — mean/covariance are "
            "undefined on an empty frame"
        )
    mean = np.array([stats[f"m{i}"] for i in range(dims)])
    C = np.zeros((dims, dims))
    for i in range(dims):
        for j in range(i, dims):
            C[i, j] = C[j, i] = stats[f"c_{i}_{j}"]
    vals, vecs = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(-vals)[:k]
    # Determinism guard: sign canonicalization only pins components
    # whose eigenvalues are isolated. Require a relative gap between
    # each kept eigenvalue and its nearest spectrum neighbor.
    desc = -np.sort(-vals)
    scale = max(float(desc[0]), 1e-300)
    for pos in range(min(k, dims)):
        gap = min(
            abs(desc[pos] - desc[pos - 1]) if pos > 0 else np.inf,
            abs(desc[pos] - desc[pos + 1]) if pos + 1 < dims else np.inf,
        )
        if gap / scale < 1e-9:
            raise ValueError(
                f"pca_project: eigenvalue {pos + 1} is (near-)degenerate "
                f"(relative gap {gap / scale:.2e}) — component directions "
                "in a degenerate subspace are platform-dependent; reduce "
                "k below the degenerate block or perturb the data"
            )
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        comps.append(v if v[pivot] >= 0 else -v)
    cols = [
        sum(
            (F.col(f"__d{i}") - F.lit(float(mean[i]))) * F.lit(float(v[i]))
            for i in range(dims)
        ).alias(f"pc{c + 1}")
        for c, v in enumerate(comps)
    ]
    return base.select(ID_COL, *cols)


def cell_loo_knn(cells: DataFrame, *, k: int = 5) -> DataFrame:
    """Per-cell leave-one-out k-nearest-neighbor labels: for every
    vector, the labels of its ≤k nearest cell-mates by cosine.

    Input is :func:`assign_cells` output joined with a label column;
    output rows are (aid, a_label, b_label, rk). Same execution shape
    as :func:`semantic_dedup`: each cell is ONE applyInPandas group
    running a single float64 GEMM (Σ|cell|² flops total, never n²) and
    emitting only ≤k rows per vector — so the shuffle after the
    groupBy(cell) carries n·k rows, not the n·|cell| pair table a
    pair-join + window would move. Ranking uses 6-dp-ROUNDED cosine
    (np.round before selection — the repo-wide convention: GEMM and a
    sequential dot product differ in the last ulp, rounding makes the
    rank order engine-independent) with ascending-id tie-break.
    Vectors alone in their cell emit nothing.
    """

    def cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ID_COL).reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                columns=["aid", "a_label", "b_label", "rk"]
            ).astype({"aid": "int64", "a_label": "int32",
                      "b_label": "int32", "rk": "int32"})
        ids = pdf[ID_COL].to_numpy(dtype=np.int64)
        labels = pdf[LABEL_COL].to_numpy(dtype=np.int64)
        M = _matrix(pdf["vec"])
        norms = np.sqrt((M * M).sum(axis=1))
        S = np.round((M @ M.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(S, -np.inf)  # leave-one-out: never self
        take = min(k, n - 1)
        out_a, out_al, out_bl, out_rk = [], [], [], []
        for j in range(n):
            # ids ascending ⇒ lexsort((ids, -S)) = (cos DESC, id ASC)
            idx = np.lexsort((ids, -S[j]))[:take]
            out_a.extend([ids[j]] * take)
            out_al.extend([labels[j]] * take)
            out_bl.extend(labels[idx])
            out_rk.extend(range(1, take + 1))
        return pd.DataFrame(
            {
                "aid": np.asarray(out_a, dtype=np.int64),
                "a_label": np.asarray(out_al, dtype=np.int32),
                "b_label": np.asarray(out_bl, dtype=np.int32),
                "rk": np.asarray(out_rk, dtype=np.int32),
            }
        )

    return cells.groupBy("cell").applyInPandas(
        lambda _, pdf: cell_knn(pdf),
        "aid long, a_label int, b_label int, rk int",
    )


def sign_signature() -> tuple[Column, Column]:
    """Sign-bit binary signature of a 64-dim embedding, packed into two
    unsigned 32-bit words carried in BIGINTs (``lo`` = dims 1-32,
    ``hi`` = dims 33-64).

    Two half-words instead of one 64-bit word so the identical packing
    is expressible in the DuckDB oracle: ``1::BIGINT << 63`` overflows
    DuckDB's signed shift, while every value here stays < 2^32. The
    per-bit adds can never carry (each index sets a distinct bit), so
    ``+`` is exactly bitwise OR and the whole packing runs inside
    whole-stage codegen — 16 bytes of signature per vector, computed in
    one scan, no Python.
    """
    def word(lo_bit: int, hi_bit: int) -> Column:
        return F.expr(
            f"aggregate(sequence({lo_bit}, {hi_bit}), 0L, (acc, i) -> "
            f"acc + IF(element_at({VEC_COL}, i + 1) > 0, "
            f"shiftleft(1L, i - {lo_bit}), 0L))"
        )

    return word(0, 31), word(32, 63)


HAMMING_MAX_PROBES = 4096


def hamming_topk(
    candidates: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    max_probes: int = HAMMING_MAX_PROBES,
) -> DataFrame:
    """Exact Hamming top-k over sign-bit signatures — the binary-ANN
    path (16-byte signatures, XOR+popcount distance) real retrieval
    stacks use when float GEMM is too expensive.

    Scale shape (contrast with ``brute_force_topk``'s GEMM+mapInPandas):
    everything stays JVM-side. Probe signatures are collected (|Q| rows,
    ENFORCED ≤ ``max_probes`` — an oversized probe set raises instead of
    compiling a |Q|-struct literal plan) and EXPLODED as a literal array against each
    candidate row — a Generate, not a join, so the big side never
    shuffles and no BNLJ node appears. The top-k prune exploits the
    65-value distance domain: a partially-aggregable (query, hd)
    histogram (≤ 65·|Q| rows) yields each query's k-th-distance
    threshold, and only candidates at or under their query's threshold
    (≈ k + ties) reach the final exact-rank window. Two cheap passes
    over the 16-byte/row signature table instead of one pass that
    buffers per-task top-k state.
    """
    lo, hi = sign_signature()
    sig = candidates.select(
        F.col(ID_COL).cast("long").alias("neighbor_id"),
        lo.alias("clo"),
        hi.alias("chi"),
    ).localCheckpoint(eager=False)  # 24 B/row; feeds both passes

    probes = (
        queries.select(
            F.col(ID_COL).cast("long").alias("query_id"),
            lo.alias("qlo"),
            hi.alias("qhi"),
        )
        # ENFORCED probe cap (round-6 VERDICT): limit(cap+1) bounds the
        # collect itself, then the length check rejects oversized probe
        # sets BEFORE a |Q|-struct literal plan is built.
        .limit(max_probes + 1)
        .collect()
    )
    if len(probes) > max_probes:
        raise ValueError(
            f"hamming_topk: probe set exceeds max_probes={max_probes}; "
            "a literal-array plan this wide would blow up plan "
            "compilation. Shrink the probe set, raise max_probes "
            "deliberately, or restructure as a broadcast equi-join "
            "(crossJoin(broadcast(probe_sigs)) + the same histogram "
            "prune) for large probe sets."
        )
    parr = F.array(
        *[
            F.struct(
                F.lit(int(r.query_id)).cast("long").alias("query_id"),
                F.lit(int(r.qlo)).cast("long").alias("qlo"),
                F.lit(int(r.qhi)).cast("long").alias("qhi"),
            )
            for r in probes
        ]
    )
    ex = (
        sig.select("neighbor_id", "clo", "chi", F.explode(parr).alias("p"))
        .select(
            F.col("p.query_id").alias("query_id"),
            "neighbor_id",
            (
                F.bit_count(F.col("clo").bitwiseXOR(F.col("p.qlo")))
                + F.bit_count(F.col("chi").bitwiseXOR(F.col("p.qhi")))
            ).alias("hd"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    # pass 1: distance histogram (map-side combined; ≤ 65·|Q| rows out)
    hist = ex.groupBy("query_id", "hd").agg(F.count("*").alias("n"))
    wq = (
        W.partitionBy("query_id")
        .orderBy("hd")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    thr = (
        hist.withColumn("cum", F.sum("n").over(wq))
        .groupBy("query_id")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("cum") >= k, F.col("hd"))), F.lit(64)
            ).alias("thr")
        )
    )
    # pass 2: keep only candidates at/under their query's k-th distance
    pruned = ex.join(F.broadcast(thr), "query_id").filter(
        F.col("hd") <= F.col("thr")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("hd"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "hd")
    )
