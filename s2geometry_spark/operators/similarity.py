"""Similarity search over the `embeddings` table (array<float> column).

- brute-force cosine top-k: exact baseline, pure JVM (zip_with +
  aggregate in double precision, no Python);
- sign-LSH bucketed ANN: deterministic random-hyperplane signs derived
  from md5 of the dimension index (no RNG at plan time), bucket join →
  candidates → exact re-rank.  The scale path: candidates per query are
  O(corpus/2^bits) instead of O(corpus);
- IVF ANN: a hash-sampled codebook (collect-once, rides as expression
  literals), map-only nearest-list assignment, nprobe-list probe join,
  exact re-rank.  Candidates per query are O(corpus·nprobe/C).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# ---------------------------------------------------------------------------
# Codegen forms of the fold expressions above.  The interpreted
# higher-order functions cost ~80 ns/element/row; unrolled to a fixed
# dimension they become one whole-stage-codegen arithmetic chain.  Every
# unroll replays the HOF's left fold (0.0 + t1 + ... + tn, same
# association, same casts) so values are BIT-IDENTICAL, and a CASE guard
# falls back to the interpreted form for any row whose dimension differs
# (the HOF's exact semantics for ragged input).  Expressions are built as
# ONE SQL string — a single py4j round trip; term-by-term Column-API
# construction measurably costs more driver time than the execution.


def _sql_double(v: float) -> str:
    """A SQL literal reproducing the exact double `v` (repr round-trips;
    decimal/scientific parse + CAST AS DOUBLE are correctly rounded).
    Non-finite values have no numeric literal: they go through the
    string cast Spark accepts (`double('NaN')`, `double('-Infinity')`)."""
    v = float(v)
    if math.isnan(v):
        return "double('NaN')"
    if math.isinf(v):
        return "double('Infinity')" if v > 0 else "double('-Infinity')"
    return f"CAST({v!r} AS DOUBLE)"


def _dot_codegen(qc: str, cc: str, dim: int):
    """Codegen dot of two array columns (by NAME, SQL-resolvable)."""
    if dim <= 0:
        return _dot(F.col(qc), F.col(cc))
    terms = " + ".join(
        f"(CAST({qc}[{i}] AS DOUBLE) * CAST({cc}[{i}] AS DOUBLE))"
        for i in range(dim)
    )
    unrolled = F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")
    return F.when(
        (F.size(qc) == dim) & (F.size(cc) == dim), unrolled
    ).otherwise(_dot(F.col(qc), F.col(cc)))


def _norm_codegen(col: str, dim: int):
    """Codegen L2 norm of an array column (by NAME)."""
    if dim <= 0:
        return _norm(F.col(col))
    terms = " + ".join(
        f"(CAST({col}[{i}] AS DOUBLE) * CAST({col}[{i}] AS DOUBLE))"
        for i in range(dim)
    )
    unrolled = F.sqrt(F.expr(f"CAST(0.0 AS DOUBLE) + {terms}"))
    return F.when(F.size(col) == dim, unrolled).otherwise(_norm(F.col(col)))


def _py_norm(vals) -> float:
    """Python mirror of `_norm` over a literal vector: the same left fold
    (0.0 + v0*v0 + v1*v1 + ...) in IEEE binary64, then a correctly-rounded
    sqrt — bit-identical to evaluating `_norm(F.array(lits))` in the JVM,
    without shipping an interpreted fold that the optimizer cannot
    constant-fold (it re-runs per row)."""
    import math

    acc = 0.0
    for v in vals:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


# Unrolled-codegen gate: the unrolls win 2-4x per ROW once compiled
# (measured at 500k rows: centroid scores 0.62 vs 1.4-1.6 s, PQ encode
# 2.2-2.6 vs 5.3-9.9 s, bucket bits 0.65 vs 1.2 s, norm 0.17 vs 0.9 s)
# but cost a few seconds of per-query FIXED overhead (optimizer walks +
# janino compilation of ~100-term trees), which dominates tiny scans
# (2k-row fixture: ivf 2.0 s -> 8.5 s).  Gate on the scan's estimated
# bytes — scale-adaptive (derived from input size, not core count); both
# plans produce bit-identical results (parity-tested in
# tests/test_ann_codegen_parity.py).
_CODEGEN_MIN_BYTES = 32 * 1024 * 1024


def _want_codegen(emb: DataFrame) -> bool:
    try:
        stats = emb._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes()) >= _CODEGEN_MIN_BYTES
    except Exception:
        return True  # unknown source: prefer the at-scale plan


def _spread_single_file_scan(emb: DataFrame, side: DataFrame) -> DataFrame:
    """A single-file corpus scan gives a pair join one task; spread it
    when the scan's parallelism is far below the session's (inputFiles ≈
    scan splits for small files; empty for non-file sources, which keep
    their existing partitioning).  Row-identical: repartition only moves
    rows."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    n_files = len(emb.inputFiles())
    if 0 < n_files < max(4, par // 4):
        return side.repartition(par)
    return side


def cosine_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5, round_digits: int = 6
) -> DataFrame:
    """Exact top-k cosine neighbors for vec_id < n_queries.

    The query side is tiny → broadcast; the corpus side streams once.
    Scores are rounded so the result is engine-independent; ranking uses
    (rounded score desc, vec_id) to be deterministic under ties.
    """
    # Probe the (fixed) embedding dimension once: with it, the dot product
    # unrolls into a codegen sum of array-index products instead of an
    # interpreted higher-order aggregate; norms are computed ONCE PER ROW
    # on each side before the pair join instead of once per pair.  Both
    # rewrites are bit-exact: the unrolled sum replays the aggregate's
    # left fold (0.0 + t1 + ... + tn), and a CASE guard falls back to the
    # aggregate form for any row whose dimension differs.  The unrolled
    # expression is built as ONE SQL string (a single py4j round trip +
    # JVM parse — building it term-by-term through the Column API cost
    # more driver time than the query's execution).
    first = emb.select(F.size("embedding").alias("n")).first()
    dim = int(first["n"]) if first is not None else 0
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm_codegen("embedding", dim).alias("_qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        _norm_codegen("embedding", dim).alias("_cn"),
    )
    c = _spread_single_file_scan(emb, c)
    pairs = c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
    # q_emb[i] is 0-based GetArrayItem: null out of bounds, exactly
    # like the zip_with padding in the fallback
    cos = _dot_codegen("q_emb", "c_emb", dim) / (F.col("_qn") * F.col("_cn"))
    scored = pairs.select(
        "query_id", "cand_id", F.round(cos, round_digits).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, bits: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes: sign from md5("h|<bit>|<dim>")."""
    H = np.empty((bits, dim), dtype=np.float64)
    for b in range(bits):
        for d in range(dim):
            h = hashlib.md5(f"h|{b}|{d}".encode()).hexdigest()
            H[b, d] = 1.0 if int(h[0], 16) < 8 else -1.0
    return H


def lsh_bucket_expr(emb_col, planes: np.ndarray, col_name: str | None = None):
    """Bucket id = sign bits against the fixed hyperplanes, as one JVM
    expression per bit (aggregate over the array).

    With `col_name`, each bit's signed sum is unrolled into a codegen
    chain over that column (guarded on the row's dimension matching the
    hyperplane's; the interpreted fold remains the ragged-row fallback) —
    values bit-identical, see the module helpers."""
    bits = []
    for j, row in enumerate(planes):
        signed = F.aggregate(
            F.zip_with(
                emb_col,
                F.array(*[F.lit(float(v)) for v in row]),
                lambda x, h: x.cast("double") * h,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        if col_name is not None and len(row) > 0:
            terms = " + ".join(
                f"(CAST({col_name}[{d}] AS DOUBLE) * {_sql_double(v)})"
                for d, v in enumerate(row)
            )
            unrolled = F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")
            signed = F.when(F.size(col_name) == len(row), unrolled).otherwise(
                signed
            )
        bits.append(F.when(signed >= 0, F.lit(1 << j)).otherwise(0))
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out


def ann_lsh_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    bits: int = 6,
    dim: int = 64,
    round_digits: int = 6,
    multiprobe: bool = True,
    codegen: bool | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the sign-LSH bucket, then
    exact cosine re-rank inside the bucket.

    With `multiprobe`, each query also probes every 1-bit-flip neighbor
    bucket (bits+1 probes total) — vectors near a hyperplane land in the
    adjacent bucket, so single-probe recall cliffs on boundary vectors;
    probing the Hamming-1 shell recovers them at (bits+1)/2^bits of the
    corpus instead of a full scan.  Probes are distinct buckets, so no
    candidate dedup shuffle is needed."""
    planes = _hyperplanes(dim, bits)
    use_cg = codegen if codegen is not None else _want_codegen(emb)
    dim_cg = dim if use_cg else 0  # dim<=0 keeps the interpreted forms
    bucketed = emb.withColumn(
        "bucket",
        lsh_bucket_expr(
            F.col("embedding"), planes, col_name="embedding" if use_cg else None
        ),
    )
    # per-SIDE norms before the pair join (was: interpreted per pair)
    q = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        _norm_codegen("embedding", dim_cg).alias("_qn"),
    )
    if multiprobe:
        probe_arr = F.array(
            F.col("q_bucket"),
            *[F.col("q_bucket").bitwiseXOR(F.lit(1 << j)) for j in range(bits)],
        )
        q = q.withColumn("q_bucket", F.explode(probe_arr))
    c = bucketed.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
        _norm_codegen("embedding", dim_cg).alias("_cn"),
    )
    c = _spread_single_file_scan(emb, c)
    pairs = c.join(
        F.broadcast(q),
        (F.col("c_bucket") == F.col("q_bucket"))
        & (F.col("cand_id") != F.col("query_id")),
    )
    cos = _dot_codegen("q_emb", "c_emb", dim_cg) / (F.col("_qn") * F.col("_cn"))
    scored = pairs.select(
        "query_id", "cand_id", F.round(cos, round_digits).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _ivf_centroids(emb: DataFrame, n_centroids: int) -> list[list[float]]:
    """Deterministic IVF codebook: the `n_centroids` corpus vectors with
    the smallest md5(vec_id) — a hash-spread sample (the standard random
    init of IVF training), reproducible in SQL.  Returned in vec_id
    order; centroid id = position in that order.

    Driver-held state is the codebook only (C × dim doubles) — the train
    step of a real IVF; at 100 TB this is the same collect-once →
    broadcast-expression shape.
    """
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_centroids)
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    return [[float(x) for x in r["embedding"]] for r in rows]


def _centroid_scores(
    emb_col,
    cents: list[list[float]],
    col_name: str | None = None,
    norm=None,
):
    """array<double> of UNROUNDED cosines against each codebook
    centroid, as one JVM expression (the centroids ride as literals —
    no join, no shuffle for the assignment pass).  Unrounded on purpose:
    the sequential fold produces bit-identical doubles in Spark, DuckDB
    (list_aggregate 'sum') and the pandas path's d-ordered accumulation,
    so argmax/ordering agrees everywhere without a rounding rule.

    With `col_name` + `norm` (a column holding this row's `_norm` value,
    hoisted by the caller so it is computed ONCE instead of once per
    centroid), each centroid's dot unrolls into a guarded codegen chain
    and the CENTROID norm — a constant the optimizer cannot fold out of
    the interpreted aggregate, so it re-ran per row — is computed once in
    Python by the same left fold (`_py_norm`, bit-identical).  Measured
    at 500k rows: 0.62 s vs 1.4-1.6 s for the interpreted form; a variant
    that inlined the row norm per centroid built a tree too large for
    HotSpot's JIT and was SLOWER than the interpreted form at every scale
    (2.6 vs 1.6 s) — the norm hoist is what makes the unroll viable.
    Ragged rows keep the interpreted form via the standard size guard."""
    scores = []
    for c in cents:
        lit = F.array(*[F.lit(v) for v in c])
        if col_name is not None and norm is not None and len(c) > 0:
            ndim = len(c)
            slow_dot = _dot(emb_col, lit)
            terms = " + ".join(
                f"(CAST({col_name}[{i}] AS DOUBLE) * {_sql_double(v)})"
                for i, v in enumerate(c)
            )
            fast_dot = F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")
            dot = F.when(F.size(col_name) == ndim, fast_dot).otherwise(slow_dot)
            scores.append(dot / (norm * F.lit(_py_norm(c))))
        else:
            scores.append(_dot(emb_col, lit) / (_norm(emb_col) * _norm(lit)))
    return F.array(*scores)


# Above this codebook size the per-centroid expression tree stops being
# reasonable to compile; production IVF wants C in the thousands, so the
# large-C path ships the codebook inside an Arrow-batched pandas UDF.
IVF_EXPR_MAX_CENTROIDS = 64


def _ivf_probe_udf(cents: list[list[float]], m: int):
    """pandas UDF `embedding -> array<int>`: the m nearest codebook list
    ids (cosine desc, id asc).  Arithmetic is ELEMENTWISE d-ordered
    accumulation — the same operation order as the JVM fold in
    `_centroid_scores`, hence bit-identical scores (np.dot/BLAS would
    FMA-fuse and drift in the last ulp; see the buffer-trace precedent
    in kernel/booleans.py)."""
    H = np.asarray(cents, dtype=np.float64)  # (C, dim)
    nh = np.zeros(len(H))
    for d in range(H.shape[1]):
        nh = nh + H[:, d] * H[:, d]
    nh = np.sqrt(nh)

    @F.pandas_udf("array<int>")
    def probe(emb: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        acc = np.zeros((X.shape[0], H.shape[0]))
        nx = np.zeros(X.shape[0])
        for d in range(X.shape[1]):
            acc = acc + X[:, d : d + 1] * H[:, d][None, :]
            nx = nx + X[:, d] * X[:, d]
        cos = acc / (np.sqrt(nx)[:, None] * nh[None, :])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :m]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe


def ann_ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    round_digits: int = 6,
    plan: str | None = None,
    codegen: bool | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to the
    nearest-codebook inverted list; each query scans only its `nprobe`
    closest lists, then exact cosine re-rank.

    Plan shape (the 100-TB contract): assignment is a map-only pass
    (the fact table never shuffles); the probe join broadcasts the
    query side; the only shuffle is the per-query top-k window.
    Candidates per query are O(corpus·nprobe/C) instead of O(corpus).
    Assignment/probe ordering uses UNROUNDED sequential-fold cosines
    (bit-identical across Spark expressions, the pandas path, and the
    DuckDB mirror in functions/oracles.ann_ivf_sql) with smaller-id
    tie breaks, so the result is engine- and plan-independent.

    Two size-gated plans (`plan` forces one): `expr` ships the codebook
    as expression literals (pure JVM, fixture scale); above
    IVF_EXPR_MAX_CENTROIDS, `pudf` ships it inside an Arrow-batched
    pandas UDF whose d-ordered accumulation reproduces the fold
    bit-for-bit — production C (thousands of lists) stays one map-only
    pass either way.
    """
    use_cg = codegen if codegen is not None else _want_codegen(emb)
    cents = _ivf_centroids(emb, n_centroids)
    dim = len(cents[0]) if cents else 0
    dim_cg = dim if use_cg else 0
    mode = plan or ("expr" if n_centroids <= IVF_EXPR_MAX_CENTROIDS else "pudf")
    # row norm hoisted to a real column: computed once, shared by every
    # centroid score AND reused as the re-rank norm below
    emb = emb.withColumn("_n", _norm_codegen("embedding", dim_cg))
    if mode == "expr":
        scores = _centroid_scores(
            F.col("embedding"),
            cents,
            col_name="embedding" if use_cg else None,
            norm=F.col("_n"),
        )
        list_id = (
            F.array_position(F.col("s"), F.array_max("s")) - 1
        ).cast("int")
        assigned = (
            emb.withColumn("s", scores).withColumn("list_id", list_id).drop("s")
        )
        # top-nprobe lists per query: sort (−score, centroid_id) asc —
        # score desc with smaller-id tie-break, the oracle's window rule.
        probe_arr = F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        scores,
                        lambda s, j: F.struct(
                            (-s).alias("ns"), j.cast("int").alias("j")
                        ),
                    )
                ),
                1,
                nprobe,
            ),
            lambda x: x["j"],
        )
    else:
        assign_udf = _ivf_probe_udf(cents, 1)
        probe_udf = _ivf_probe_udf(cents, nprobe)
        assigned = emb.withColumn(
            "list_id", F.element_at(assign_udf(F.col("embedding")), 1)
        )
        probe_arr = probe_udf(F.col("embedding"))
    c = assigned.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        "list_id",
        F.col("_n").alias("_cn"),
    )
    c = _spread_single_file_scan(emb, c)
    q = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(probe_arr).alias("q_list"),
            F.col("_n").alias("_qn"),
        )
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("list_id") == F.col("q_list")) & (F.col("cand_id") != F.col("query_id")),
    )
    cos = _dot_codegen("q_emb", "c_emb", dim_cg) / (F.col("_qn") * F.col("_cn"))
    scored = pairs.select(
        "query_id", "cand_id", F.round(cos, round_digits).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _d2(a, b):
    """Sequential-fold squared L2 distance between two array columns —
    the PQ assignment metric, bit-identical to the DuckDB mirror
    (functions/oracles._D2_SQL) by the same left-fold discipline as
    `_dot`."""
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


def _pq_codewords(
    emb: DataFrame, n_codewords: int, m_subspaces: int
) -> tuple[list[list[list[float]]], int]:
    """Deterministic PQ codebook: the same md5-spread row sample as IVF
    (`_ivf_centroids`), split into `m_subspaces` contiguous sub-vectors.
    cw[j][c] is codeword c of subspace j.  Returns (cw, dsub)."""
    cents = _ivf_centroids(emb, n_codewords)
    dim = len(cents[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m={m_subspaces}")
    dsub = dim // m_subspaces
    cw = [
        [c[j * dsub : (j + 1) * dsub] for c in cents]
        for j in range(m_subspaces)
    ]
    return cw, dsub


# Expression-path guard: the assignment pass compiles K*m sub-distance
# folds of dsub terms each.  Production PQ (K=256, m=16+) would ship the
# codebook in an Arrow pandas UDF exactly like IVF's pudf plan; at that
# point the oracle contract stays the fixture-scale expr path.
PQ_EXPR_MAX_FOLDS = 512


def ann_pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_codewords: int = 8,
    m_subspaces: int = 4,
    r_candidates: int = 20,
    round_digits: int = 6,
    codegen: bool | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al., PAMI 2011 — the
    standard embedding-scale index next to IVF):

      1. train: an md5-spread row sample becomes K codewords per
         subspace (collect-once, same shape as IVF's train step);
      2. encode: each corpus vector maps to m one-byte codes — argmin
         squared-L2 per subspace, smaller code on ties (map-only pass,
         the fact table never shuffles; at 100 TB the codes table is
         the persisted index: m bytes/doc instead of 4·dim);
      3. scan: each query precomputes an m×K lookup table of sub-dot
         products (broadcast with the query), so a candidate's
         asymmetric-distance score is m table probes instead of a
         dim-length dot — candidates ranked by ADC, top `r_candidates`
         kept per query (the only shuffle);
      4. re-rank: exact rounded cosine over the survivors, final top-k.

    Every score the ORDERING touches (sub-d2, ADC terms, the j-ascending
    ADC sum) is a sequential left fold, bit-identical across the Spark
    expression form and the DuckDB mirror (functions/oracles.ann_pq_sql),
    with smaller-id tie-breaks — so candidate sets and ranks agree
    engine-independently.  Output cosines are rounded like the other ANN
    paths."""
    cw, dsub = _pq_codewords(emb, n_codewords, m_subspaces)
    if n_codewords * m_subspaces > PQ_EXPR_MAX_FOLDS:
        raise ValueError(
            "codebook too large for the expression path "
            f"({n_codewords}x{m_subspaces}); ship it in a pandas UDF "
            "(see ann_ivf_topk's pudf plan)"
        )

    dim = dsub * m_subspaces
    use_cg = codegen if codegen is not None else _want_codegen(emb)
    dim_cg = dim if use_cg else 0

    def sub(col, j):
        return F.slice(col, j * dsub + 1, dsub)

    def _sub_d2_slow(j, c):
        return _d2(
            sub(F.col("embedding"), j),
            F.array(*[F.lit(float(v)) for v in cw[j][c]]),
        )

    def _sub_dot_slow(j, c):
        return _dot(
            sub(F.col("embedding"), j),
            F.array(*[F.lit(float(v)) for v in cw[j][c]]),
        )

    # codegen unrolls of the two sub-vector folds (guarded on the row's
    # dimension; slice(col, j*dsub+1, dsub)[i] == col[j*dsub+i] 0-based)
    def _sub_d2_fast(j, c):
        terms = " + ".join(
            f"((CAST(embedding[{j * dsub + i}] AS DOUBLE) - {_sql_double(v)})"
            f" * (CAST(embedding[{j * dsub + i}] AS DOUBLE) - {_sql_double(v)}))"
            for i, v in enumerate(cw[j][c])
        )
        return F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")

    def _sub_dot_fast(j, c):
        terms = " + ".join(
            f"(CAST(embedding[{j * dsub + i}] AS DOUBLE) * {_sql_double(v)})"
            for i, v in enumerate(cw[j][c])
        )
        return F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")

    size_ok = F.size("embedding") == dim

    def _sub_d2(j, c):
        if not use_cg:
            return _sub_d2_slow(j, c)
        return F.when(size_ok, _sub_d2_fast(j, c)).otherwise(_sub_d2_slow(j, c))

    def _sub_dot(j, c):
        if not use_cg:
            return _sub_dot_slow(j, c)
        return F.when(size_ok, _sub_dot_fast(j, c)).otherwise(_sub_dot_slow(j, c))

    # -- encode: per-subspace argmin code, first-min = smallest code id
    def _code(j):
        d2s = F.array(*[_sub_d2(j, c) for c in range(n_codewords)])
        return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")

    codes = F.array(*[_code(j) for j in range(m_subspaces)])
    coded = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        codes.alias("codes"),
    )
    coded = _spread_single_file_scan(emb, coded)
    # -- query LUT: flat j-major array of sub-dot products (m*K doubles)
    lut = F.array(
        *[
            _sub_dot(j, c)
            for j in range(m_subspaces)
            for c in range(n_codewords)
        ]
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        lut.alias("lut"),
    )
    pairs = coded.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
    # ADC = sum_j lut[j*K + codes[j]], j ascending, left-associated — the
    # SQL mirror writes the same m-term chain.
    adc = F.element_at("lut", F.lit(1) + F.element_at("codes", 1))
    for j in range(1, m_subspaces):
        adc = adc + F.element_at(
            "lut", F.lit(j * n_codewords + 1) + F.element_at("codes", j + 1)
        )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("cand_id").asc()
    )
    cands = (
        pairs.select("query_id", "q_emb", "cand_id", "c_emb", adc.alias("adc"))
        .withColumn("arank", F.row_number().over(w_adc))
        .filter(F.col("arank") <= r_candidates)
    )
    # re-rank runs on the r_candidates survivors only — norms stay inline
    # (widening the ADC window rows with precomputed norms would cost
    # more shuffle bytes than the fold it saves)
    cos = _dot_codegen("q_emb", "c_emb", dim_cg) / (
        _norm_codegen("q_emb", dim_cg) * _norm_codegen("c_emb", dim_cg)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        cands.select(
            "query_id", "cand_id", F.round(cos, round_digits).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95, bits: int = 8, dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking + exact
    threshold filter (the embedding analog of MinHash dedup)."""
    planes = _hyperplanes(dim, bits)
    # bucket bits unrolled to codegen; per-SIDE norm computed once before
    # the self-join (was: interpreted per pair)
    bucketed = emb.withColumn(
        "bucket", lsh_bucket_expr(F.col("embedding"), planes, col_name="embedding")
    ).withColumn("_n", _norm_codegen("embedding", dim))
    bucketed = _spread_single_file_scan(emb, bucketed)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = _dot_codegen("a.embedding", "b.embedding", dim) / (
        F.col("a._n") * F.col("b._n")
    )
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(cos, round_digits).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
