"""Distributed k-means (Lloyd's algorithm) with the classic combiner
pattern: raw vectors NEVER shuffle.

Each iteration is one Arrow-batched ``mapInPandas`` pass that assigns
every vector to its nearest centroid AND emits per-batch partial
statistics — (cell, count, inertia, per-dimension sums) — so the
only data crossing partitions is O(partitions × k × dim) partial rows,
reduced by a tiny groupBy and collected to the driver as the next
k × dim centroid matrix.  That is the shape that survives 100 TB: the
corpus is scanned once per iteration, map-only; state held on the
driver is k × dim numbers.

:func:`lloyd` is that iteration for ``m`` independent subspaces at
once, and :func:`nearest_codes` is its assign kernel.  Both serve
every vector-quantization trainer: float and exact-integer k-means
here, and float and exact-integer product quantization in
:mod:`similarity` (k-means is the m = 1 case).

Reference scope note: the reference crate implements no clustering
(`/root/reference/src/lib.rs:8-10`); north-star extension surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans", "kmeans_exact_quantized"]


def quantize(vec_col: str, scale: int, shift: int = 0) -> Column:
    """Row-local exact quantization of a float vector column to
    ``array<bigint>``: each component widens to double (exact), scales
    by ``scale``, floors, and shifts by ``shift``.  Every step is exact
    in Spark and DuckDB alike, so the quantized vectors are the shared
    input of all exact-replay oracles."""
    add = f" + {shift}" if shift else ""
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {scale}) AS BIGINT){add})"
    )


def sql_bigint_array(a) -> str:
    """A SQL ``BIGINT`` array literal of ``a`` (nested for 2-D input)."""
    a = np.asarray(a)
    if a.ndim > 1:
        return "array({})".format(", ".join(sql_bigint_array(r) for r in a))
    return "array({})".format(", ".join(f"{int(v)}L" for v in a))


def exact_nearest(qv_col: str, cents: np.ndarray) -> Column:
    """SQL twin of :func:`argmin_d2` for the exact-replay operators:
    the index of the nearest row of the int64 matrix ``cents`` to the
    BIGINT array column ``qv_col``, as row-local Catalyst folds over
    broadcast-literal centroids (no shuffle, no Python).

    The argmin is a struct fold that references the distance array
    exactly ONCE: the naive ``array_position(d2s, array_min(d2s))``
    references it twice, and CollapseProject re-inlines all k distance
    folds into both references (plan-pinned in tests/test_plans.py).
    Strict ``<`` keeps the FIRST minimum, matching ``np.argmin`` tie
    semantics; the INT64-max sentinel cannot collide with a real
    squared distance because the quantized inputs are bounded far
    below sqrt(2^63)."""
    d2s = ", ".join(
        f"aggregate(zip_with({qv_col}, {sql_bigint_array(c)},"
        " (x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v)"
        for c in cents
    )
    return F.expr(
        f"aggregate(transform(array({d2s}), (v, i) -> struct(v AS v, i AS i)),"
        " struct(CAST(9223372036854775807 AS BIGINT) AS v,"
        " CAST(-1 AS INT) AS i),"
        " (acc, x) -> IF(x.v < acc.v, x, acc)).i"
    )


def argmin_d2(
    M: np.ndarray, C: np.ndarray, chunk: int = 2048
) -> tuple[np.ndarray, np.ndarray]:
    """(nearest-centroid index, min squared-L2) per row of ``M``
    against every row of ``C`` — the one squared-distance kernel of the
    package.  It keeps the input dtype: float64 inputs give the float
    expansion, int64 inputs stay exact (the exact-replay trainers).

    For ``len(C) <= chunk`` this is the full-matrix expansion trick.
    Beyond that the centroids stream in chunks with a running
    first-min — SemDeDup's contract grows k ∝ corpus (~20k clusters at
    1M vectors), where the dense (batch, k) distance matrix would be
    the assign pass's real memory bound (10k-row batch × 20k centroids
    × 8 B = 1.6 GB); chunking caps it at O(batch × chunk).  Ties keep
    the LOWEST centroid index in both paths (np.argmin takes the first
    minimum; the cross-chunk update uses strict ``<``)."""
    mm = (M * M).sum(axis=1)
    if len(C) <= chunk:
        d2 = mm[:, None] - 2 * (M @ C.T) + (C * C).sum(axis=1)[None, :]
        a = d2.argmin(axis=1)
        return a, d2[np.arange(len(a)), a]
    # The chunked loop drops the row-constant ||M||² term from the
    # comparison (it cannot change any row's argmin) and reuses one
    # (batch, chunk) buffer across chunks — measured 4.3× faster than
    # assembling the full expansion per chunk (the d2 matrix traffic,
    # not the matmul flops, is what bounds this kernel at 16-dim).
    dt = np.result_type(M, C)
    top = np.inf if dt.kind == "f" else np.iinfo(dt).max
    best_c = np.zeros(len(M), dtype=np.int64)
    best_g = np.full(len(M), top, dtype=dt)
    buf = np.empty((len(M), chunk), dtype=dt)
    for s in range(0, len(C), chunk):
        Cc = C[s:s + chunk]
        b = buf[:, : len(Cc)]
        np.matmul(M, Cc.T, out=b)
        b *= -2
        b += (Cc * Cc).sum(axis=1)[None, :]
        a = b.argmin(axis=1)
        g = b[np.arange(len(a)), a]
        upd = g < best_g
        best_g[upd] = g[upd]
        best_c[upd] = a[upd] + s
    return best_c, best_g + mm


def nearest_codes(M: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-subspace nearest centroid — the encode kernel of every
    vector-quantization trainer.  ``C`` is an (m, k, sd) stack of
    codebooks over the m contiguous sd-wide column slices of ``M``;
    returns ``(codes, d2)``, both (len(M), m): the :func:`argmin_d2`
    index and its squared distance per subspace, clamped at 0 (the
    float expansion can round an exact hit slightly below zero; for
    int64 inputs the clamp is a no-op)."""
    m, _, sd = C.shape
    codes = np.empty((len(M), m), dtype=np.int64)
    d2 = np.empty((len(M), m), dtype=np.result_type(M, C))
    for j in range(m):
        codes[:, j], d2[:, j] = argmin_d2(M[:, j * sd:(j + 1) * sd], C[j])
    np.maximum(d2, 0, out=d2)
    return codes, d2


def init_codebooks(
    vecs: DataFrame, id_col: str, vec_col: str, m: int, k: int, dtype, who: str
) -> np.ndarray:
    """Deterministic (m, k, dim/m) starting codebooks: the sub-vectors
    of the k lowest-id vectors (no RNG).  One take-ordered job; the
    dimension comes from these rows, so there is no separate probe."""
    init = vecs.orderBy(id_col).limit(k).select(vec_col).collect()
    if not init:
        raise ValueError(f"{who}: input DataFrame is empty")
    if len(init) < k:
        raise ValueError(f"{who}: k={k} exceeds the {len(init)} available vectors")
    V0 = np.array([r[0] for r in init], dtype=dtype)  # (k, dim)
    dim = V0.shape[1]
    if dim % m != 0:
        raise ValueError(f"{who}: dim {dim} not divisible by m={m}")
    return np.ascontiguousarray(V0.reshape(k, m, dim // m).transpose(1, 0, 2))


def lloyd(
    vecs: DataFrame, vec_col: str, C0: np.ndarray, iterations: int
) -> tuple[np.ndarray, list[tuple[np.ndarray, np.ndarray, float | int]]]:
    """``iterations`` rounds of Lloyd's over the m subspaces of
    ``vec_col`` at once, from the (m, k, sd) codebooks ``C0``.

    Per iteration: one map-only Arrow pass emits per-batch partials
    keyed by ``cell = j*k + c`` (subspace j, centroid c); one groupBy
    sums counts and inertia and folds the per-batch sum vectors
    element-wise inside the aggregate; one collect brings the m·k rows
    to the driver.  That is two Spark jobs per iteration, whatever m.
    The fold buffers (#partials-per-cell × sd) numbers inside one
    reducer — partials are O(partitions × m × k) rows in total.

    The arithmetic follows the dtype of ``C0``: float64 codebooks
    update by true division (partial arrival order varies run to run,
    so sums carry last-bit jitter and callers check invariants);
    int64 codebooks update by FLOOR division of exact sums, and
    integer sums are associative, so every value is bit-replayable in
    SQL.  Empty cells keep their centroid.

    Returns ``(C, history)``: the final codebooks, and per iteration
    ``(codebooks after the update, counts (m, k), total inertia)``.
    """
    spark = vecs.sparkSession
    m, k, sd = C0.shape
    exact = np.issubdtype(C0.dtype, np.integer)
    sql_t = "bigint" if exact else "double"
    divide = np.floor_divide if exact else np.true_divide
    sums_fold = (
        "aggregate(collect_list(sums),"
        f" array_repeat(CAST(0 AS {sql_t}), {sd}),"
        " (acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
    )
    frame = vecs.select(vec_col)
    C = C0
    history: list[tuple[np.ndarray, np.ndarray, float | int]] = []
    for _ in range(iterations):
        c_bc = spark.sparkContext.broadcast(C)

        def partial_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            CC = c_bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.vstack(pdf[vec_col].to_numpy()).astype(CC.dtype)
                codes, d2 = nearest_codes(M, CC)
                rows = []
                for j in range(m):
                    S = M[:, j * sd:(j + 1) * sd]
                    for c in np.unique(codes[:, j]):
                        mask = codes[:, j] == c
                        rows.append(
                            {
                                "cell": j * k + int(c),
                                "cnt": int(mask.sum()),
                                "inertia": d2[mask, j].sum().item(),
                                "sums": S[mask].sum(axis=0).tolist(),
                            }
                        )
                yield pd.DataFrame(rows)

        stats = frame.mapInPandas(
            partial_stats,
            schema=f"cell int, cnt long, inertia {sql_t}, sums array<{sql_t}>",
        )
        agg_rows = stats.groupBy("cell").agg(
            F.sum("cnt").alias("cnt"),
            F.sum("inertia").alias("inertia"),
            F.expr(sums_fold).alias("sums"),
        ).collect()
        counts = np.zeros(m * k, dtype=np.int64)
        new_c = C.reshape(m * k, sd).copy()
        for r in agg_rows:
            counts[r["cell"]] = r["cnt"]
            if r["cnt"] > 0:
                new_c[r["cell"]] = divide(
                    np.asarray(r["sums"], dtype=C.dtype), r["cnt"]
                )
        C = new_c.reshape(m, k, sd)
        inertia = sum(r["inertia"] for r in agg_rows)
        history.append((C, counts.reshape(m, k), inertia))
        c_bc.destroy()
    return C, history


def kmeans(
    df: DataFrame,
    k: int = 10,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, list[float], DataFrame]:
    """Lloyd's k-means over an embedding column.

    Returns ``(centroids, inertia_per_iteration, assignments)`` where
    ``assignments`` is a lazy (id, cluster) DataFrame evaluated against
    the FINAL centroids.  Deterministic: centroids initialize from the
    k lowest-id vectors (no RNG), iteration count is fixed, and the
    per-iteration reduction is a sum whose partition-order FP jitter is
    confined to last-bit noise (callers verify via tolerant booleans,
    not exact hashes).

    Empty clusters keep their previous centroid (the standard fix).
    """
    spark = df.sparkSession
    vecs = df.select(id_col, vec_col)
    C0 = init_codebooks(vecs, id_col, vec_col, 1, k, np.float64, "kmeans")
    C, history = lloyd(vecs, vec_col, C0, iterations)
    inertias = [float(inertia) for _, _, inertia in history]

    final_bc = spark.sparkContext.broadcast(C)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CC = final_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes, _ = nearest_codes(M, CC)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cluster": codes[:, 0].astype("int32")}
            )

    assignments = vecs.mapInPandas(assign, schema=f"{id_col} long, cluster int")
    return C[0], inertias, assignments


def kmeans_exact_quantized(
    df: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    shift: int = 1024,
) -> tuple[list[tuple[int, int, int, int, int, int]], np.ndarray]:
    """Integer-quantized Lloyd's whose EVERY arithmetic step is exact,
    so the full per-iteration trajectory is cross-engine hashable — the
    full-value oracle twin of :func:`kmeans` (whose float centroid
    means carry partition-order last-bit jitter and can only be
    invariant-checked).

    Quantization (:func:`quantize`, row-local, exact in both engines):
    each float32 component widens to double, scales by ``scale``,
    floors to a BIGINT, and shifts by ``shift`` so every quantized
    value is nonnegative (distances are shift-invariant; nonnegative
    sums keep floor-division semantics identical everywhere).  From
    there :func:`lloyd` runs in int64: squared-L2 distances,
    first-minimum (lowest cluster index) argmin ties, centroid update
    by FLOOR division of exact sums, empty clusters keeping their
    previous centroid.  The DuckDB oracle replays the identical
    ``iterations`` rounds in unrolled SQL and must land on the
    identical trajectory.

    Returns ``(trajectory, centroids)``: the trajectory as plain rows
    ``(iter, cluster, pos, centroid_q, cluster_n, iter_inertia)`` —
    k × dim rows per iteration, centroids AFTER that iteration's
    update — plus the final k × dim int64 centroid matrix (for exact
    downstream assignment, e.g. :func:`dedup.semantic_dedup_exact`).
    """
    qv = df.select(F.col(id_col), quantize(vec_col, scale, shift).alias("qv"))
    C0 = init_codebooks(qv, id_col, "qv", 1, k, np.int64, "kmeans_exact_quantized")
    C, history = lloyd(qv, "qv", C0, iterations)
    trajectory: list[tuple[int, int, int, int, int, int]] = []
    for it, (cents, counts, inertia) in enumerate(history, start=1):
        for c in range(k):
            for p in range(cents.shape[2]):
                trajectory.append(
                    (it, c, p, int(cents[0, c, p]), int(counts[0, c]), int(inertia))
                )
    return trajectory, C[0]
