"""Similarity search over an embedding column (``array<float>``).

Two paths:

* **Brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set, score every corpus vector, window-rank per query.
  At scale this is one broadcast + a single map stage + a top-k
  aggregation; no O(n²) shuffle.  Used as the recall oracle.
* **LSH-bucketed ANN** — random-hyperplane (sign) LSH: ``nbits``
  deterministic hyperplanes (seeded hash, not stored), vectors hash to
  code buckets; neighbors are sought in matching buckets across
  ``ntables`` independent tables.  Candidate generation is an equi-join
  on (table, code) — shuffle volume is codes, not vectors.  This is the
  100 TB path: bucket sizes stay bounded, and probing more tables trades
  cost for recall.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_randgen_spark.functions.vectors import cosine_similarity  # noqa: F401 (API)
from datafusion_randgen_spark.operators import clustering
from datafusion_randgen_spark.pinning import pin


@F.pandas_udf(T.DoubleType())
def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine over two array columns, one numpy matmul per Arrow
    batch.  The Catalyst HOF version (``functions.vectors``) is
    CodegenFallback — interpreted per element, ~1000× slower on wide
    scoring joins — so every scoring hot path goes through this UDF.
    Math is float64, matching the DuckDB oracle to ~1e-15 (rounded to 6
    decimals before any comparison)."""
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(num / den)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    Self-matches excluded.  Ties broken by neighbor id on the ROUNDED
    similarity so results are reproducible across float reassociation.

    Scale shape: the query matrix rides inside the mapInPandas closure
    (queries are small by contract — that's what makes brute force
    sane), so the corpus streams through ONCE as Arrow batches and each
    batch does a single (batch × dim)·(dim × n_queries) matmul + a
    batch-local top-k.  Only n_batches × n_queries × k candidate rows
    ever leave Python — versus a crossJoin's corpus × queries rows.
    The final global top-k is a window over those candidates.
    """
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        # np.stack([]) would raise; zero queries -> zero result rows
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)

    def score(batches):
        for pdf in batches:
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            M = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
            S = np.round(M @ Qn.T, 6)  # (n, q) — rounded BEFORE ranking
            kk = min(k, len(ids))
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                s = np.where(ids == qid, -np.inf, S[:, j])
                # top-k by (sim desc, neighbor_id asc): lexsort is stable
                order = np.lexsort((ids, -s))[:kk]
                keep = order[np.isfinite(s[order])]
                out_q.append(np.full(len(keep), qid))
                out_n.append(ids[keep])
                out_s.append(s[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(score, "query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _hyperplane(dim: int, table: int, bit: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-random unit hyperplane — splitmix64-ish hash
    of (seed, table, bit, dim_index) mapped to [-1, 1).  Recomputable
    anywhere (driver or executor) without storing state."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        idx = np.arange(dim, dtype=np.uint64)
        x = (
            idx
            + np.uint64(0x9E3779B97F4A7C15) * np.uint64(1 + bit)
            + np.uint64(0xBF58476D1CE4E5B9) * np.uint64(1 + table)
            + np.uint64(seed)
        )
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x.astype(np.float64) / 2.0**63) - 1.0


def hyperplane_codes(
    df: DataFrame,
    dim: int,
    nbits: int = 8,
    ntables: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, code): sign-LSH code per hash table.

    One Arrow-batched pandas UDF does ALL tables' codes with a single
    (batch × dim) @ (dim × ntables·nbits) matmul — the hyperplanes are
    recomputed inside the worker from (seed, table, bit), so nothing is
    broadcast or stored.  (A first attempt unrolled the dot products as
    ~4k Catalyst expressions per row — codegen exploded; a matmul in
    NumPy is the right tool at any scale.)
    """
    planes = np.stack(
        [_hyperplane(dim, t, b, seed) for t in range(ntables) for b in range(nbits)],
        axis=1,
    )  # (dim, ntables*nbits)
    bit_weights = (1 << np.arange(nbits, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def codes_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())[:, :dim].astype(np.float64)  # (n, dim)
        signs = (mat @ planes) > 0  # (n, ntables*nbits)
        per_table = signs.reshape(len(mat), ntables, nbits)
        codes = (per_table * bit_weights).sum(axis=2)  # (n, ntables)
        return pd.Series(list(codes))

    return (
        df.select(F.col(id_col).alias("id"), codes_udf(F.col(vec_col)).alias("codes"))
        .select("id", F.posexplode("codes").alias("table", "code"))
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nbits: int = 8,
    ntables: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates from matching (table, code) buckets,
    exact cosine on candidates only, window-rank.  Recall grows with
    ntables; cost grows with bucket collision volume."""
    c_codes = hyperplane_codes(corpus, dim, nbits, ntables, seed, id_col, vec_col)
    q_codes = hyperplane_codes(queries, dim, nbits, ntables, seed, id_col, vec_col)
    cand = (
        c_codes.alias("c")
        .join(
            q_codes.alias("q"),
            (F.col("c.table") == F.col("q.table")) & (F.col("c.code") == F.col("q.code")),
        )
        .filter(F.col("c.id") != F.col("q.id"))
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("sim", F.round(_cosine_batch(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id): assign each vector to its ``n_probe`` nearest
    centroids by cosine.  One pandas-UDF matmul per Arrow batch against
    the (small, broadcast-in-closure) centroid matrix — a pure map
    stage, no shuffle, no per-centroid join."""
    cent_ids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cent_mat = np.stack([np.asarray(v, dtype=np.float64) for _, v in centroids])
    cent_mat = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    probe = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def assign_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cent_mat.T  # (n, n_centroids)
        top = np.argsort(-sims, axis=1)[:, :probe]
        return pd.Series(list(cent_ids[top]))

    return df.select(
        F.col(id_col).alias("id"), F.explode(assign_udf(F.col(vec_col))).alias("centroid_id")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid seeds: the ``n_clusters`` corpus vectors
    with the smallest ``xxhash64(id, seed)`` — an unbiased seeded sample
    computed with one top-k (takeOrdered-style limit), no k-means
    iterations.  At 100 TB the sample is a single scan + tiny limit;
    refining with one Lloyd step is an optional extra scan."""
    rows = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"),
        )
        .orderBy("h")
        .limit(n_clusters)
        .collect()
    )
    return [(int(r.id), [float(x) for x in r.v]) for r in rows]


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_clusters`` inverted
    lists (nearest-centroid assignment), probe each query's ``n_probe``
    closest lists, exact-score only the probed candidates.

    Scale shape: corpus assignment is one map stage; the candidate join
    is an equi-join on centroid_id (shuffle volume = corpus rows ×
    1, queries × n_probe — never O(n²)); scoring is the batched-matmul
    UDF on candidates only.  Everything is seeded → deterministic, so
    recall properties are stable for the oracle.
    """
    cents = ivf_centroids(corpus, n_clusters, seed, id_col, vec_col)
    c_assign = ivf_assign(corpus, cents, 1, id_col, vec_col)
    q_assign = ivf_assign(queries, cents, n_probe, id_col, vec_col)
    cand = (
        c_assign.alias("c")
        .join(F.broadcast(q_assign.alias("q")), "centroid_id")
        .filter(F.col("c.id") != F.col("q.id"))
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("sim", F.round(_cosine_batch(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product quantization (Jégou/Douze/Schmid, TPAMI 2011) — the
    compression behind every billion-vector ANN index: split each
    vector into ``m`` sub-vectors, learn an independent k-means
    codebook per subspace, and encode each vector as ``m`` sub-centroid
    ids (``m·log2(k)`` bits — here 4×4 = 2 bytes per 64-dim vector vs
    256 for fp32).

    Returns ``(codebooks, inertia_per_iteration, assignments)``:
    codebooks is an (m, k, dim/m) ndarray, assignments a lazy
    ``(id, codes array<int>, recon_se double)`` frame against the
    final codebooks (recon_se = squared reconstruction error).

    Training is :func:`clustering.lloyd` over m subspaces — the same
    loop as :func:`clustering.kmeans` (which is the m = 1 case): all m
    codebooks train in the SAME map-only Arrow pass per iteration, one
    groupBy + collect reduces the O(partitions × m × k) partial rows,
    raw vectors never shuffle, and driver state is the m×k×(dim/m)
    tensor.  Deterministic: codebooks init from the k lowest-id
    vectors' sub-vectors, fixed iteration count, argmin ties break low
    (identical vectors ⇒ identical codes).  Empty clusters keep their
    centroid (the standard fix)."""
    spark = embeddings.sparkSession
    vecs = embeddings.select(id_col, vec_col)
    C0 = clustering.init_codebooks(vecs, id_col, vec_col, m, k, np.float64, "pq_train")
    C, history = clustering.lloyd(vecs, vec_col, C0, iterations)
    inertias = [float(inertia) for _, _, inertia in history]

    fbc = spark.sparkContext.broadcast(C)

    def assign(batches):
        CC = fbc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes, d2 = clustering.nearest_codes(M, CC)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": codes.astype(np.int32).tolist(),
                    "recon_se": d2.sum(axis=1),
                }
            )

    assignments = vecs.mapInPandas(
        assign, schema=f"{id_col} long, codes array<int>, recon_se double"
    )
    return C, inertias, assignments


def ivfpq_train(
    embeddings: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF-PQ — the composition behind FAISS's billion-vector indexes:
    a coarse k-means quantizer partitions the space into ``n_cells``
    inverted lists, and PQ codebooks are trained on the RESIDUALS
    ``v - c_cell(v)`` (residuals concentrate near 0, so the same k
    centroids per subspace quantize them far more accurately than raw
    vectors).  Search probes a few cells and ADC-scores only their
    code lists — cell-local, never the whole corpus.

    Returns ``(coarse_centroids (n_cells, dim), pq_codebooks
    (m, k, dim/m), pq_inertias, assignments)`` where assignments is
    ``(id, cell int, codes array<int>, recon_se double)``.

    Scale shape: coarse training is the combiner-pattern Lloyd's
    (vectors never shuffle); the residual pass is ONE map-only Arrow
    projection (checkpointed — it feeds PQ training's iterations and
    the final join); PQ training is :func:`pq_train`'s single-pass-
    per-iteration form.  Driver state: (n_cells + m·k)·dim floats."""
    spark = embeddings.sparkSession
    coarse, _, _ = clustering.kmeans(
        embeddings, k=n_cells, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    bc = spark.sparkContext.broadcast(coarse)

    def resid(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            a, _ = clustering.argmin_d2(M, C)
            R = M - C[a]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": a.astype("int32"),
                    vec_col: R.tolist(),
                }
            )

    res_df = (
        embeddings.select(id_col, vec_col)
        .mapInPandas(
            resid, schema=f"{id_col} long, cell int, {vec_col} array<double>"
        )
    )
    res_df = pin(res_df)
    pq_c, inertias, asg = pq_train(
        res_df, m=m, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    assignments = res_df.select(id_col, "cell").join(asg, id_col)
    return coarse, pq_c, inertias, assignments


def _adc_score():
    """``Σ_j lut[j][codes[j]]`` — the ADC distance of one code row to
    one query's per-subspace lookup table, as a pure-Catalyst
    indexed-array fold (no Python)."""
    return F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, j: F.element_at(
                F.element_at(F.col("lut"), (j + F.lit(1)).cast("int")),
                (c + F.lit(1)).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivfpq_adc_scores(
    codes_df: DataFrame,
    luts_df: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cell-probed ADC: ``luts_df`` holds one (query_id, cell, lut) row
    per PROBED cell — the lut is built from the query's residual
    against that cell's coarse centroid — and scoring is an equi-join
    on the cell id, so only the probed inverted lists are read (the
    IVF point: cost ∝ probed cells, not corpus).  The scoring fold is
    the same pure-Catalyst indexed-array expression as
    :func:`pq_adc_scores`."""
    return codes_df.join(F.broadcast(luts_df), "cell").select(
        "query_id", F.col(id_col).alias("neighbor_id"), _adc_score().alias("adc_d2")
    )


def pq_adc_scores(
    codes_df: DataFrame,
    luts_df: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric distance computation (ADC) over PQ codes: for each
    (query, corpus vector) pair, ``adc_d2 = Σ_j lut[j][code_j]`` where
    ``lut[j][c] = ||q_j - C[j,c]||²`` is the query's per-subspace
    distance table.  Input: ``codes_df`` = (id, codes array<int>) from
    :func:`pq_train`'s assignments; ``luts_df`` = (query_id,
    lut array<array<double>>), one tiny row per query.

    THE 100 TB search shape: the corpus side is 2-byte codes (never
    vectors), the query side is a broadcast m×k table, and the scoring
    expression is a pure-Catalyst indexed-array fold — no Python, no
    shuffle until the top-k aggregation a caller adds.  Returns
    ``(query_id, neighbor_id, adc_d2)``."""
    return (
        codes_df.crossJoin(F.broadcast(luts_df))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _adc_score().alias("adc_d2"),
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    nbits: int = 4,
    ntables: int = 16,
    probe: int = 1,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-duplicate pairs (id_a < id_b, sim >= threshold) via
    sign-LSH candidate generation + exact verification.

    Scale shape (the reason this is NOT an all-pairs join): candidates
    come from an **equi-join of LSH bucket codes** on (table, code) —
    shuffle volume is (id, code) longs, never vectors, and never O(n²).
    Each candidate pair is then exact-scored with the batched-matmul
    cosine UDF and filtered by ``threshold``; false positives cost one
    dot product, false negatives are bounded by the LSH miss
    probability (1 - P_table)^ntables with
    P_table ≈ p^nbits + probe-expansion terms, p = 1 - θ/π.

    ``probe`` adds Hamming-≤probe multiprobing (each vector also visits
    the ``nbits``-choose-≤probe adjacent buckets of one join side),
    trading candidate volume for recall — essential for low thresholds.
    Everything is seeded ⇒ fully deterministic: for a given corpus the
    recall can be verified exactly against the all-pairs oracle (the
    test suite does, at the fixture SFs).  Tune: higher ``threshold`` →
    raise ``nbits`` (smaller buckets, cheaper join); lower ``threshold``
    → raise ``ntables``/``probe``.
    """
    # persist: codes feed BOTH sides of the candidate self-join — without
    # it the hyperplane pandas-UDF matmul (and the upstream corpus scan)
    # runs twice, doubling the most expensive map stage at scale
    codes = hyperplane_codes(
        embeddings, dim, nbits, ntables, seed, id_col, vec_col
    ).persist()  # (id, table, code)
    # Hamming-<=probe expansion of ONE join side: code XOR each bit mask
    # of popcount <= probe.  Symmetric metric => one-sided probing covers
    # every pair within the probe radius.
    masks = [m for m in range(1 << nbits) if bin(m).count("1") <= probe]
    probed = codes.select(
        "id",
        "table",
        F.explode(
            F.array(*[F.col("code").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("code"),
    )
    cand = (
        codes.alias("a")
        .join(probed.alias("b"), ["table", "code"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )
    # eager local checkpoint: materializes the candidate pairs (bounded
    # by LSH design, not corpus size) so the large codes cache can be
    # released NOW (ADVICE r2) — and unlike persist(), the checkpoint
    # blocks are garbage-collected with the DataFrame instead of
    # accumulating for the session lifetime across repeated calls.
    # Cost: plan-only callers pay the candidate job; freeing the codes
    # cache requires materializing its consumer, so that is inherent.
    cand = pin(cand)
    codes.unpersist()
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(_cosine_batch(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_near_dup_pairs_exact(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact near-dup — O(n²) block cross join.  Oracle/test
    baseline ONLY (it is what DuckDB computes); the production path is
    :func:`embedding_near_dup_pairs`."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(_cosine_batch(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def pq_exact_quantized(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 500,
) -> DataFrame:
    """Product quantization with EVERY step exact — the full-value
    oracle twin of :func:`pq_train` (whose float codebooks carry
    partition-order FP jitter and can only be invariant-checked).

    Vectors floor-quantize to int64 (:func:`clustering.quantize`,
    scale ``scale``, no shift: only L2 distances are taken, which are
    shift-invariant anyway, and centroid updates floor-divide on both
    engines).  The m codebooks train by :func:`clustering.lloyd` on
    int64 codebooks — the exact recipe of
    ``clustering.kmeans_exact_quantized`` (first-min argmin ties,
    floor-division updates, empty clusters carry), all m subspaces in
    the same Arrow pass and the same single reduce per iteration.
    Each vector is then encoded (per-subspace exact argmin against the
    final codebooks) and scored by exact ADC against the corpus's
    lowest-id vector as the query: ``adc_d2 = Σ_j d2(query_sub_j,
    codebook_j[code_j(v)])`` — pure int64 (subspace d2 ≤ ~6e6 at these
    bounds).

    Returns a DataFrame ``(vec_id, code0..code{m-1}, adc_d2)`` whose
    every value the DuckDB oracle replays bit-for-bit.  Scan honesty:
    this verification entry re-derives the quantized projection for
    training and for the encode pass; a production deployment would
    pin the 8-byte frame once (``localCheckpoint``) and feed both from
    it.
    """
    spark = embeddings.sparkSession
    qv = embeddings.select(
        F.col(id_col), clustering.quantize(vec_col, scale).alias("qv")
    )
    C0 = clustering.init_codebooks(
        qv, id_col, "qv", m, k, np.int64, "pq_exact_quantized"
    )
    C, _ = clustering.lloyd(qv, "qv", C0, iterations)

    # exact encode + ADC against the lowest-id vector as query
    Q = np.array(
        qv.orderBy(id_col).limit(1).select("qv").collect()[0][0],
        dtype=np.int64,
    )
    # per-subspace table of query-to-centroid exact distances, (m, k)
    qd = ((Q.reshape(m, 1, -1) - C) ** 2).sum(axis=2)
    final_bc = spark.sparkContext.broadcast((C, qd))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CC, QD = final_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            codes, _ = clustering.nearest_codes(M, CC)
            out = {id_col: pdf[id_col].to_numpy()}
            for j in range(m):
                out[f"code{j}"] = codes[:, j].astype("int32")
            out["adc_d2"] = QD[np.arange(m), codes].sum(axis=1)
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} long, "
        + ", ".join(f"code{j} int" for j in range(m))
        + ", adc_d2 long"
    )
    return qv.mapInPandas(encode, schema=schema)


def ivfpq_exact_quantized(
    embeddings: DataFrame,
    n_cells: int = 4,
    coarse_iterations: int = 2,
    m: int = 4,
    k: int = 4,
    pq_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 500,
) -> DataFrame:
    """IVF-PQ with EVERY step exact — the full-value oracle twin of
    :func:`ivfpq_train` / :func:`ivfpq_adc_scores` (whose float coarse
    cells, residual codebooks, and ADC sums can only be
    invariant-checked).

    Pipeline, all int64: floor-quantize (no shift — residuals need
    true signs); coarse cells from the exact integer Lloyd's
    (``clustering.kmeans_exact_quantized``); per-vector cell
    (:func:`clustering.exact_nearest`) and RESIDUAL ``r = q −
    coarse[cell]`` computed row-locally by Catalyst folds (vectors
    never shuffle); per-subspace residual codebooks from
    :func:`clustering.lloyd` on int64 codebooks (all m subspaces in
    one Arrow pass per iteration); exact encode; exact IVF-ADC against
    the corpus's lowest-id vector as query — for a vector v in cell c
    the score is ``Σ_j d2((query − coarse[c])_sub_j,
    codebook_j[code_j(v)])``, i.e. one exact per-cell LUT, the true
    IVF-PQ identity.  Bounds: |q| ≤ ~300 at scale 500 ⇒ |residual| ≤
    ~600 ⇒ subspace d2 ≤ ~2.4e7, ADC ≤ ~1e8 — far inside int64.

    Returns ``(vec_id, cell, code0..code{m-1}, adc_d2)`` — every value
    replayed bit-for-bit by the DuckDB oracle.  Scan honesty: as a
    verification entry this re-derives the quantized/residual frames
    per phase (coarse training, residual training, encode); a
    production deployment pins each 8-byte projection once.
    """
    spark = embeddings.sparkSession
    _, CC = clustering.kmeans_exact_quantized(
        embeddings, k=n_cells, iterations=coarse_iterations,
        id_col=id_col, vec_col=vec_col, scale=scale, shift=0,
    )  # (n_cells, dim) int64
    qv = embeddings.select(
        F.col(id_col), clustering.quantize(vec_col, scale).alias("qv")
    )
    # the residual indexes the centroid literal by the cell column
    # instead of re-deriving the argmin
    rqv = qv.select(
        F.col(id_col), clustering.exact_nearest("qv", CC).alias("cell"), "qv"
    ).select(
        F.col(id_col),
        "cell",
        F.expr(
            f"zip_with(qv, element_at({clustering.sql_bigint_array(CC)},"
            " cell + 1), (x, c) -> x - c)"
        ).alias("qv"),  # residual
    )
    C0 = clustering.init_codebooks(
        rqv, id_col, "qv", m, k, np.int64, "ivfpq_exact_quantized"
    )
    C, _ = clustering.lloyd(rqv, "qv", C0, pq_iterations)

    # exact per-cell query LUT: query residual in cell c vs codebook j,
    # (n_cells, m, k)
    Q = np.array(
        qv.orderBy(id_col).limit(1).select("qv").collect()[0][0],
        dtype=np.int64,
    )
    qd = (((Q - CC).reshape(n_cells, m, 1, -1) - C[None]) ** 2).sum(axis=3)
    final_bc = spark.sparkContext.broadcast((C, qd))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cb, QD = final_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            cells = pdf["cell"].to_numpy().astype(np.int64)
            codes, _ = clustering.nearest_codes(M, Cb)
            out = {
                id_col: pdf[id_col].to_numpy(),
                "cell": cells.astype("int32"),
            }
            for j in range(m):
                out[f"code{j}"] = codes[:, j].astype("int32")
            out["adc_d2"] = QD[cells[:, None], np.arange(m), codes].sum(axis=1)
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} long, cell int, "
        + ", ".join(f"code{j} int" for j in range(m))
        + ", adc_d2 long"
    )
    return rqv.mapInPandas(encode, schema=schema)
