#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (capped at 1,400 chars; see render_stdout_line):
  {"metric": "headline_queries_total_runtime", "value": <total sec>,
   "unit": "sec", "queries": {name: median sec, ...}, "reps": <reps>,
   "calib_shuffle_probe_sec": <sec>, "cpus": <cpus>, "sf": <sf>}

One timing path:

- untimed warm-ups first: JIT/Arrow/parquet footers, a byte-level read
  of every input parquet (page cache), and one pass over every entry at
  the sf0.001 sibling of the timed directory, so per-JVM codegen
  compiles are paid before timing starts (codegen follows plan shape,
  not data volume);
- then pass-interleaved reps: pass ``p`` runs every entry whose rep
  count exceeds ``p``, in a fixed-seed shuffled order, so each entry's
  median samples several wall-clock windows and no entry holds the same
  position in every pass;
- one shuffle calibration probe per pass; its median is
  ``calib_shuffle_probe_sec``, a machine-speed reference;
- the timed action is ``df.count()`` on the entry's frame, with frame
  construction (and any driver loop inside it) included.

The full per-entry record goes to ``bench_detail.json`` next to this
file.  Knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_DRIVER_MEM (default 16g), SPARK_GRAFT_BENCH_REPS (default 3).

``build_session`` and ``ENTRIES`` are shared with scripts/profile_jobs.py
and scripts/dump_plans.py.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

from datafusion_randgen_spark import queries as cat

HERE = os.path.dirname(os.path.abspath(__file__))

STDOUT_CAP = 1400  # the driver keeps only the last ~2000 chars of stdout
SHUFFLE_SEED = 16  # pass-order shuffle seed; recorded in bench_detail.json
# Driver-loop entries (many small jobs) and the 64-permutation MinHash
# agg vary most between reps; more reps keep one GC-unlucky rep from
# moving the median.
EXTRA_REPS = {
    "d_connected_components": 5,
    "q_bfs_shortest_path": 5,
    "q_pagerank_transitions": 5,
    "s_kmeans_embeddings": 5,
    "d_semantic_dedup": 5,
    "d_minhash_lsh_pairs": 7,
}


def env_positive_int(name: str, default: int) -> int:
    """``$name`` as a positive int, or exit with a message that names the
    variable.  Called before the JVM starts, so a typo costs nothing."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        sys.exit(f"{name} must be a positive integer, got {raw!r}")
    return value


def rep_count(name: str, reps: int) -> int:
    return max(reps, EXTRA_REPS.get(name, 0))


def shuffled_pass_order(names, seed, pass_index) -> list[str]:
    """Entry order for one pass: a shuffle that is a pure function of
    ``(seed, pass_index)``.  A fixed order puts heavy entries in the same
    wall-clock position of every pass, so time-structured host drift
    lands on the same entries each pass and survives the median."""
    names = list(names)
    return random.Random(f"{seed}:{pass_index}").sample(names, len(names))


def default_warm_dir(sf_dir: str) -> str:
    """The codegen warm pass runs at the sf0.001 SIBLING of the timed
    sf_dir, so it works on any host layout."""
    return os.path.join(
        os.path.dirname(os.path.abspath(sf_dir.rstrip("/"))), "sf0.001"
    )


def render_stdout_line(payload: dict) -> str:
    """Render the driver-facing JSON line under STDOUT_CAP chars.

    Over the cap, ``queries`` is cut to the slowest N (the largest N
    that fits), marked by ``queries_truncated_to_slowest`` and
    ``queries_full_in`` (the full map is bench_detail.json's
    ``queries_median``).  If no N fits, ``queries`` is dropped and the
    pointer kept only when it fits: a valid headline line always
    prints.  Works on a copy; the caller's payload is not mutated."""
    payload = dict(payload)
    full = payload.get("queries") or {}
    line = json.dumps(payload)
    if len(line) <= STDOUT_CAP:
        return line
    pointer = {"queries_full_in": "bench_detail.json:queries_median"}
    by_slow = sorted(full.items(), key=lambda kv: -kv[1])
    for keep in range(len(by_slow) - 1, 0, -1):
        line = json.dumps({**payload, **pointer,
                           "queries": dict(by_slow[:keep]),
                           "queries_truncated_to_slowest": keep})
        if len(line) <= STDOUT_CAP:
            return line
    payload.pop("queries", None)
    line = json.dumps(payload)
    # the pointer only when timings were actually shed and it fits
    if full and len(json.dumps({**payload, **pointer})) <= STDOUT_CAP:
        line = json.dumps({**payload, **pointer})
    return line


def build_session(app_name: str = "datafusion_randgen_spark_bench"):
    """The one session config for the bench and the profiling scripts.
    Returns ``(spark, sf_dir)``."""
    # Python workers unpickle package UDFs and find the package through
    # PYTHONPATH, not the driver's sys.path; it must be set before the
    # JVM starts
    if HERE not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            HERE + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = env_positive_int("SPARK_GRAFT_CPUS", 32)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOT bigger: heaps ≥ ~32g degrade this workload 5-10× in local
        # mode (measured: minhash 24s @ 16g → 116s @ 48g; GC ergonomics)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sf_dir


# ---- bench-local probes (not catalog entries) ----


def gen_expr_probe(spark, _sf_dir):
    """Raw generation throughput: 5M rows x 4 randgen columns via the
    pure-Catalyst fast path (the 100 TB generation shape)."""
    from pyspark.sql import functions as F

    from datafusion_randgen_spark.functions import exprs, seeded

    df = spark.range(
        0, 5_000_000, 1, spark.sparkContext.defaultParallelism
    ).select(
        exprs.int64_uniform_expr(F.lit(1), F.lit(1_000_000)).alias("a"),
        exprs.float64_normal_expr(F.lit(0.0), F.lit(1.0)).alias("b"),
        seeded.seeded_int64_uniform(F.col("id"), 1, 100, seed=1).alias("c"),
        exprs.bool_bernoulli_expr(F.lit(0.5)).alias("d"),
    )
    return df.selectExpr(
        "count(*) AS n", "min(a) AS lo", "max(a) AS hi", "avg(b) AS m"
    )


def gen_pandas_udf_probe(spark, _sf_dir):
    """Parity pandas-UDF path at 1M rows (Arrow round-trip cost)."""
    from datafusion_randgen_spark import add_udfs

    add_udfs(spark)
    return spark.sql(
        "SELECT count(*) AS n, min(x) AS lo, max(x) AS hi FROM "
        "(SELECT randgen_int64_uniform(1, 1000000) AS x FROM range(0, 1000000))"
    )


def cpu_scaling_probe(spark, _sf_dir):
    """Compute-bound core-scaling probe: 64M rows x a 24-round xxhash64
    chain, partitioned 4x the session's parallelism, reduced map-side to
    64 groups.  Every other sf0.1 entry is per-entry-overhead-bound, so
    this is the one entry whose runtime should follow $SPARK_GRAFT_CPUS.
    Total work is constant across core counts; only the partition count
    follows the cores.

    The hash chain feeds the GROUP KEY, not an ungrouped aggregate:
    Spark prunes a global aggregate's functions under ``count()``, so
    only a key that depends on every hash keeps the work in the plan."""
    from pyspark.sql import functions as F

    h = F.col("id")
    for i in range(24):
        h = F.xxhash64(h, F.lit(i))
    return (
        spark.range(0, 64_000_000, 1, spark.sparkContext.defaultParallelism * 4)
        .groupBy(F.pmod(h, F.lit(64)).alias("g"))
        .agg(F.count("*").alias("n"))
    )


# one query per operator family plus the generation-heavy flagship and
# the probes, so a regression in any family moves the headline number
ENTRIES = {
    "flagship_randgen_graft": cat.flagship,
    "gen_expr_5m_rows": gen_expr_probe,
    "gen_pandas_udf_1m_rows": gen_pandas_udf_probe,
    **{
        name: cat.QUERIES[name]
        for name in (
            "q1_pricing_summary q3_topk_revenue q5_regional_revenue "
            "q_window_topk_per_group q8_market_share q_sessionization "
            "q_asof_join d_exact_dedup d_minhash_lsh_pairs "
            "d_connected_components d_embedding_near_dup "
            "s_ann_bruteforce_topk s_ann_ivf_recall t_token_stats "
            "p_training_data_prep q_pagerank_transitions "
            "s_kmeans_embeddings d_contamination_check "
            "q_exact_pctl_histogram q_sparse_matmul q_bfs_shortest_path "
            "q_ewma_smoothing q_forward_fill_locf q_median_impute "
            "d_simhash_r6 t_dup_span_coverage q_rfm_segmentation "
            "d_winnowing_fingerprints d_exact_substring_spans "
            "d_semantic_dedup d_snapshot_dedup t_bpe_merge_vocab "
            "d_skewed_digest_dedup"
        ).split()
    },
    "cpu_scaling_probe": cpu_scaling_probe,
}


def _read_bytes(path: str) -> int:
    # per-file try so one unreadable file cannot leave the rest cold;
    # a *.parquet may be a DIRECTORY (sources.load_table reads both)
    n = 0
    try:
        if os.path.isdir(path):
            for sub in sorted(os.listdir(path)):
                n += _read_bytes(os.path.join(path, sub))
            return n
        with open(path, "rb") as fh:
            while chunk := fh.read(1 << 22):
                n += len(chunk)
    except OSError:
        pass
    return n


def warm_up(spark, sf_dir: str) -> int:
    """Untimed one-time session costs: JIT/codegen, Arrow runtime init,
    parquet footers, and a byte-level read of every input parquet into
    the OS page cache (a cold cache inflates docs-heavy entries 3-5x).
    Returns the bytes paged in."""
    from datafusion_randgen_spark import add_udfs
    from datafusion_randgen_spark.sources import load_table

    add_udfs(spark)
    spark.range(
        0, 1_000_000, 1, spark.sparkContext.defaultParallelism
    ).selectExpr("sum(id) AS s").collect()
    load_table(spark, sf_dir, "lineitem").limit(1000).count()
    spark.sql(
        "SELECT count(*) FROM (SELECT randgen_int64_uniform(1, 10) AS x "
        "FROM range(1, 1001))"
    ).collect()
    try:
        names = sorted(os.listdir(sf_dir))
    except OSError:
        names = []
    return sum(
        _read_bytes(os.path.join(sf_dir, f))
        for f in names if f.endswith(".parquet")
    )


def codegen_warm_pass(spark, sf_dir: str):
    """Run every entry once, untimed, at the sf0.001 sibling of sf_dir.
    Skipped (loudly) when that directory is missing or is sf_dir itself.
    Returns ``(warm_dir, seconds or None when skipped, ok, failed)``."""
    warm_dir = default_warm_dir(sf_dir)
    ok = failed = 0
    if not os.path.isdir(warm_dir) or \
            os.path.abspath(warm_dir) == os.path.abspath(sf_dir):
        print(f"# codegen warm pass SKIPPED: {warm_dir} missing or equal "
              "to the timed sf_dir; first reps will be codegen-cold",
              file=sys.stderr)
        return warm_dir, None, ok, failed
    t0 = time.perf_counter()
    for name, fn in ENTRIES.items():
        try:
            fn(spark, warm_dir).count()
            ok += 1
        except Exception as exc:  # never fail the bench over warm-up
            failed += 1
            print(f"# warm pass {name} skipped: {exc!r}", file=sys.stderr)
    spark.catalog.clearCache()
    sec = round(time.perf_counter() - t0, 1)
    print(f"# codegen warm pass at {warm_dir}: {sec}s "
          f"({ok} ok / {failed} failed)", file=sys.stderr)
    return warm_dir, sec, ok, failed


def shuffle_probe(spark) -> float:
    """Fixed JVM exchange + hash-agg workload, identical every run."""
    t0 = time.perf_counter()
    (
        spark.range(0, 20_000_000, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .selectExpr("count(*) AS n", "sum(`sum(v)`) AS s")
        .collect()
    )
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    reps = env_positive_int("SPARK_GRAFT_BENCH_REPS", 3)
    spark, sf_dir = build_session()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = spark.sparkContext.defaultParallelism

    warm_bytes = warm_up(spark, sf_dir)
    print(f"# page-cache warm-up: {warm_bytes} bytes", file=sys.stderr)
    warm_dir, warm_pass_sec, warm_ok, warm_fail = codegen_warm_pass(
        spark, sf_dir
    )

    n_passes = max(rep_count(n, reps) for n in ENTRIES)
    runs: dict[str, list[float]] = {n: [] for n in ENTRIES}
    rows_of: dict[str, int] = {}
    calib_probes: list[float] = []
    pass_entry_order: list[list[str]] = []
    for p in range(n_passes):
        order = shuffled_pass_order(
            [n for n in ENTRIES if rep_count(n, reps) > p], SHUFFLE_SEED, p
        )
        t_pass = time.perf_counter()
        calib_probes.append(shuffle_probe(spark))
        for name in order:
            # operators that persist() intermediates must not ride caches
            # left by an earlier entry or pass
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows_of[name] = ENTRIES[name](spark, sf_dir).count()
            runs[name].append(round(time.perf_counter() - t0, 3))
        pass_entry_order.append(order)
        print(f"# pass {p + 1}/{n_passes}: "
              f"{round(time.perf_counter() - t_pass, 1)}s over "
              f"{len(order)} entries", file=sys.stderr)

    timings = {n: round(statistics.median(r), 3) for n, r in runs.items()}
    spread = {n: [min(r), max(r)] for n, r in runs.items()}
    for n in ENTRIES:
        print(f"# {n}: median {timings[n]}s of {len(runs[n])} passes "
              f"(spread {spread[n][0]}-{spread[n][1]}s, {rows_of[n]} rows)",
              file=sys.stderr)
    calib = round(statistics.median(calib_probes), 3)

    detail = {
        "sf": sf,
        "pass_order_seed": SHUFFLE_SEED,
        "pass_entry_order": pass_entry_order,
        "queries_median": timings,
        "queries_spread": spread,
        # run index == pass index, so a slow pass shows as a column
        "queries_runs": runs,
        "reps": reps,
        "n_passes": n_passes,
        "extra_reps": {n: rep_count(n, reps) for n in EXTRA_REPS},
        "page_cache_warm_bytes": warm_bytes,
        "codegen_warm_pass_sec": warm_pass_sec,
        "codegen_warm_pass_entries": {"ok": warm_ok, "failed": warm_fail},
        "codegen_warm_sf_dir": warm_dir,
        "calib_probes_sec": calib_probes,
    }
    # supra-sf0.1 trend line left by scripts/record_scale_smoke.py
    try:
        with open(os.path.join(HERE, "SCALE_SMOKE.json")) as fh:
            detail["scale_smoke"] = json.load(fh)
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(HERE, "bench_detail.json"), "w") as fh:
            json.dump(detail, fh)
    except OSError as exc:
        print(f"# bench_detail.json not written: {exc!r}", file=sys.stderr)

    payload = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "calib_shuffle_probe_sec": calib,
        "cpus": cpus,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    if len(json.dumps(payload)) > STDOUT_CAP:
        print(f"# queries_full: {json.dumps(timings)}", file=sys.stderr)
    print(render_stdout_line(payload))


if __name__ == "__main__":
    main()
