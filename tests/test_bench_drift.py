"""Unit tests for bench.py's harness rules: the stdout-line cap, the
seeded pass order, the warm-pass directory, SPARK_GRAFT_CPUS
validation and the entry table.

Spark-free except ``test_cpu_scaling_probe_partitions_follow_session``,
which only builds a plan on the shared test session.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from datafusion_randgen_spark import queries as cat  # noqa: E402


# --- entry table -------------------------------------------------------


def test_bench_entries_are_catalog_flagship_or_probes():
    assert len(bench.ENTRIES) == 37
    probes = set()
    for name, fn in bench.ENTRIES.items():
        if name == "flagship_randgen_graft":
            assert fn is cat.flagship
        elif name in cat.QUERIES:
            assert fn is cat.QUERIES[name], name
        else:
            assert fn.__module__ == bench.__name__, name
            probes.add(name)
    assert probes == {
        "gen_expr_5m_rows", "gen_pandas_udf_1m_rows", "cpu_scaling_probe"
    }


def test_extra_reps_name_bench_entries():
    assert set(bench.EXTRA_REPS) <= set(bench.ENTRIES)
    assert bench.rep_count("d_minhash_lsh_pairs", 3) == 7
    assert bench.rep_count("q1_pricing_summary", 3) == 3
    assert bench.rep_count("d_connected_components", 9) == 9


# --- SPARK_GRAFT_CPUS validation (checked before the JVM starts) --------


@pytest.mark.parametrize("raw", ["abc", "0", "-4", "4.0", ""])
def test_build_session_rejects_bad_cpus_before_jvm(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(SystemExit) as exc:
        bench.build_session()
    assert "SPARK_GRAFT_CPUS" in str(exc.value)
    assert repr(raw) in str(exc.value)


def test_env_positive_int_default_and_valid(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench.env_positive_int("SPARK_GRAFT_CPUS", 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench.env_positive_int("SPARK_GRAFT_CPUS", 32) == 4


def test_cpu_scaling_probe_partitions_follow_session(spark):
    # sized from the session's parallelism, not from the raw env string
    df = bench.cpu_scaling_probe(spark, None)
    plan = df._jdf.queryExecution().logical().toString()
    splits = re.search(r"splits=(?:Some\()?(\d+)", plan)
    assert splits, plan
    assert int(splits.group(1)) == spark.sparkContext.defaultParallelism * 4


# --- warm-pass directory ----------------------------------------------


def test_default_warm_dir_is_sibling_sf0001():
    assert bench.default_warm_dir("/root/testdata/sf0.1") == \
        "/root/testdata/sf0.001"
    # trailing slash must not shift the parent up a level
    assert bench.default_warm_dir("/root/testdata/sf0.1/") == \
        "/root/testdata/sf0.001"


def test_default_warm_dir_relative_sf_dir_resolves_absolute():
    out = bench.default_warm_dir("testdata/sf0.1")
    assert os.path.isabs(out) and out.endswith("/sf0.001")


# --- seeded per-pass order --------------------------------------------


def test_shuffled_pass_order_deterministic_and_complete():
    names = ["a1", "a2", "a3", "b1", "c1", "c2"]
    o1 = bench.shuffled_pass_order(names, 16, 0)
    o2 = bench.shuffled_pass_order(names, 16, 0)
    assert o1 == o2  # deterministic for (seed, pass)
    assert sorted(o1) == sorted(names)  # every entry exactly once
    assert names == ["a1", "a2", "a3", "b1", "c1", "c2"]  # input kept


def test_shuffled_pass_order_varies_across_passes():
    # the whole point: consecutive passes must not share a fixed order
    names = [f"e{i}" for i in range(14)]
    orders = [bench.shuffled_pass_order(names, 16, p) for p in range(7)]
    assert len({json.dumps(o) for o in orders}) > 1


# --- driver stdout line rendering (size-capped, degrade gracefully) ---


def _payload(n_queries):
    # realistic entry-name lengths (bench names run 12-26 chars, e.g.
    # d_connected_components) — the cap math depends on them
    qs = {f"q_realistic_entry_name_{i:02d}": round(0.5 + i * 0.137, 3)
          for i in range(n_queries)}
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "reps": 3,
        "calib_shuffle_probe_sec": 0.869,
        "cpus": 32,
        "sf": 0.1,
    }
    return payload, qs


def test_render_small_payload_untouched():
    payload, qs = _payload(10)
    line = bench.render_stdout_line(payload)
    assert line == json.dumps(payload)
    assert "queries_truncated_to_slowest" not in json.loads(line)


def test_render_truncation_keeps_slowest_entries():
    payload, qs = _payload(48)
    assert len(json.dumps(payload)) > 1400
    out = json.loads(bench.render_stdout_line(payload))
    kept = out["queries_truncated_to_slowest"]
    assert 20 < kept < 48
    slowest = sorted(qs.values(), reverse=True)[:kept]
    assert sorted(out["queries"].values(), reverse=True) == slowest


def test_render_line_always_under_hard_cap():
    for n_q in (10, 37, 48, 120):
        payload, qs = _payload(n_q)
        line = bench.render_stdout_line(payload)
        assert len(line) < 1500, (n_q, len(line))
        json.loads(line)  # stays valid JSON


def test_render_does_not_mutate_caller_payload():
    payload, qs = _payload(48)
    before = json.dumps(payload)
    bench.render_stdout_line(payload)
    assert json.dumps(payload) == before


def test_render_truncation_notes_full_map_location():
    payload, qs = _payload(48)
    out = json.loads(bench.render_stdout_line(payload))
    assert out.get("queries_truncated_to_slowest")
    assert out["queries_full_in"] == "bench_detail.json:queries_median"


def _pad_to_window(payload, target):
    """Pad a non-query field so the un-truncated line lands just past
    ``target`` chars — puts truncation pressure exactly where the test
    wants it regardless of incidental payload-size drift."""
    payload["padding"] = ""
    base = len(json.dumps(payload))
    payload["padding"] = "z" * max(0, target - base)
    return payload


def test_render_small_query_map_degrades_one_at_a_time():
    # with pressure that leaves room for SOME entries, a 4-entry map
    # must keep the MAXIMAL slowest-k prefix under the cap instead of
    # jumping to the drop-everything fallback.  Entry names are long
    # enough that shedding one buys more than the truncation-marker
    # overhead costs.
    payload, _qs = _payload(4)
    qs = {f"q_{'entry' * 14}_{i}": round(1.0 + i * 0.1, 3)
          for i in range(4)}
    payload["queries"] = dict(qs)
    _pad_to_window(payload, 1480)
    line = bench.render_stdout_line(payload)
    assert len(line) <= 1400
    out = json.loads(line)
    kept = out.get("queries_truncated_to_slowest")
    assert kept and 1 <= kept < 4  # partial map survives
    assert out["queries_full_in"] == "bench_detail.json:queries_median"
    by_slow = sorted(qs.items(), key=lambda kv: -kv[1])
    assert out["queries"] == dict(by_slow[:kept])
    # maximality: keeping one more entry would break the cap
    bigger = dict(out)
    bigger["queries"] = dict(by_slow[:kept + 1])
    bigger["queries_truncated_to_slowest"] = kept + 1
    assert len(json.dumps(bigger)) > 1400


def test_render_pressure_beyond_queries_drops_them_but_keeps_pointer():
    # pressure bigger than the whole query map: queries go, the
    # pointer to the full map stays (it fits once the map is gone)
    payload, qs = _payload(4)
    _pad_to_window(payload, 1500)
    line = bench.render_stdout_line(payload)
    assert len(line) <= 1400
    out = json.loads(line)
    assert "queries" not in out
    assert out["queries_full_in"] == "bench_detail.json:queries_median"


def test_render_oversized_without_queries_adds_no_pointer():
    # a payload whose NON-query fields alone blow the cap must not grow
    # further, and a payload that never carried queries must not imply
    # truncation via a pointer
    payload, qs = _payload(4)
    del payload["queries"]
    _pad_to_window(payload, 1500)
    line = bench.render_stdout_line(payload)
    out = json.loads(line)
    assert "queries_full_in" not in out
    # no-room corner: queries existed but even the query-less line is
    # over the cap — the pointer must not be appended on top
    payload2, _q = _payload(4)
    _pad_to_window(payload2, 1700)
    line2 = bench.render_stdout_line(payload2)
    out2 = json.loads(line2)
    assert "queries" not in out2 and "queries_full_in" not in out2
    assert len(line2) < 1700


# --- scripts/dump_plans.py round inference ------------------------------


def test_dump_plans_infer_round(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(REPO, "scripts", "dump_plans.py"),
    )
    dp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dp)
    monkeypatch.setattr(dp, "HERE", str(tmp_path))
    # no artifacts at all: round 1
    assert dp._infer_round() == 1
    # CORRECTNESS_r05 present, BENCH_r05 absent: we ARE round 5
    (tmp_path / "CORRECTNESS_r05.json").write_text("{}")
    assert dp._infer_round() == 5
    # BENCH_r05 lands: round 5 fully recorded -> this is round 6
    (tmp_path / "BENCH_r05.json").write_text("{}")
    assert dp._infer_round() == 6
    # unpadded BENCH filename also counts
    (tmp_path / "CORRECTNESS_r06.json").write_text("{}")
    assert dp._infer_round() == 6
    (tmp_path / "BENCH_r6.json").write_text("{}")
    assert dp._infer_round() == 7
