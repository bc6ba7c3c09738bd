"""Tests for the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import time
from pathlib import Path

import pytest

from perfbench import inputs
from perfbench.guard import StepAborted, Watchdog
from perfbench.run import END_TO_END
from perfbench.trace import EventLog, Span, covered, self_time, step_fields
from perfbench.workloads import WORKLOADS, per_layer_metrics

DATA = Path(__file__).parent / "data"
ROOT = Path(__file__).resolve().parents[2]


# -- event log ---------------------------------------------------------------


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog.load(DATA)


def raw_events():
    path = DATA / "eventlog_v2_local-test" / "events_1_local-test"
    return [json.loads(line) for line in path.read_text().splitlines()]


def test_jobs_are_attributed_to_their_group(log):
    # the recording ran connected_components under group span-1, then one
    # two-job aggregate under span-2
    assert len(log.jobs_of("span-1")) == 28
    assert len(log.jobs_of("span-2")) == 2
    assert all(j.end is not None for j in log.jobs.values())


def test_collect_actions_count_convergence_probes(log):
    # the initial label sum plus three rounds, each one collect with two jobs
    assert log.actions_of("span-1", "collect at") == 4
    assert log.actions_of("span-2", "collect at") == 0


def test_task_totals_match_a_direct_sum(log):
    events = raw_events()
    group_of = {e["Stage Info"]["Stage ID"]: e["Properties"]["spark.jobGroup.id"] for e in events if e["Event"] == "SparkListenerStageSubmitted"}
    for group in ("span-1", "span-2"):
        ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and group_of[e["Stage ID"]] == group]
        t = log.totals[group]
        assert t.tasks == len(ends) > 0
        assert t.cpu_ns == sum(e["Task Metrics"]["Executor CPU Time"] for e in ends)
        assert t.shuffle_write_bytes == sum(e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends)
    assert log.totals["span-2"].shuffle_write_bytes > 0


def test_step_fields_split_wall_into_jobs_and_outside(log):
    # span-2's jobs ran 1792210790.646-.767 and .832-.920: 0.209 s in jobs
    span = Span("noop", "span-2", None, "r", 1792210790.0, 1792210791.0)
    f = step_fields(span, log)
    assert f["s"] == pytest.approx(1.0)
    assert f["jobs"] == 2
    assert f["outside_jobs_s"] == pytest.approx(1.0 - 0.209, abs=1e-6)
    assert f["task_cpu_s"] == pytest.approx(log.totals["span-2"].cpu_ns / 1e9)


# -- interval arithmetic -----------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(1, 4), (1, 4), (2, 3)], 0, 10) == pytest.approx(3)
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_only_children():
    root = Span("pass", "a", None, "r", 0.0, 10.0)
    spans = [
        root,
        Span("s1", "b", "a", "r", 1.0, 4.0),
        Span("s2", "c", "a", "r", 3.0, 6.0),
        Span("inner", "d", "b", "r", 1.5, 2.0),  # a grandchild, already inside s1
    ]
    assert self_time(root, spans) == pytest.approx(5.0)
    assert self_time(spans[1], spans) == pytest.approx(2.5)


# -- inputs ------------------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: inputs.udf_args(seed, 1000),
        lambda seed: inputs.text_corpus(seed, 400).table,
        lambda seed: inputs.vector_table(inputs.clustered_vectors(seed, 300, n_queries=10, dup_n=100, dup_pairs=10).corpus),
        lambda seed: inputs.events(seed, 2000, 50).events,
        lambda seed: inputs.graph(seed, 200, 1000),
    ],
)
def test_generators_are_deterministic_per_seed(make):
    assert make(3).equals(make(3))
    assert not make(3).equals(make(4))


def test_corpus_plants_what_it_reports():
    c = inputs.text_corpus(5, 2000)
    assert c.table.num_rows == 2000
    assert all(c.texts[i].endswith("!!") for i in c.junk_ids)
    members = [m for cl in c.clusters for m in cl]
    assert len(members) == len(set(members))
    keep = set(c.texts) - c.junk_ids
    pairs = inputs.planted_pairs(c, set(inputs.exact_groups(c.texts, keep).values()), 0.7)
    assert pairs and all(a < b for a, b in pairs)


def test_session_count_follows_the_gaps():
    ev = inputs.events(2, 5000, 40)
    df = ev.events.to_pandas().sort_values(["user_id", "ts"])
    gap = df.groupby("user_id")["ts"].diff().dt.total_seconds()
    new = gap.isna() | (gap > inputs.SESSION_GAP_S)
    assert new.groupby(df["user_id"]).sum().astype(int).to_dict() == ev.sessions_per_user


def test_reference_bpe_and_components():
    assert inputs.bpe_merges(["aaa ab", "ab"], 2) == [("a", "a", 2), ("a", "b", 2)]
    assert inputs.min_label_components({(5, 3), (3, 9), (7, 8)}) == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}


# -- metric names ------------------------------------------------------------

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names_are_valid_and_unique():
    names = list(END_TO_END) + list(per_layer_metrics())
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(per_layer_metrics()) <= 128


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_metrics()


# -- watchdog ----------------------------------------------------------------


def test_watchdog_stops_a_step_past_its_timeout(tmp_path):
    dog = Watchdog(tmp_path, disk_cap_mb=100, timeout_s=0.2, poll_s=0.05)
    with pytest.raises(StepAborted):
        with dog.armed("slow"):
            time.sleep(5)
    assert "timeout" in dog.tripped


def test_watchdog_stops_a_step_past_the_disk_cap(tmp_path):
    (tmp_path / "blob").write_bytes(b"x" * (3 * 1024 * 1024))
    dog = Watchdog(tmp_path, disk_cap_mb=1, timeout_s=60, poll_s=0.05)
    with pytest.raises(StepAborted):
        with dog.armed("big"):
            time.sleep(5)
    assert "disk" in dog.tripped
