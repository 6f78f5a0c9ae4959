"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(dirpath, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_a_function_of_the_seed(name, tmp_path):
    wl = workloads.WORKLOADS[name]
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        d = tmp_path / str(i)
        d.mkdir()
        wl.generate(seed, str(d))
        digests.append(_digest(str(d)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_events_have_refetches_and_late_rows():
    t = gen.events_table(3, 1000).to_pandas()
    assert len(t) == 1000 + int(1000 * gen.REFETCH_FRAC) and t.event_id.nunique() == 1000
    dups = t[t.event_id.duplicated(keep=False)]
    assert (dups.groupby("event_id").nunique() == 1).all().all()  # byte-equal re-fetches
    first = t.drop_duplicates("event_id")
    assert not first.ts.is_monotonic_increasing  # late rows arrive after newer ones
    assert first.sort_values("event_id").ts.is_monotonic_increasing
    assert first.props.str.fullmatch(r'\{"k": \d+\}').all()


def test_documents_span_every_language():
    d = gen.documents(4, 600).to_pandas()
    assert list(d.doc_id) == list(range(600)) and set(d.lang) == set(gen.DOC_LANGS)
    assert d.text.str.split().str.len().between(*gen.DOC_WORDS).all()


def test_embeddings_clear_the_kmeans_magnitude_floor():
    t = gen.embeddings_table(5, 200, 16, 10)
    x = t["embedding"].combine_chunks().values.to_numpy()
    nz = abs(x[x != 0])
    assert nz.min() >= 2.0**-27
    q = gen.query_vectors(5, 4, 200, 16, 10)
    assert q.shape == (4, 16)


def test_self_time_subtracts_the_union_of_children():
    sp = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild: not span 0's
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = spans.self_times(sp)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_nests_spans_and_wraps_functions():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = spans.Tracer("r")
    tr.wrap(Owner, "f", "layer.f", tag=lambda a, k: {"x": a[0]})
    with tr.span("outer"):
        assert Owner.f(1) == 2
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["tags"] == {"x": 1}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def _event_log(tmp_path, lines):
    d = tmp_path / "log"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in lines) + "\n")
    return str(d)


def test_event_log_charges_jobs_to_their_span(tmp_path):
    g = spans.GROUP_PREFIX + "4"
    log = _event_log(
        tmp_path,
        [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0], "Properties": {"spark.jobGroup.id": g}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8, "JVM GC Time": 10, "Input Metrics": {"Bytes Read": 64}}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 1e8, "JVM GC Time": 0}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 2, "Submission Time": 1000}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000, "Stage IDs": [1], "Properties": {}},
            {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
        ],
    )
    jobs = spans.read_event_log(log)
    j = jobs[0]
    assert (j["tasks"], j["stages"], j["single_task_stages"]) == (2, 1, 0)
    assert j["run_s"] == pytest.approx(0.8) and j["cpu_s"] == pytest.approx(0.3)
    assert j["input_bytes"] == 64
    assert list(spans.jobs_by_span(jobs)) == [4]
    tot = spans.engine_totals(list(jobs.values()), 0.0, 10.0)
    assert tot["jobs"] == 2
    assert tot["driver_only_s"] == pytest.approx(10.0 - 2.0 - 1.0)


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert sorted(w["name"] for w in b["workloads"]) == sorted(workloads.WORKLOADS)


# the counts each workload's run() returns: each produces only some of
# workloads.COUNTS
WORKLOAD_COUNTS = {
    "dashboard_backfill": ("sources.table_files", "sources.files_written", "sources.bytes_written", "reports.gold_rows"),
    "vector_index": ("sources.table_files", "sources.files_written", "sources.bytes_written"),
}


@pytest.mark.parametrize("workload", sorted(WORKLOAD_COUNTS))
def test_traced_run_emits_exactly_the_declared_per_layer_metrics(tmp_path, workload):
    (tmp_path / "eventlog").mkdir()
    tr = spans.Tracer("r")
    with tr.span("bench.timed"):
        with tr.span("stage.parse"):
            pass
    res = {
        "pipeline_s": 1.0,
        "pipeline_cpu_s": 3.0,
        "query_ms": [1.0, 2.0],
        "query_cpu_ms": 4.0,
        "counts": {k: 7 for k in WORKLOAD_COUNTS[workload]},
    }
    t0, t1 = tr.spans[0]["start"], tr.spans[0]["end"] + 1e-3
    got = run._per_layer(tr, str(tmp_path), t0, t1, 1.0, res, 0.0)
    declared = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == declared
    assert all(got[k]["value"] == 7 for k in WORKLOAD_COUNTS[workload])


def test_nested_spans_of_one_function_count_once(tmp_path):
    (tmp_path / "eventlog").mkdir()
    tr = spans.Tracer("r")
    tr.spans = [
        {"id": 0, "name": "bench.timed", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "reports.build", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "reports.build", "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 3, "name": "sources.dedup_append", "parent": 0, "start": 6.0, "end": 7.0},
    ]
    res = {
        "pipeline_s": 1.0,
        "pipeline_cpu_s": 3.0,
        "query_ms": [1.0],
        "query_cpu_ms": 4.0,
        "counts": {k: 0 for k in workloads.COUNTS},
    }
    got = run._per_layer(tr, str(tmp_path), 0.0, 10.0, 1.0, res, 0.0)
    assert got["reports.build.pct"]["value"] == pytest.approx(40.0)
    assert got["reports.self_pct"]["value"] == pytest.approx(40.0)
    assert got["sources.dedup_append.pct"]["value"] == pytest.approx(10.0)
    assert got["trace.coverage_pct"]["value"] == pytest.approx(50.0)
    assert got["bench.self_pct"]["value"] == pytest.approx(50.0)


def test_tree_cpu_counts_child_processes():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = workloads.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert workloads.tree_cpu_s() - before >= 0.25
