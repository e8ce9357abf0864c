"""Self-tests for the benchmark: span arithmetic, tracer parenting across
threads, the event-log parser, generator determinism, result hashing and
the metric-name rules. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import threading

import pandas as pd
import pytest

from perfbench import eventlog, gen, metrics
from perfbench.check import value_hash
from perfbench.trace import Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def sp(id_, parent, start, end, layer="operators.tfidf", name="f", thread=1):
    return Span(id_, layer, name, thread, parent, start, end)


# -- self-time arithmetic ------------------------------------------------------
def test_union_len_merges_overlaps_and_gaps():
    assert metrics.union_len([]) == 0
    assert metrics.union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert metrics.union_len([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_union_of_overlapping_children():
    # two children on different threads overlap each other: 2..6 and 4..8
    spans = [sp(1, None, 0, 10, "plans"), sp(2, 1, 2, 6, thread=1), sp(3, 1, 4, 8, thread=2)]
    st = metrics.self_times(spans)
    assert st[1] == pytest.approx(10 - 6)  # union 2..8, not 4 + 4
    assert st[2] == pytest.approx(4) and st[3] == pytest.approx(4)


def test_self_time_clips_children_to_parent_interval():
    # a side-thread child that outlives its parent only covers the overlap
    spans = [sp(1, None, 0, 5, "plans"), sp(2, 1, 3, 9, thread=2)]
    assert metrics.self_times(spans)[1] == pytest.approx(3)


def test_grandchildren_count_only_against_their_parent():
    spans = [sp(1, None, 0, 10, "plans"), sp(2, 1, 1, 9), sp(3, 2, 2, 8, "operators.materialize")]
    st = metrics.self_times(spans)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(6)


# -- tracer parenting and job groups ----------------------------------------------
class FakeSparkContext:
    """Thread-local properties, like PySpark's pinned-thread mode."""

    def __init__(self):
        self._tls = threading.local()

    def _props(self):
        if not hasattr(self._tls, "props"):
            self._tls.props = {}
        return self._tls.props

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value

    def setJobGroup(self, gid, desc, interruptOnCancel=False):
        self._props().update({"spark.jobGroup.id": gid, "spark.job.description": desc,
                              "spark.job.interruptOnCancel": str(interruptOnCancel).lower()})


def test_side_thread_span_parents_to_the_running_query():
    sc = FakeSparkContext()
    tr = Tracer(sc)
    tr.enabled = True
    inner = tr.wrap("operators.cluster", "fit_kmeans", lambda: sc.getLocalProperty("spark.jobGroup.id"))
    outer = tr.wrap("operators.refine", "refine", lambda: (inner(), run_side()))
    seen = {}

    def side():
        seen["group"] = inner()

    def run_side():
        th = threading.Thread(target=side)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()

    tr.run_query("q1", outer)
    by_name = {}
    for s in tr.spans:
        by_name.setdefault((s.layer, s.name), []).append(s)
    query = by_name[("plans", "q1")][0]
    refine = by_name[("operators.refine", "refine")][0]
    main_fit, side_fit = sorted(by_name[("operators.cluster", "fit_kmeans")],
                                key=lambda s: s.thread != query.thread)
    assert refine.parent == query.id
    assert main_fit.parent == refine.id  # same thread: innermost open span
    assert side_fit.parent == query.id  # no open span on its thread
    assert seen["group"] == f"pb-{side_fit.id}"
    # every group restored: nothing left set on the main thread
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    sc = FakeSparkContext()
    tr = Tracer(sc)
    f = tr.wrap("operators.tfidf", "tfidf_long", lambda x: x + 1)
    assert tr.run_query("q", f, 1) == 2
    assert tr.spans == []


# -- event log -----------------------------------------------------------------
def _fixture_log():
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as fh:
        return eventlog.parse_lines(fh)


def test_event_log_parser_reads_jobs_stages_and_progress():
    log = _fixture_log()
    assert [j.group for j in log.jobs] == ["pb-1", "pb-1"]
    assert [s.stage_id for s in log.stages] == [0, 2]
    first = log.stages[0]
    assert (first.tasks, first.cpu_ns, first.gc_ms, first.shuffle_write_bytes) == (
        2, 220107011, 18, 266)
    assert first.complete_ms - first.submit_ms == 442
    (p,) = log.progress
    assert (p.batch_ms, p.input_rows, p.state_rows, p.state_commit_ms) == (4135, 1000, 15, 19)


def test_stages_are_charged_to_the_span_of_their_job_group():
    log = _fixture_log()
    t0 = log.jobs[0].submit_ms / 1000.0
    spans = [sp(7, None, t0 - 1, t0 + 5, "plans", "q"),
             sp(1, 7, t0 - 0.5, t0 + 4, "operators.dedup", "minhash_dedup")]
    m = metrics.layer_metrics(spans, log, {}, (t0 - 1, t0 + 5))
    assert m["operators.dedup.jobs"] == 2
    assert m["operators.dedup.tasks"] == 3
    assert m["operators.dedup.executor_cpu_s"] == pytest.approx((220107011 + 69047196) / 1e9)
    assert m["plans.jobs"] == 0
    assert m["spark.tasks"] == 3
    # driver time: query wall minus the union of the two stage intervals
    busy = (442 + 137) / 1000.0
    assert m["plans.driver_s"] == pytest.approx(6 - busy)


def test_jobs_without_a_tracer_group_fall_back_to_the_open_span():
    log = _fixture_log()
    for job in log.jobs:
        job.group = "some-stream-run-id"
    for st in log.stages:
        st.group = None
    t0 = log.jobs[0].submit_ms / 1000.0
    spans = [sp(7, None, t0 - 1, t0 + 5, "plans", "q"),
             sp(8, 7, t0 - 0.5, t0 + 4, "streaming.enrich", "run_bounded")]
    m = metrics.layer_metrics(spans, log, {}, (t0 - 1, t0 + 5))
    assert m["streaming.enrich.jobs"] == 2 and m["plans.jobs"] == 0


# -- generator -----------------------------------------------------------------
SHAPE = gen.Shape(docs=200, exact_dup_share=0.02, near_dup_share=0.1,
                  embeddings=50, events=300, users=20)


def _bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen.generate(str(tmp_path / "a"), SHAPE, 7)
    b = gen.generate(str(tmp_path / "b"), SHAPE, 7)
    assert a == b
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")


def test_generator_other_seed_other_bytes_same_properties(tmp_path):
    import pyarrow.parquet as pq

    a = gen.generate(str(tmp_path / "a"), SHAPE, 7)
    b = gen.generate(str(tmp_path / "b"), SHAPE, 8)
    ba, bb = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert all(ba[f] != bb[f] for f in ba)
    keys = ("docs", "exact_dup_share", "near_dup_share", "embeddings", "events")
    assert {k: a["measured"][k] for k in keys} == {k: b["measured"][k] for k in keys}
    for f in ba:  # the layout the engine's scan branches on
        md = pq.ParquetFile(tmp_path / "a" / f).metadata
        assert md.num_row_groups == 1
    docs = pq.read_table(tmp_path / "b" / "documents.parquet").to_pandas()
    assert sorted(docs["doc_id"]) == list(range(SHAPE.docs))  # dense relabelling
    assert (docs["n_chars"] == docs["text"].str.len()).all()


# -- result hashing ----------------------------------------------------------------
def test_value_hash_ignores_row_order_and_numeric_type():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.0], "s": ["x", None]})
    b = pd.DataFrame({"s": [None, "x"], "v": [3, 0.5000000001], "k": [2, 1]})
    assert value_hash(a) == value_hash(b)
    assert value_hash(a) != value_hash(a.assign(v=[0.5, 3.1]))
    assert value_hash(a) != value_hash(a.rename(columns={"v": "w"}))


# -- metric names ----------------------------------------------------------------
def test_benchmark_json_names_units_and_metric_sets():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bm = json.load(fh)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in bm[key]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    units = [m["unit"] for key in ("end_to_end", "per_layer") for m in bm[key]]
    assert all(UNIT_RE.match(u) for u in units)
    assert [(m["name"], m["unit"]) for m in bm["per_layer"]] == metrics.per_layer_names()
    assert len(bm["per_layer"]) <= 128
    assert any(m["name"] == "setup_s" for m in bm["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in bm["end_to_end"])
