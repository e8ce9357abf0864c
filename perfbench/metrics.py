"""Per-layer metrics from spans and the Spark event log.

Self time is a span's duration minus the part of its interval that its
child spans cover. Children may run on other threads and overlap each
other, so the covered part is the length of the union of their intervals,
never their sum.

A stage is charged to the span whose job group submitted it. Jobs with a
group the tracer did not set -- streaming micro-batches run under the
stream's own run id, and plain (non-inheritable) driver threads carry no
group -- are charged by time: to the innermost streaming span open when
the job was submitted, else to the query span open then.
"""

from __future__ import annotations

from .eventlog import EventLog
from .trace import AUDIT, GROUP_PREFIX, LAYERS, STREAMING, Span

LAYER_STATS = ("calls", "self_s", "jobs", "tasks", "executor_cpu_s", "shuffle_write_mb")
COUNTERS = (
    ("operators.refine.lda_fits", "count"),
    ("operators.refine.split_accept_ratio", "ratio"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.verified_ratio", "ratio"),
    ("operators.similarity.pairs_scored", "count"),
    ("functions.llm.prompts", "count"),
    ("io.sources.rows_read", "count"),
    ("io.sources.write_s", "s"),
    ("io.sources.bytes_written", "bytes"),
    ("streaming.enrich.batches", "count"),
    ("streaming.enrich.batch_ms", "ms"),
    ("streaming.enrich.state_rows", "count"),
    ("streaming.enrich.state_commit_ms", "ms"),
    ("plans.tail_s", "s"),
    ("plans.driver_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"),
    ("spark.tasks", "count"),
    ("session.start_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
)
_UNITS = {
    "calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s", "shuffle_write_mb": "MB",
}
MB = 1e6


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{layer}.{stat}", _UNITS[stat]) for layer in LAYERS for stat in LAYER_STATS]
    return out + list(COUNTERS)


def union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clipped(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start)
        - union_len(_clipped(children.get(sp.id, ()), sp.start, sp.end))
        for sp in spans
    }


def _owner(group: str | None, at_s: float, by_id: dict[int, Span],
           streams: list[Span], queries: list[Span]) -> Span | None:
    if group and group.startswith(GROUP_PREFIX):
        return by_id.get(int(group[len(GROUP_PREFIX):]))
    open_streams = [sp for sp in streams if sp.start <= at_s <= sp.end]
    if open_streams:
        return max(open_streams, key=lambda sp: sp.start)
    return next((q for q in queries if q.start <= at_s <= q.end), None)


def layer_metrics(spans: list[Span], log: EventLog, counts: dict[str, float],
                  window: tuple[float, float]) -> dict[str, float]:
    """All per-layer metrics for one traced pass over ``window`` (epoch s)."""
    lo, hi = window
    by_id = {sp.id: sp for sp in spans}
    queries = [sp for sp in spans if sp.layer == "plans"]
    streams = [sp for sp in spans if sp.layer == STREAMING]
    audits = [sp for sp in spans if sp.layer == AUDIT]
    selfs = self_times(spans)
    m: dict[str, float] = {f"{layer}.{stat}": 0.0 for layer in LAYERS for stat in LAYER_STATS}
    for sp in spans:
        if sp.layer in LAYERS:
            m[f"{sp.layer}.calls"] += 1
            m[f"{sp.layer}.self_s"] += selfs[sp.id]

    def owner_layer(group, at_ms) -> str | None:
        at = at_ms / 1000.0
        if not lo <= at <= hi:
            return None
        sp = _owner(group, at, by_id, streams, queries)
        return sp.layer if sp is not None else None

    for job in log.jobs:
        layer = owner_layer(job.group, job.submit_ms)
        if layer in LAYERS:
            m[f"{layer}.jobs"] += 1
    gc_ms = spill = tasks = 0
    busy: list[tuple[float, float]] = []
    for st in log.stages:
        layer = owner_layer(st.group, st.submit_ms)
        if layer is None or layer == AUDIT:
            continue
        m[f"{layer}.tasks"] += st.tasks
        m[f"{layer}.executor_cpu_s"] += st.cpu_ns / 1e9
        m[f"{layer}.shuffle_write_mb"] += st.shuffle_write_bytes / MB
        gc_ms += st.gc_ms
        spill += st.spill_bytes
        tasks += st.tasks
        busy.append((st.submit_ms / 1000.0, st.complete_ms / 1000.0))

    audit_iv = [(sp.start, sp.end) for sp in audits]
    wall = sum(q.end - q.start for q in queries)
    driver = sum(
        (q.end - q.start) - union_len(_clipped(busy + audit_iv, q.start, q.end))
        for q in queries
    )
    runs: dict[str, int] = {}
    batches = batch_ms = commit_ms = 0
    for p in log.progress:
        if lo <= p.at_ms / 1000.0 <= hi + 5.0:  # progress is posted after the batch
            batches += 1
            batch_ms += p.batch_ms
            commit_ms += p.state_commit_ms
            runs[p.run_id] = p.state_rows  # last progress holds the final state size
    tried = counts.get("operators.refine.clusters_tried", 0)
    cands = counts.get("operators.dedup.candidate_pairs", 0)
    write_s = sum(selfs[sp.id] for sp in spans
                  if sp.layer == "io.sources" and sp.name == "write_parquet")
    m.update({
        "operators.refine.lda_fits": tried + sum(
            1 for sp in spans if sp.name == "lda_topic_assignments"),
        "operators.refine.split_accept_ratio":
            counts.get("operators.refine.accepted_splits", 0) / tried if tried else 0.0,
        "operators.dedup.candidate_pairs": cands,
        "operators.dedup.verified_ratio":
            counts.get("operators.dedup.verified", 0) / cands if cands else 0.0,
        "operators.similarity.pairs_scored": counts.get("operators.similarity.pairs_scored", 0),
        "functions.llm.prompts": counts.get("functions.llm.prompts", 0),
        "io.sources.rows_read": counts.get("io.sources.rows_read", 0),
        "io.sources.write_s": write_s,
        "io.sources.bytes_written": counts.get("io.sources.bytes_written", 0),
        "streaming.enrich.batches": batches,
        "streaming.enrich.batch_ms": batch_ms,
        "streaming.enrich.state_rows": sum(runs.values()),
        "streaming.enrich.state_commit_ms": commit_ms,
        "plans.tail_s": sum(selfs[q.id] for q in queries),
        "plans.driver_s": driver,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.spill_mb": spill / MB,
        "spark.tasks": tasks,
        "trace.wall_s": wall - sum(e - s for s, e in audit_iv),
    })
    return m
