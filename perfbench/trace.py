"""Outside-in tracer: spans around calls into each layer's public functions.

Every wrapped call opens a span (name, start, end, thread, parent) and runs
under its own Spark job group, so the stages it triggers can be charged to
it from the event log afterwards. Spans live in memory and are written out
once, at the end of the run.

Parenting is per thread: a span's parent is the innermost open span on the
same thread. A span opened on a thread with no open span -- a driver side
thread, or a ``foreachBatch`` callback -- takes the running query's span as
its parent. A single global depth counter would nest a side thread's span
under whatever the main thread happens to have open.

Counters that need a Spark job (row counts of a candidate frame, say) run
as ``trace.audit`` spans: their jobs, stages and time are kept out of every
layer's numbers and out of ``trace.wall_s``.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import os
import sys
import threading
import time
from dataclasses import dataclass

import pandas as pd

PKG = "ml_training_data_pipeline_spark"

# layer -> (module, wrapped public functions). The layers are the package's
# modules; ``plans`` is the registry query itself, opened by the runner.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "io.sources": (f"{PKG}.io.sources", ("load_table", "write_parquet")),
    "operators.pos_keywords": (f"{PKG}.operators.pos_keywords", ("extract_pos_keywords",)),
    "operators.materialize": (f"{PKG}.operators.materialize", ("materialize",)),
    "operators.tfidf": (
        f"{PKG}.operators.tfidf",
        ("tfidf_long", "top_vocabulary", "reduce_to_vocabulary", "cluster_term_scores"),
    ),
    "operators.vectorize": (
        f"{PKG}.operators.vectorize",
        ("tokens_frame", "fit_tfidf_vectorizer", "vectorize", "vectorize_dfm"),
    ),
    "operators.cluster": (
        f"{PKG}.operators.cluster",
        ("fit_kmeans", "quantize_vectors", "lloyd_quantized"),
    ),
    "operators.coherence": (f"{PKG}.operators.coherence", ("binary_doc_term", "prob_coherence")),
    "operators.refine": (
        f"{PKG}.operators.refine",
        (
            "refine",
            "split_low_coherence_clusters",
            "merge_similar_clusters",
            "lda_topic_assignments",
        ),
    ),
    "operators.centroids": (
        f"{PKG}.operators.centroids",
        ("group_centroids", "centroid_cosine_pairs", "merge_components"),
    ),
    "operators.dedup": (
        f"{PKG}.operators.dedup",
        (
            "exact_dup_groups",
            "minhash_dedup",
            "jaccard_pairs",
            "lsh_admission_rejects",
            "connected_components",
        ),
    ),
    "operators.similarity": (
        f"{PKG}.operators.similarity",
        ("brute_force_topk", "pq_codebooks", "ivfpq_index", "ivfpq_topk"),
    ),
    "functions.llm": (f"{PKG}.functions.llm", ("enrich_documents", "llm_complete")),
    "streaming.enrich": (
        f"{PKG}.streaming.enrich",
        ("stream_table", "run_bounded", "run_bounded_foreach"),
    ),
    "plans": (f"{PKG}.plans.registry", ()),
}
AUDIT = "trace.audit"
STREAMING = "streaming.enrich"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    thread: int
    parent: int | None
    start: float = 0.0
    end: float = 0.0


class Tracer:
    """Span recorder bound to one SparkContext. Disabled until ``enabled``
    is set, so the wrapped functions run untouched in untraced passes."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self._accs: list[tuple[str, object]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._query: Span | None = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def _open(self, layer: str, name: str) -> tuple[Span, tuple]:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._query
        span = Span(next(self._ids), layer, name, threading.get_ident(),
                    parent.id if parent is not None else None)
        saved = tuple(self.sc.getLocalProperty(k) for k in _GROUP_PROPS)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", f"{layer}.{name}")
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        self._add_overhead(time.perf_counter() - t0)
        span.start = time.time()
        return span, saved

    def _close(self, span: Span, saved: tuple) -> None:
        span.end = time.time()
        t0 = time.perf_counter()
        stack = self._stack()
        if not stack or stack[-1] is not span:
            raise RuntimeError(f"span {span.layer}.{span.name} closed out of order")
        stack.pop()
        for key, value in zip(_GROUP_PROPS, saved):
            self.sc.setLocalProperty(key, value)
        self._add_overhead(time.perf_counter() - t0)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        span, saved = self._open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span, saved)

    def run_query(self, name: str, fn, *args):
        """The ``plans`` span: the registry query plus its sink."""
        if not self.enabled:
            return fn(*args)
        span, saved = self._open("plans", name)
        self._query = span
        try:
            return fn(*args)
        finally:
            self._query = None
            self._close(span, saved)

    # -- counters ----------------------------------------------------------
    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counts[counter] = self.counts.get(counter, 0) + value

    def audit(self, name: str, action):
        """Run a counting Spark action in its own span, kept out of every
        layer's numbers."""
        return self.span(AUDIT, name, action)

    def accumulator(self, counter: str):
        acc = self.sc.accumulator(0)
        with self._lock:
            self._accs.append((counter, acc))
        return acc

    def counter_values(self) -> dict[str, float]:
        out = dict(self.counts)
        for counter, acc in self._accs:
            out[counter] = out.get(counter, 0) + acc.value
        return out

    # -- installation --------------------------------------------------------
    def wrap(self, layer: str, name: str, fn):
        hook = _HOOKS.get(name)
        replace = _REPLACEMENTS.get(name)
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            impl = replace(self, fn) if replace is not None else fn
            out = self.span(layer, name, impl, *args, **kwargs)
            if hook is not None:
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                hook(self, bound.arguments, out)
            return out

        return traced

    def install(self) -> None:
        """Wrap every listed function and rebind each name the package's
        modules imported from it. Import-time ``from x import f`` bindings
        are rebound too, so calls between operators are traced."""
        import importlib

        from ml_training_data_pipeline_spark.plans import registry

        registry._load_all()
        swaps: dict[int, tuple[object, object]] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names:
                orig = getattr(mod, name)
                swaps[id(orig)] = (orig, self.wrap(layer, name, orig))
        refine = importlib.import_module(f"{PKG}.operators.refine")
        orig = refine._make_group_splitter
        swaps[id(orig)] = (orig, _counting_splitter(self, orig))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                hit = swaps.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])


# -- counter hooks (run after the span closes, traced passes only) -----------
def _rows_read(tr: Tracer, a: dict, out) -> None:
    import pyarrow.parquet as pq

    path = os.path.join(a["sf_dir"], f"{a['name']}.parquet")
    tr.add("io.sources.rows_read", pq.ParquetFile(path).metadata.num_rows)


def _bytes_written(tr: Tracer, a: dict, out) -> None:
    total = 0
    for root, _, files in os.walk(a["path"]):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    tr.add("io.sources.bytes_written", total)


def _accepted_splits(tr: Tracer, a: dict, out) -> None:
    tr.add("operators.refine.accepted_splits", len(out[1]))


def _candidate_pairs(tr: Tracer, a: dict, out) -> None:
    cands = a.get("candidates")
    if cands is not None:
        tr.add("operators.dedup.candidate_pairs", tr.audit("candidates", cands.count))


def _verified(tr: Tracer, a: dict, out) -> None:
    tr.add("operators.dedup.verified", tr.audit("verified", out.count))


def _brute_pairs(tr: Tracer, a: dict, out) -> None:
    """Pairs the exact scorer computes: the vectors x queries cross join
    minus self-matches."""
    idc = a["id_col"]
    vec, qry = a["vectors"], a["queries"]

    def count() -> int:
        same = vec.select(idc).join(qry.select(idc), idc).count()
        return vec.count() * qry.count() - same

    tr.add("operators.similarity.pairs_scored", tr.audit("brute_pairs", count))


def _ivfpq_pairs(tr: Tracer, a: dict, out) -> None:
    """Pairs the IVF-PQ scorer computes: corpus members of each query's
    ``nprobe`` nearest cells, minus self-matches."""
    from pyspark.sql import functions as F

    from ml_training_data_pipeline_spark.operators import similarity

    probes = (
        similarity._query_cell_ranks(a["centers"], a["queries"], a["vec_col"], a["id_col"])
        .where(F.col("p") <= a["nprobe"])
        .select("query_id", "cell")
    )
    pairs = probes.join(a["cellmap"], "cell").where(F.col("vec_id") != F.col("query_id"))
    tr.add("operators.similarity.pairs_scored", tr.audit("ivfpq_pairs", pairs.count))


_HOOKS = {
    "load_table": _rows_read,
    "write_parquet": _bytes_written,
    "split_low_coherence_clusters": _accepted_splits,
    "jaccard_pairs": _candidate_pairs,
    "minhash_dedup": _verified,
    "lsh_admission_rejects": _verified,
    "brute_force_topk": _brute_pairs,
    "ivfpq_topk": _ivfpq_pairs,
}


# -- counting replacements for Python-worker code -----------------------------
# Worker code cannot be wrapped from the driver, so these swap in a UDF that
# bumps a Spark accumulator and then calls the package's own function.
def _counting_llm(tr: Tracer, fn):
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from ml_training_data_pipeline_spark.functions import llm

    acc = tr.accumulator("functions.llm.prompts")
    complete = llm._complete_udf.func

    def counted(prompts: pd.Series) -> pd.Series:
        acc.add(int(prompts.notna().sum()))
        return complete(prompts)

    udf = F.pandas_udf(counted, StringType())
    return lambda prompt: udf(prompt)


def _counting_splitter(tr: Tracer, make):
    """Wrap refine's per-candidate group function: one call per candidate
    cluster that enters the LDA split search."""

    @functools.wraps(make)
    def make_counted(cfg):
        split_group = make(cfg)
        if not tr.enabled:
            return split_group
        acc = tr.accumulator("operators.refine.clusters_tried")

        def counted(pdf):
            acc.add(1)
            return split_group(pdf)

        return counted

    return make_counted


_REPLACEMENTS = {"llm_complete": _counting_llm}
