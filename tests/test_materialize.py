"""The two shared-work seams in operators/materialize.py: ``overlap()``'s
contract, and a source guard that keeps every materialization and every
driver-thread Spark job going through them."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest

from ml_training_data_pipeline_spark.operators.materialize import overlap

PKG = pathlib.Path(__file__).resolve().parent.parent / "ml_training_data_pipeline_spark"
SEAM = PKG / "operators" / "materialize.py"
# its thread pool runs HTTP requests inside executors, not Spark jobs
THREAD_EXEMPT = {PKG / "functions" / "llm.py"}
THREAD_NAMES = {"ThreadPoolExecutor", "InheritableThread", "inheritable_thread_target"}
CKPT_METHODS = {"localCheckpoint", "checkpoint"}


def test_overlap_returns_results_in_argument_order(spark):
    def thunk(i: int, delay: float):
        def run() -> int:
            time.sleep(delay)
            return i

        return run

    # the first thunk finishes last
    assert overlap(thunk(0, 0.3), thunk(1, 0.0), thunk(2, 0.1)) == [0, 1, 2]
    assert overlap() == []


def test_overlap_reraises_first_failure_after_all_finish(spark):
    finished = []

    def slow() -> None:
        time.sleep(0.3)
        finished.append("slow")

    def bad(msg: str):
        def run() -> None:
            raise ValueError(msg)

        return run

    with pytest.raises(ValueError, match="first") as err:
        overlap(slow, bad("first"), bad("second"))
    # every thunk ran to completion before the failure surfaced, and the
    # traceback is the failing thunk's own
    assert finished == ["slow"]
    assert err.traceback[-1].name == "run"


def test_overlap_thunks_inherit_callers_job_group(spark):
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup("overlap-test-group", "overlap inheritance")
    try:

        def run() -> str:
            spark.range(10).count()
            return sc.getLocalProperty("spark.jobGroup.id")

        assert overlap(run, run) == ["overlap-test-group"] * 2
        assert len(sc.statusTracker().getJobIdsForGroup("overlap-test-group")) >= 2
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)


def test_overlap_caps_concurrency_at_max_workers(spark):
    lock = threading.Lock()
    live, peak = [0], [0]

    def run() -> None:
        with lock:
            live[0] += 1
            peak[0] = max(peak[0], live[0])
        time.sleep(0.1)
        with lock:
            live[0] -= 1

    overlap(*[run] * 6, max_workers=2)
    assert peak[0] == 2


def _nodes_outside_overlap(tree: ast.Module, path: pathlib.Path):
    """Every AST node of ``tree``, minus the body of ``overlap()`` in the
    seam module."""
    skip: set[int] = set()
    if path == SEAM:
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == "overlap":
                skip = {id(n) for n in ast.walk(node)}
    return [n for n in ast.walk(tree) if id(n) not in skip]


def test_materialization_and_threads_go_through_the_seam():
    ckpt, threads = [], []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        where = lambda n: f"{path.relative_to(PKG)}:{n.lineno}"  # noqa: E731
        for node in _nodes_outside_overlap(tree, path):
            if (
                path != SEAM
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CKPT_METHODS
            ):
                ckpt.append(where(node))
            if path in THREAD_EXEMPT:
                continue
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else None
            )
            if name in THREAD_NAMES:
                threads.append(where(node))
            if isinstance(node, ast.ImportFrom):
                threads += [where(node) for a in node.names if a.name in THREAD_NAMES]
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "spark.scheduler." in node.value
            ):
                threads.append(where(node))
    assert ckpt == [], "raw checkpoint outside operators/materialize.py"
    assert threads == [], "driver threads or scheduler pools outside overlap()"
