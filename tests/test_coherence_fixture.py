"""Probabilistic coherence validated against hand-computed values on a
tiny fixture (SURVEY §7 risk: "validate on tiny fixtures before gating
splits on it"). Formula (02_build_models.R:462-471):

    score(i, j) = D(w_i, w_j) / D(w_i) − D(w_j) / N   for rank pairs i < j
    coherence   = mean over pairs
"""

from __future__ import annotations

import math
import re

import pytest

from ml_training_data_pipeline_spark.operators.coherence import (
    binary_doc_term,
    prob_coherence,
)
from ml_training_data_pipeline_spark.operators.refine import (
    _local_prob_coherence,
    cluster_coherence,
)

# 4 docs: D(a)=3, D(b)=2, D(c)=2; D(a,b)=2, D(a,c)=2, D(b,c)=1; N=4
DOCS = [
    (1, ["a", "b"]),
    (2, ["a", "b", "c"]),
    (3, ["a", "c"]),
    (4, ["d"]),
]
# topic = (a, b, c) ranked 1..3:
#   (a,b): D(a,b)/D(a) − D(b)/N = 2/3 − 2/4 = 1/6
#   (a,c): D(a,c)/D(a) − D(c)/N = 2/3 − 2/4 = 1/6
#   (b,c): D(b,c)/D(b) − D(c)/N = 1/2 − 2/4 = 0
EXPECTED = (1 / 6 + 1 / 6 + 0.0) / 3  # = 1/9


def test_prob_coherence_hand_computed(spark):
    rows = [(d, t) for d, terms in DOCS for t in terms]
    binary = binary_doc_term(
        spark.createDataFrame(rows, schema="doc_id long, term string")
    )
    topic = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3)],
        schema="cluster_id long, term string, rank long",
    )
    out = prob_coherence(binary, topic, n_docs=4).collect()
    assert len(out) == 1
    assert out[0]["coherence"] == pytest.approx(EXPECTED, abs=1e-6)


def test_cluster_coherence_reads_ranking_from_checkpoint(spark):
    """The gate end to end on the same fixture: every doc in cluster 1 and
    unit weights, so summed TF-IDF ranks a (3 docs), then b and c (2 docs,
    tie broken by term), then d — the topic above. The ranking reaches
    prob_coherence as a checkpoint scan, so the gate's executed plan holds
    no ranking window."""
    rows = [(d, t, 1.0) for d, terms in DOCS for t in terms]
    tfidf = spark.createDataFrame(rows, schema="doc_id long, term string, weight double")
    assignments = spark.createDataFrame(
        [(d, 1) for d, _ in DOCS], schema="doc_id long, cluster_id long"
    )
    coh = cluster_coherence(tfidf, assignments, n_docs=4, top_m=3)
    out = coh.collect()
    assert len(out) == 1
    assert out[0]["coherence"] == pytest.approx(EXPECTED, abs=1e-6)
    plan = coh._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"\bWindow(GroupLimit)?\b", plan), plan


def test_local_coherence_twin_matches_dataframe_version():
    import numpy as np

    terms = np.array(["a", "b", "c", "d"])
    X = np.array(
        [
            [1, 1, 0, 0],
            [1, 1, 1, 0],
            [1, 0, 1, 0],
            [0, 0, 0, 1],
        ],
        dtype=float,
    )
    # phi ranks (a, b, c) as the topic's top-3 terms
    phi = np.array([[0.5, 0.3, 0.15, 0.05]])
    got = _local_prob_coherence(X > 0, phi, terms, top_m=3)
    assert math.isclose(got, EXPECTED, abs_tol=1e-12)
