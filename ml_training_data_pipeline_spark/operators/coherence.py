"""Probabilistic topic coherence (SURVEY.md §2.8 M5 / §4 item 1) — the one
real algorithm the reference uses that Spark lacks.

Re-derived from the formula the reference documents for
``textmineR::CalcProbCoherence`` (``02_build_models.R:457-471``,
``04_cluster_refiner.R:108-143``): for a topic's top-M terms (ranked), over
ordered pairs (i < j):

    score(i, j) = D(w_i, w_j) / D(w_i)  −  D(w_j) / N

where D(w) is binarized document frequency, D(w_i, w_j) is document
co-occurrence, N is the corpus size; coherence = mean over pairs. The
term-pair statistics are plain aggregates over the long-format binary DFM
— fully SQL-expressible, hence oracle-checkable.

Scale shape: the top-M term set is tiny (clusters × M rows ⇒ broadcast);
the binary DFM self-join is restricted to those terms *before* joining on
doc — the posting lists involved are M·clusters long, so the shuffle is
bounded regardless of corpus size. The ranked top-M frame is read six
times, so it arrives as a checkpoint (``refine.cluster_coherence`` makes
it): a lazy ranking re-runs its aggregation and window for every read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def binary_doc_term(tokens_long: DataFrame, *, assume_unique: bool = False) -> DataFrame:
    """Binarized DFM: distinct (doc_id, term) — presence, not counts.

    ``assume_unique=True`` skips the distinct when the caller's frame is
    already one row per (doc_id, term) — true of the long TF-IDF DFM
    (term_counts groups on exactly that key), where the distinct was a
    full extra shuffle of the doc-term stream for a no-op. A raw
    exploded token stream (one row per token OCCURRENCE, e.g. a
    tokens_long frame straight out of posexplode) must keep the
    default distinct."""
    out = tokens_long.select("doc_id", "term")
    return out if assume_unique else out.distinct()


def term_doc_freq(binary: DataFrame) -> DataFrame:
    """D(w): (term, df)."""
    return binary.groupBy("term").agg(F.count("*").alias("df"))


def prob_coherence(
    binary: DataFrame,
    topic_terms: DataFrame,
    n_docs: int,
) -> DataFrame:
    """Per-cluster probabilistic coherence.

    topic_terms: (cluster_id, term, rank) — each cluster's top-M ranked
    terms (rank 1 = strongest). Returns (cluster_id, coherence) with
    coherence = avg over rank-ordered pairs, rounded 6. ``topic_terms`` is
    read six times (both pair sides; ``needed`` in the x, y and two df_t
    reads of ``bsub``), so callers pass a materialized frame.
    """
    tt = topic_terms.select("cluster_id", "term", "rank")
    # rank-ordered pairs within each cluster's topic
    a = tt.alias("a")
    b = tt.alias("b")
    pairs = (
        a.join(F.broadcast(b), "cluster_id")
        .where(F.col("a.rank") < F.col("b.rank"))
        .select(
            "cluster_id",
            F.col("a.term").alias("wi"),
            F.col("b.term").alias("wj"),
        )
    )
    # restrict the binary DFM to topic terms before any self-join
    needed = tt.select("term").distinct()
    bsub = binary.join(F.broadcast(needed), "term")
    # symmetric co-occurrence counts for unordered term pairs
    x = bsub.alias("x")
    y = bsub.alias("y")
    co = (
        x.join(y, "doc_id")
        .where(F.col("x.term") < F.col("y.term"))
        .groupBy(F.col("x.term").alias("ta"), F.col("y.term").alias("tb"))
        .agg(F.count("*").alias("d_ij"))
    )
    df_t = term_doc_freq(bsub)
    scored = (
        pairs.join(
            co,
            (F.least("wi", "wj") == co.ta) & (F.greatest("wi", "wj") == co.tb),
            "left",
        )
        .join(df_t.select(F.col("term").alias("wi"), F.col("df").alias("d_i")), "wi")
        .join(df_t.select(F.col("term").alias("wj"), F.col("df").alias("d_j")), "wj")
        .select(
            "cluster_id",
            (
                F.coalesce(F.col("d_ij"), F.lit(0)) / F.col("d_i")
                - F.col("d_j") / F.lit(float(n_docs))
            ).alias("score"),
        )
    )
    # decimal-summed mean (cur8's pattern): the per-pair score is a pure
    # expression of integer doc counts, so round(score*1e6) is identical
    # cross-engine per pair; summing the scaled integers makes the mean
    # independent of accumulation order (avg(double) can land one 6th-
    # decimal step from the oracle's — the d12 sf1-probe class).
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.sum(F.round(F.col("score") * 1000000).cast("long")).alias("s6"),
            F.count("*").alias("n_pairs"),
        )
        .select(
            "cluster_id",
            F.round(F.col("s6") / F.lit(1000000.0) / F.col("n_pairs"), 6).alias(
                "coherence"
            ),
        )
    )
