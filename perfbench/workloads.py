"""The benchmark's workloads: which registry queries make one pass, and the
input properties held fixed across seeds.

Both workloads run at 500 documents. The registry queries here are
dominated by fixed per-job cost at this size (a pass over 5,000 documents
takes about twice as long as one over 500), and the benchmark's whole
schedule has to fit a fixed time budget, so the smaller corpus buys more
runs, not less signal per layer.
"""

from __future__ import annotations

from dataclasses import dataclass

from .gen import Shape


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    shape: Shape
    why: str


WORKLOADS: dict[str, Workload] = {
    # The paper's refine build. m5 runs TF-IDF, the vectorizer and K-means,
    # then the coherence gate forces an LDA split and a centroid merge, so
    # refine's work shows (ep2's gate does not fire on this corpus, so ep2
    # would only show refine's bypass, at twice m5's cost). m11 is the exact
    # Lloyd elbow sweep, the cluster layer's synchronisation-round-bound
    # shape. v5 is ep2's POS-keyword extraction on its own.
    "build_models": Workload(
        ("m5_refine_pipeline", "m11_lloyd_elbow_exact", "v5_pos_keywords"),
        Shape(docs=500, exact_dup_share=0.01, near_dup_share=0.05,
              embeddings=500, events=10_000, users=150),
        "The paper's refine build: TF-IDF, K-means, coherence gate with a forced "
        "LDA split and centroid merge, exact Lloyd sweep, POS keywords.",
    ),
    # Dedup, similarity, LLM and streaming layers, with no MLlib build or
    # refine: MinHash-LSH dedup, the IVF-PQ ANN audit against exact top-k,
    # and the per-document LLM enrichment stream (one bounded micro-batch,
    # so it measures a stream's fixed start/commit/stop cost). The
    # near-duplicate share sets MinHash-LSH's candidate and verified pair
    # volume, so it is higher than the build corpus's and stated.
    "curate_ingest": Workload(
        ("d4_minhash_dedup", "n19_ivfpq_audit", "st3_stream_enrich"),
        Shape(docs=500, exact_dup_share=0.01, near_dup_share=0.15,
              embeddings=500, events=10_000, users=150),
        "Curation and ingest: MinHash-LSH dedup, IVF-PQ ANN audit and the "
        "per-document LLM enrichment stream.",
    ),
}
