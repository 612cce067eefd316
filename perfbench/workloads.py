"""The benchmark's workloads: fixed, ordered lists of oracle-backed
registry queries, each on a seeded input of a stated size.

A "pass" is one run through a workload's list in order. ``copies`` is
the number of key-shifted copies of the sf0.001 test data that
inputs.generate builds (lineitem = 6,000 rows per copy).

The inputs are small on purpose: one run (a ~14 s fresh-process
set-up, a cold pass, a warm pass) has to stay near 60 s on 4 cores so
that 48 gated runs fit in under an hour. With the set-up and a cold
pass of 24-32 s, that leaves room for one warm pass per run (three
would take a run to 85-100 s). At this size the passes are bound by
per-query fixed costs (planning, job scheduling, codegen, Python
worker start), not by data volume.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    copies: int


WORKLOADS: dict[str, Workload] = {
    # The reference's own surface: scan, join, aggregate and Parquet
    # write, no Python kernels and no iteration. Wide-output writes
    # (dedup_min_by, occurrence_cleaning_pipeline) sit next to
    # scan-heavy tiny-output reads (q1_pricing_summary), so a write-side
    # win that costs the read side shows. Suppliers (10 per copy) stay
    # far below the 612 centroid cells of occurrence_cleaning_pipeline,
    # so its 300 km anti-join keeps rows and its check means something.
    "reference_etl": Workload(
        queries=(
            "occurrence_cleaning_pipeline",
            "full_metadata_roundtrip",
            "metadata_etl_rollup",
            "tpch_q3_shipping_priority",
            "revenue_by_nation",
            "salted_join_brand_revenue",
            "dedup_min_by",
            "q1_pricing_summary",
            "layout_pruning_audit",
        ),
        copies=2,
    ),
    # Many small jobs, per-round exchanges and the persist/unpersist
    # lifecycle, with almost no scan or write bytes: where one graph
    # scaffold and one k-means for all PQ codebooks must show.
    "iterative_graph": Workload(
        queries=(
            "copurchase_pagerank",
            "copurchase_kcore",
            "copurchase_communities",
            "purchase_hits_scores",
            "kmeans_clusters",
            "pq_adc_topk",
        ),
        copies=1,
    ),
    # The Python-worker and Arrow boundary, streaming micro-batches and
    # state, and a collect_set aggregate that falls back to sort. The
    # other workloads never touch the pykernel or streaming layers.
    "llm_kernels_stream": Workload(
        queries=(
            "jpeg_decode_features",
            "audio_decode_features",
            "udtf_word_chunks",
            "stream_stateful_sessions",
            "stream_event_window",
            "minhash_lsh_dups",
        ),
        copies=1,
    ),
}
