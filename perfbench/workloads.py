"""The benchmark's workloads: one corpus and one op list each.

Each workload stresses a different set of layers, so a change to one layer
should move one workload and leave the others flat (see README.md for the
layer map and the reasons behind each choice).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: corpus spec for corpus.prepare: TPC/events scale factor, document and
    #: embedding counts, and the gen_sf_amplify copy count (1 = base only)
    corpus: dict
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap_sf0.15",
            why="data-bound SQL: execution is >95% of each call; no caches, "
            "no Python UDFs, no streams",
            corpus={"sf": 0.05, "docs": 500, "vecs": 500, "copies": 3},
            ops=(
                "agg_scan_group", "join_multiway", "win_rownum_topk",
                "json_extract", "tpch_q09", "tpch_q18",
            ),
        ),
        Workload(
            name="curate_ingest_sf0.01",
            why="LLM curation and ingest: eager cache builds, an Arrow kernel, "
            "availableNow micro-batches into a file sink, RocksDB state",
            corpus={"sf": 0.01, "docs": 500, "vecs": 500, "copies": 1},
            ops=(
                "llm_exact_dedup", "llm_minhash_banding", "llm_knn_all",
                "stream_dedup",
            ),
        ),
    )
}
