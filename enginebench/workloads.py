"""The benchmark's workloads.

Each workload is one closed-loop client: one registry key at a time, build
plus noop-sink action, over tables generated from the run's seed. README.md
says why each workload exists and which layers it isolates.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    sf: float  # star-schema and events scale (600k lineitem rows at 0.1)
    docs: int  # documents rows
    doc_words: int  # mean words per document
    # Nominal warm-pass wall time: a median measured on a 4-vCPU host with
    # two task slots (quiet periods run faster). A run makes
    # ceil(seconds / warm_pass_s) warm passes (at least 3): a count set by
    # --seconds alone, never by how fast the run goes, so warm_s always
    # comes from the same pass positions.
    warm_pass_s: float


WORKLOADS: dict[str, Workload] = {
    # gVCF text parsed, bulk-loaded into a range-keyed layout, range-scanned
    # and combined: sinks beside scans, no Python workers.
    "gvcf_ingest": Workload(
        keys=("source_gvcf_lines", "sink_bulk_put", "scan_range_key", "gvcf_combine"),
        sf=0.01,
        docs=500,
        doc_words=54,
        warm_pass_s=2.0,
    ),
    # The LLM-data chain: Python UDTF and Arrow kernels, the leaking
    # persist(), the iterative CC checkpoints and the spread/spread_heavy
    # gates.
    "curation": Workload(
        keys=(
            "udtf_shingles",
            "dedup_near_minhash",
            "dedup_cluster_cc",
            "multimodal_cdc_chunk_dedup",
        ),
        sf=0.01,
        docs=120,
        doc_words=54,
        warm_pass_s=4.3,
    ),
    # Two cheap keys at a tiny scale, for the smoke test only.
    "smoke": Workload(keys=("agg_group", "sink_bulk_put"), sf=0.001, docs=100, doc_words=20,
                      warm_pass_s=1.0),
}
