"""The benchmark's workloads: fixed sets of registered query ids.

Each pass visits every query of its workload once.  The cold pass runs
them in the order listed here, as a configured load would; the run's
seed permutes the order of every warm pass (``stats.query_order``).
The sets are subsets of the families they name, sized so that one
fresh-process run (set-up, the cold pass and several warm passes) takes
about a minute on 4 cores.  ``pass_s`` is the nominal warm-pass time on
4 cores after the warm-up: a run makes ``--seconds / pass_s`` timed warm
passes (see run.py).
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "curation": {
        "why": "read-only LLM-data curation: array/string codegen, Python workers and the measured-regime caches (more build jobs cold than warm)",
        "pass_s": 4.0,
        "queries": [
            "dedup_semantic_cluster",
            "dedup_simhash",
            "sim_pairs_threshold",
            "cluster_topics_kmeans",
            "chunk_fixed_tokens",
        ],
    },
    "lakehouse": {
        "why": "Thrive-style loads: Delta log folds, ACID merges and config-driven incremental runs; build-bound, nearly all jobs run inside the query call",
        "pass_s": 6.5,
        "queries": [
            "scan_delta_log_table",
            "acid_merge_upsert",
            "pipeline_config_run",
        ],
    },
}
