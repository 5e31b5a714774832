"""Workload query sets and the fixed benchmark shape.

Each workload is a fixed list of registered query names; ``--seed`` only
permutes their order within each warm pass. README.md gives why each query
set was chosen and which layer each metric belongs to.
"""

from __future__ import annotations

#: Input tables, relative to the repository root: a byte-identical copy of
#: the engine's sf0.01 parquet fixtures (the scale its DuckDB-oracle
#: correctness check uses): 60k lineitem, 10k events, 500 documents, 500
#: embeddings.
DATA_DIR = "perfbench/data/sf0.01"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Iterative dedup and similarity operators: collect and count probes plus
    # localCheckpoint generations between sequential jobs.
    "corpus_loops": (
        "curation_pipeline",
        "brand_affinity_pairs",
    ),
    # availableNow micro-batch drains that stage replay copies and
    # checkpoints under $TMPDIR and keep operator state.
    "streaming_drain": (
        "user_totals_stateful",
        "events_hourly_stream",
    ),
}

#: Warm passes run after the cold pass and left out of every figure:
#: the JIT is still compiling through them, so pass walls drift down.
SETTLE_PASSES = 2
#: Warm passes measured in every untraced run, so parent and change are
#: always read at the same positions of the warm-up curve (traced runs
#: measure ``TRACED_WARM_PASSES``). ``--seconds`` is only an upper limit.
WARM_PASSES = 3
TRACED_WARM_PASSES = 4
