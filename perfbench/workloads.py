"""The benchmark's workloads: fixed name lists, never recomputed at run time.

The seed generates the corpus (gen.py) and shuffles the query order within
each pass (and the cancel-sweep wait order of traced runs); it never changes
which queries run.
README.md says why each workload was chosen and which layer metrics it
should move.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    # untimed passes after the cold pass: the driver JVM's JIT keeps
    # speeding passes up for a dozen or more of them (about 13 s of warm-up
    # on either workload)
    warmup_passes: int
    queries: tuple[str, ...]


WORKLOADS = {
    # Every 32nd name (alphabetical) of the 160 bench.HEADLINE entries that
    # launch no job while building their plan at sf0.001 (probed at seed).
    "plan_overhead": Workload(
        sf=0.001,
        warmup_passes=10,
        queries=(
            "agg_anova_eta",
            "dedup_url",
            "fn_math",
            "rollup_ohlc",
            "text_ngram_lm",
        ),
    ),
    # Execution-dominated entries with small results: a grouped
    # aggregation, the salted skew join, two multi-join TPC-H shapes and
    # the dedup threshold sweep's pair self-join.
    "scan_shuffle": Workload(
        sf=0.02,
        warmup_passes=5,
        queries=(
            "agg_groupby",
            "join_skew_salted",
            "tpch_q5_shape",
            "tpch_q18_shape",
            "dedup_threshold_sweep",
        ),
    ),
}
