"""The benchmark's workloads: which operations run, in which order, into
which sink.

Every operation is one call into the driver contract
(``__spark_entry__.queries()[key](spark, input_dir)``) followed by the
workload's sink. Both workloads are closed loops with one client: the
next operation starts only when the previous one has finished.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    # "collect": the result is fetched to the driver (toPandas), as a BI
    # client receives rows. "parquet": the result is written as parquet
    # into the run's directory, as a batch job lands a table.
    sink: str
    # True: each pass runs the ops in a seeded random order (a fresh
    # permutation per pass). False: the fixed phase order above.
    shuffled: bool
    # nominal warm pass on a 4-core machine: a run makes
    # passes(seconds) passes whatever the machine's speed, so that two
    # commits compared on the same --seconds do the same work
    pass_s: float
    why: str

    def passes(self, seconds: float) -> int:
        """Passes per run, the first cold: at least two."""
        return max(2, math.ceil(seconds / self.pass_s))


BI_QUERIES = Workload(
    name="bi_queries",
    ops=(
        "q3_shipping_priority",
        "q5_local_supplier",
        "q6_forecast_revenue",
        "q14_promo_effect",
        "q18_large_orders",
        "pipeline_analytics_mart",
    ),
    sink="collect",
    shuffled=True,
    pass_s=9.0,
    why=(
        "sf0.1 x1 (600k lineitem, 17 MB): BI queries collected to the driver; "
        "fixed per-query cost (planning, AQE, scheduling, file listing) dominates"
    ),
)

NIGHTLY_LOAD = Workload(
    name="nightly_load",
    ops=(
        # star load, in the paper's phase order: dimensions, placeholder
        # masters, idempotent anti-join append, atomic multi-table load
        "etl_dim_extract",
        "etl_placeholders",
        "etl_incremental_antijoin",
        "etl_atomic_write",
        # streaming micro-batches
        "stream_tumbling_window",
        # corpus preparation
        "text_quality_score",
        "dedup_exact",
        "ann_cosine_topk",
        "multimodal_features",
    ),
    sink="parquet",
    shuffled=False,
    pass_s=9.0,
    why=(
        "sf0.1 x1 plus 5k docs/2k vectors: star load with an atomic multi-table write, "
        "a streaming job and corpus prep, each result written as parquet"
    ),
)

WORKLOADS = {w.name: w for w in (BI_QUERIES, NIGHTLY_LOAD)}

# Replication factor of the star tables (gen.py). x1 keeps a run of
# either workload within its time budget; the generator supports more.
FACTOR = 1

# The warm-up query of the session set-up (setup_s). It is in neither
# workload, so no operation of the first pass has run before it.
WARMUP_OP = "q13_customer_distribution"
