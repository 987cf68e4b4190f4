"""The benchmark's workloads: which queries, and how many passes.

Every query here has a DuckDB value oracle. ``pass_s`` is the steady
time of one pass on the 4-core Intel Xeon VM the bounds were set on; with
``--seconds`` it fixes the number of timed passes, so the window is a
whole number of passes and the same on both sides of a comparison. The
``warmup`` passes run after the cold pass and are not timed. NOTES.md
records why each workload was chosen and which members were left out.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from lanebench.stats import TAIL_ABOVE


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    warmup: int
    pass_s: float

    def window(self, seconds: float) -> int:
        """Timed passes for a window of about ``seconds``, and at least
        enough for a tail with ``TAIL_ABOVE`` samples above it."""
        least = math.ceil((TAIL_ABOVE + 1) / len(self.queries))
        return max(least, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "python_boundary",
            "no job at build; collect runs mapInPandas, mapInArrow, "
            "applyInPandas or pandas_udf, so Python workers and Arrow "
            "transfer dominate",
            ("udaf_grouped", "sim_knn_topk", "text_repetition",
             "udf_scalar_pandas", "udf_iter_pandas", "udf_map_arrow"),
            warmup=2,
            pass_s=2.7,
        ),
        Workload(
            "build_write",
            "the build fires Spark jobs: localCheckpoint chains, a file "
            "write and a stream drain, so build time dominates",
            ("graph_label_propagation", "evt_markov_stationary",
             "sink_parquet", "stream_session_window"),
            warmup=1,
            pass_s=6.6,
        ),
    )
}
