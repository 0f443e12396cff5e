"""Names and units of every metric the benchmark reports.

They are read from ``BENCHMARK.json`` at the root of the checkout, the
one place they are listed. ``END_TO_END`` metrics come from untraced
runs and are what a user of the system sees; ``PER_LAYER`` metrics
come from the traced run. Every workload reports every metric of its
mode; a layer a workload does not exercise reads 0 there (the
prediction for that pairing).
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)

END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

#: reported in the printed table and the record, not in the result
#: line: they do not apply to every workload, or can be 0 / absent
EXTRA_END_TO_END = {
    "latency_p90_s": "s",
    "reader_latency_p50_s": "s",
    "freshness_p90_s": "s",
    "error_rate": "ratio",
}

#: layers a span inside an op can belong to; ``bench`` is the op's own
#: untraced gap. ``engine`` (get_spark, warm-up) and ``operators``
#: (release between ops) run outside any op and have their own metrics.
LAYERS = ["bench", "queries", "streaming", "tableformat", "pipelines",
          "spark"]
