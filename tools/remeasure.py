#!/usr/bin/env python
"""§4-protocol re-measure, the standing tool (generalized from the
round-12 one-off): min of >=6 warm runs per key, ONE process,
interleaved with the §9 control keys, judged against the EPOCH-2
baseline (BASELINE.md §11 reading rule). Use whenever a single-pass
BENCH record reads above its same-window control spread — a
reproduced, control-normalized gap is the only basis for a bisect or
a baseline re-merge (BASELINE.md §12 discipline).

  python tools/remeasure.py [--runs N] [--json FILE] [key ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WATCH = ["graph_components", "win_rank", "ts_resample_ffill"]  # default; pass keys
CONTROLS = ["set_union", "join_asof", "win_frame_rows"]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--json")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    watch = args.keys or WATCH

    from lakehouse_automation_spark.engine import get_spark
    from lakehouse_automation_spark.operators.cache import release_persisted
    from lakehouse_automation_spark.queries import REGISTRY

    base = json.load(open(os.path.join(REPO, "bench",
                                       "BASELINE_results.json")))
    spark = get_spark("remeasure")

    def once(key: str) -> float:
        t0 = time.perf_counter()
        REGISTRY[key].fn(spark, SF_DIR).write.format("noop") \
            .mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_persisted(spark)
        return dt

    keys = list(dict.fromkeys(watch + CONTROLS))
    for k in keys:  # cold pass: plan + JIT
        once(k)
    times: dict[str, list[float]] = {k: [] for k in keys}
    for _ in range(args.runs):  # interleaved: each round hits every key
        for k in keys:
            times[k].append(once(k))
    out = {}
    for k in keys:
        mn = min(times[k])
        ratio = (round(mn / base[k]["sec"], 3)
                 if k in base else None)
        out[k] = {"min": round(mn, 4),
                  "runs": [round(t, 3) for t in times[k]],
                  "baseline_epoch2": base.get(k, {}).get("sec"),
                  "ratio_epoch2": ratio,
                  "control": k in CONTROLS}
    ctrl = sorted(out[k]["ratio_epoch2"] for k in CONTROLS
                  if out[k]["ratio_epoch2"] is not None)
    out["_control_median_epoch2"] = ctrl[len(ctrl) // 2] if ctrl else None
    try:
        out["_loadavg"] = os.getloadavg()
    except OSError:
        pass
    sys.stdout.write(json.dumps(out, indent=1) + "\n")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
