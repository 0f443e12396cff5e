"""Turn one run's op records, spans and event log into its metrics."""

from __future__ import annotations

from collections import defaultdict

from . import catalog, eventlog, stats
from .tracing import layer_self_by_op

MIB = 1024.0 * 1024.0


def _phase_rates(workload, ops, phase, window):
    user = [o for o in ops if o.kind == workload.user_op and o.ok]
    elapsed = window[1] - window[0]
    return {
        "ops_per_s": workload.ops_per_s(user, phase, elapsed),
        "latency_p50_s": workload.latency_p50(user, phase),
        "samples": len(user),
        **workload.extra_end_to_end(user, phase),
    }


def _spark_per_op(ops, groups):
    n = max(1, len(ops))
    tot = defaultdict(float)
    for o in ops:
        g = groups.get(o.group, eventlog.GroupAgg())
        tot["spark.jobs_per_op"] += o.jobs
        tot["spark.stages_per_op"] += g.stages
        tot["spark.tasks_per_op"] += g.tasks
        tot["spark.driver_s"] += max(0.0, o.wall - g.busy_s(o.start, o.end))
        tot["spark.executor_run_s"] += g.run_ms / 1e3
        tot["spark.executor_cpu_s"] += g.cpu_ns / 1e9
        tot["spark.gc_s"] += g.gc_ms / 1e3
        tot["spark.shuffle_read_mb"] += g.shuffle_read_b / MIB
        tot["spark.shuffle_write_mb"] += g.shuffle_write_b / MIB
        tot["spark.spill_mb"] += g.spill_b / MIB
        tot["spark.input_mb"] += g.input_b / MIB
    return {k: v / n for k, v in tot.items()}


class Report:
    def __init__(self, *, args, workload, harness, tracer, phases, cpu, checks,
                 layer, host, setup_s, input_s, get_spark_s, warmup_s,
                 jvm_rss_mb, python_rss_mb, evlog, untraced_base):
        self.traced = bool(args.trace)
        timed = [o for o in harness.ops if o.phase in phases]
        # warm-up ops are attempted ops too: a failure there counts
        failed_ops = [o for o in harness.ops if not o.ok]
        failed_checks = [c for c in checks if not c[1]]
        self.attempted = len(harness.ops) + len(checks)
        self.failed = len(failed_ops) + len(failed_checks)
        self.correct = self.failed == 0

        by_phase = {ph: [o for o in timed if o.phase == ph] for ph in phases}
        rates = {ph: _phase_rates(workload, by_phase[ph], ph, w)
                 for ph, w in phases.items()}
        un = rates["untraced"]
        e2e = {k: v for k, v in un.items() if k != "samples"}
        e2e["setup_s"] = setup_s
        e2e["error_rate"] = self.failed / max(1, self.attempted)
        self.end_to_end = e2e

        self.per_layer = {}
        self.overhead_base = None
        identity_err = 0.0
        if self.traced:
            ops = by_phase["traced"]
            per = dict.fromkeys(catalog.PER_LAYER, 0.0)
            per.update({
                "engine.get_spark_s": get_spark_s,
                "engine.warmup_s": warmup_s,
                "engine.jvm_peak_rss_mb": jvm_rss_mb,
                "engine.python_peak_rss_mb": python_rss_mb,
                "error_rate": e2e["error_rate"],
            })
            by_key = defaultdict(list)
            for o in ops:
                if o.kind == "query" and o.ok:
                    by_key[o.key].append(o)
            for key, kops in by_key.items():
                per[f"queries.{key}.wall_s"] = stats.median(
                    [o.wall for o in kops])
                per[f"queries.{key}.jobs"] = stats.median(
                    [o.jobs for o in kops])
            per.update(_spark_per_op(ops, eventlog.read_dir(evlog)))
            per.update(layer.get("traced", {}))
            # traced ops_per_s over that of the same-seed untraced run,
            # else over this run's own untraced phase
            base_ops, self.overhead_base = untraced_base or (
                un["ops_per_s"], "untraced phase of this run")
            if base_ops > 0:
                per["trace.overhead_ratio"] = (
                    rates["traced"]["ops_per_s"] / base_ops)
            groups = {o.group for o in ops}
            spans = [s for s in tracer.spans if s.op in groups]
            self_by_op = layer_self_by_op(spans)
            roots = {s.op: s.end - s.start for s in spans if s.parent is None}
            for layer_name in catalog.LAYERS:
                per[f"trace.self_s.{layer_name}"] = stats.mean(
                    [self_by_op.get(g, {}).get(layer_name, 0.0)
                     for g in groups])
            for g, layers in self_by_op.items():
                identity_err = max(identity_err,
                                   abs(sum(layers.values()) - roots[g]))
            self.per_layer = per

        self.record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "traced": self.traced,
            **host,
            "setup": {"input_s": input_s, "get_spark_s": get_spark_s,
                      "warmup_s": warmup_s},
            "phases": {ph: {"seconds": w[1] - w[0], **rates[ph], **cpu[ph]}
                       for ph, w in phases.items()},
            "end_to_end": e2e,
            "per_layer": self.per_layer,
            "checks": [{"name": n, "ok": ok, "detail": d}
                       for n, ok, d in checks],
            "op_failures": [f"{o.kind}:{o.key}: {o.error}"
                            for o in failed_ops],
            "trace_identity_max_abs_s": identity_err,
            "trace_overhead_base": self.overhead_base,
            "ops": [{"phase": o.phase, "kind": o.kind, "key": o.key,
                     "wall_s": round(o.wall, 6), "jobs": o.jobs, "ok": o.ok}
                    for o in harness.ops],
            "workload_detail": workload.detail(),
        }

    def _units(self):
        return {**catalog.END_TO_END, **catalog.EXTRA_END_TO_END,
                **catalog.PER_LAYER}

    def table(self) -> list[str]:
        units = self._units()
        rows = (self.per_layer if self.traced else self.end_to_end).items()
        return [f"{name:46s} {value:>14.6g} {units.get(name, '')}"
                for name, value in rows]

    def result(self) -> dict:
        names = catalog.PER_LAYER if self.traced else catalog.END_TO_END
        src = self.per_layer if self.traced else self.end_to_end
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": float(src[n]), "unit": u}
                        for n, u in names.items()},
        }
