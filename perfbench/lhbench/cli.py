"""Command line: run one workload with one seed, print every metric.

    python3 perfbench/run.py --workload sql_analytics --seed 1 \
        --seconds 10 --trace 0

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the lines above it are a table of every
metric by name and unit and the full self-describing record.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
#: scale factor of the generated star schema (rows as in the sf-series
#: testdata: 60k lineitem, 10k events, 500 documents at 0.01)
SF = 0.01
WORKLOADS = ("sql_analytics", "lakehouse_refresh")
#: each run's scratch dir (removed at exit) and its kept outputs: the
#: record and, for a traced run, the spans
OUT = os.path.join(ROOT, ".perfbench_work")


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    try:
        with open("/proc/self/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        start_ticks = int(fields[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.time() - age
    except (OSError, ValueError, IndexError):
        return time.time()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_record(spark) -> dict:
    import pyspark

    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        pass
    commit = None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10).stdout.split()
        # only this checkout's own repository, never an enclosing one
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            commit = out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lakehouse_automation_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "host_mem_mb": round(mem_kb / 1024),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
    }


def _untraced_base(args, host) -> tuple[float, str] | None:
    """``ops_per_s`` of the newest untraced run of the same workload,
    seed and package sources in this checkout, and its record's name."""
    found = []
    for path in glob.glob(os.path.join(
            OUT, f"{args.workload}-s{args.seed}-t0-*.record.json")):
        with open(path) as fh:
            rec = json.load(fh)["record"]
        if rec["source_sha256"] == host["source_sha256"] \
                and rec["seconds"] == args.seconds:
            found.append((os.path.getmtime(path),
                          rec["end_to_end"]["ops_per_s"],
                          os.path.basename(path)))
    return max(found)[1:] if found else None


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _parse(argv)
    needed = [os.path.join(ROOT, "lakehouse_automation_spark", "__init__.py"),
              os.path.join(ROOT, "tools", "oracle_check.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: {missing} not found; run from the root of a "
              f"full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from . import runtime

    run = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "tmp-" + run)
    evlog = os.path.join(work, "eventlog") if args.trace else None
    runtime.configure(work, len(os.sched_getaffinity(0)), evlog)
    try:
        return _run(args, t_proc, run, work, evlog)
    finally:
        runtime.reap_children()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, t_proc, run, work, evlog) -> int:
    from . import inputs, runtime
    from .report import Report
    from .tracing import Tracer

    sf_dir = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    inputs.write(sf_dir, args.seed, SF)
    input_s = time.perf_counter() - t0

    from lakehouse_automation_spark.engine import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0

    tracer = Tracer(enabled=False)
    ctx = SimpleNamespace(spark=spark, sf_dir=sf_dir, seed=args.seed, work=work,
                  run_seconds=args.seconds, traced=bool(args.trace),
                  cpus=len(os.sched_getaffinity(0)),
                  tracer=tracer, harness=runtime.Harness(spark, tracer))
    spark_stopped = False
    try:
        if args.workload == "sql_analytics":
            from .sql_analytics import SqlAnalytics as W
        else:
            from .lakehouse_refresh import LakehouseRefresh as W
        wl = W(ctx)
        t0 = time.perf_counter()
        wl.setup()
        warmup_s = time.perf_counter() - t0

        # a traced run measures its traced phase first, in the place an
        # untraced run measures its one phase
        phases, cpu = {}, {}
        jvm = runtime.jvm_pid()
        t_first = time.time()
        for phase in ("traced", "untraced") if args.trace else ("untraced",):
            tracer.enabled = phase == "traced"
            ctx.harness.phase = phase
            t0, c0 = time.time(), runtime.cpu_counters(jvm)
            wl.run_phase(args.seconds)
            phases[phase] = (t0, time.time())
            cpu[phase] = {k: v - c0[k]
                          for k, v in runtime.cpu_counters(jvm).items()}
        tracer.enabled = False
        ctx.harness.phase = "check"
        checks = wl.check()
        layer = {ph: wl.layer_metrics(ph) for ph in phases}
        host = _host_record(spark)
        jvm_rss = runtime.vm_hwm_mb(jvm)
        runtime.stop_spark(spark)
        spark_stopped = True
    finally:
        if not spark_stopped:
            runtime.stop_spark(spark)

    report = Report(
        args=args, workload=wl, harness=ctx.harness, tracer=tracer,
        phases=phases, cpu=cpu, checks=checks, layer=layer, host=host,
        setup_s=t_first - t_proc, input_s=input_s, get_spark_s=get_spark_s,
        warmup_s=warmup_s, jvm_rss_mb=jvm_rss,
        python_rss_mb=runtime.vm_hwm_mb(), evlog=evlog,
        untraced_base=_untraced_base(args, host) if args.trace else None)
    record = json.dumps({"record": report.record}, sort_keys=True)
    with open(os.path.join(OUT, run + ".record.json"), "w") as fh:
        fh.write(record + "\n")
    if args.trace:
        tracer.dump(os.path.join(OUT, run + ".spans.jsonl"))
    for line in report.table():
        print(line)
    print(record)
    print(json.dumps(report.result()))
    return 0
