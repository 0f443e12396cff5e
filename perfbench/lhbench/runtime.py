"""Process set-up, the Spark session's life cycle, and the op harness.

Everything a run writes stays under its private work dir: Python's
``tempfile``, the JVM's ``java.io.tmpdir``, ``SPARK_LOCAL_DIRS`` and
the engine's scratch root all point there, so two runs in one checkout
cannot see each other's files.
"""

from __future__ import annotations

import os
import signal
import tempfile
import threading
import time
from dataclasses import dataclass

from .tracing import Tracer


def configure(work: str, cpus: int, event_log_dir: str | None) -> None:
    """Point every scratch location at ``work``; must run before the
    JVM starts. ``event_log_dir`` turns Spark's event log on."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"),
              os.path.join(work, "scratch")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # every JVM of the run (spark-submit's launcher too): temp files
    # under the work dir, and no hsperfdata file in the system tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    confs = []
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{event_log_dir}"]
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(confs)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_counters(pid: int | None) -> dict[str, float]:
    """CPU seconds used so far by process ``pid`` and by this process,
    and the host's stolen and total CPU seconds from ``/proc/stat``
    (steal: time the hypervisor ran someone else on our vCPUs)."""
    tick = os.sysconf("SC_CLK_TCK")

    def proc_cpu(p):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            return (int(f[11]) + int(f[12])) / tick
        except (OSError, ValueError, IndexError):
            return 0.0

    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"jvm_cpu_s": proc_cpu(pid) if pid else 0.0,
            "python_cpu_s": proc_cpu("self"),
            "host_steal_s": cpu[7] / tick if len(cpu) > 7 else 0.0,
            "host_cpu_s": sum(cpu) / tick}


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave it running
                proc.kill()
                proc.wait()


def reap_children(timeout_s: float = 30.0) -> None:
    """Terminate and wait for every child process still running — a JVM
    whose launch was interrupted is not yet known to pyspark."""
    me = os.getpid()
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(pid))
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout_s
    for pid in kids:
        while True:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                break
            if done:
                break
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.1)


@dataclass
class Op:
    """One benchmark operation: the call timed as one latency sample."""
    seq: int
    kind: str
    key: str
    group: str
    phase: str
    start: float
    end: float = 0.0
    jobs: int = 0
    ok: bool = True
    error: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Harness:
    """Runs ops under their own Spark job group and keeps their records.

    Job counts come from ``statusTracker().getJobIdsForGroup`` — exact
    and cheap, so every run has them; the event log adds executor-side
    numbers in traced runs."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[Op] = []
        self.phase = "setup"
        self._seq = 0
        self._lock = threading.Lock()

    def run(self, kind: str, key: str, fn) -> Op:
        """Run ``fn()`` as one op and return its record; an exception is
        recorded on the op (``ok``/``error``), not raised."""
        with self._lock:
            self._seq += 1
            seq = self._seq
        group = f"op{seq:05d}"
        op = Op(seq, kind, key, group, self.phase, time.time())
        self.sc.setJobGroup(group, f"{kind}:{key}")
        try:
            with self.tracer.span(f"bench.{kind}", op=group):
                fn()
        except Exception as e:  # noqa: BLE001 — an op failure is data
            op.ok = False
            op.error = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
        finally:
            op.end = time.time()
            self.sc.setJobGroup("untimed", "benchmark bookkeeping")
            op.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.ops.append(op)
        return op
