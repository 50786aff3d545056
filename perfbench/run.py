"""Crawl-engine benchmark: one workload per run, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload fresh_epoch --seed 1 --seconds 1 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``fresh_epoch``: one crawl epoch of synthetic report URLs into an empty
  store, the first epoch of the process (the fused fetch/extract stage
  dominates).
- ``campaign``: consecutive epochs into one growing store, with fresh seeds,
  reseeds that dedup, one vacuum and a final store read. Its traced run
  also measures the 14 ``bench.py`` queries on generated tables.

Spark runs as ``local[4]`` in this process; the next operation starts only
after the previous one finished. Every input is generated from
``--seed``. The run measures whole operations until ``--seconds`` have
elapsed (at least one; ``fresh_epoch`` exactly one), checks the outputs outside the timed region, and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it carries the run's context
(core count, RAM, library versions, source revision, scale, seed).

Everything the run writes lives under ``.perfbench_work/`` in the
repository root; the per-run scratch directory is deleted at exit, and
``.perfbench_work/results/`` keeps each run's result and, for traced runs,
the recorded spans.
"""

from __future__ import annotations

import time

T_START = time.time()  # noqa: E402 — set-up time is measured from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4

# diagnostic / A/B switches of the program: a run must never depend on them
PROGRAM_SWITCHES = (
    "SPARK_GRAFT_SERIAL_COMMITS", "SPARK_GRAFT_PAYLOAD_GATE", "SPARK_GRAFT_PAYLOAD_PATCH",
)

WORKLOADS = ("fresh_epoch", "campaign")


class Run:
    """State of one benchmark run: the Spark session, operation counts,
    output checks, metrics and (traced runs only) the span recorder."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scratch: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = scratch
        self.cores = CORES
        self.spark = None
        self.jvm_pid: int | None = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.metrics: dict[str, dict] = {}
        self.meta: dict = {}
        self.steal_at_start = _cpu_steal_s()

    def dir(self, *parts: str) -> str:
        """A directory under the run's scratch directory (created)."""
        p = os.path.join(self.scratch, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def op(self, fn):
        """Run one client operation (a seed call, an epoch, a query); an
        operation that raises counts as failed and re-raises."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record an output check; a failed check fails one operation."""
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            self.failed = min(self.failed + 1, max(self.attempted, 1))
            print(f"perfbench: check failed: {name}: {detail}", file=sys.stderr)
        return bool(ok)

    # ---------- Spark session ----------

    def start_spark(self, cores: int | None = None, app: str | None = None):
        from biz_crawlers_spark.session import get_spark

        conf = {
            "spark.local.dir": self.dir("spark-local"),
            # keep the JVM's temp files and perf data out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dir('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dir("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        n = cores or self.cores
        self.spark = get_spark(
            cores=n, shuffle_partitions=n, app=app or f"perfbench-{self.workload}",
            extra_conf=conf,
        )
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "biz_crawlers_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_revision() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def context_meta(run: Run) -> dict:
    import numpy
    import pandas
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
        "spark_master": f"local[{run.cores}]",
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "git_revision": _git_revision(),
        "source_digest": _source_digest(),
        "cpu_steal_s": round(_cpu_steal_s() - run.steal_at_start, 3),
        **run.meta,
    }


def _stop_spark(run: Run) -> None:
    """Stop the session and the JVM the session launched, and wait for it."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    run.spark.stop()
    run.spark = None
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "biz_crawlers_spark", "engine", "crawl.py")):
        print(f"perfbench: no crawl engine source under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for var in PROGRAM_SWITCHES:
        os.environ.pop(var, None)
    sys.path.insert(0, ROOT)

    scratch = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
    if run.trace:
        from tracing import Tracer

        run.tracer = Tracer()
    import crawl_workloads as wl

    ok = True
    try:
        wl.main(run, T_START)
    except Exception:
        traceback.print_exc()
        ok = False
    finally:
        try:
            _stop_spark(run)
        finally:
            results = os.path.join(WORK, "results")
            os.makedirs(results, exist_ok=True)
            tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(T_START)}"
            if run.tracer is not None:
                run.tracer.dump(os.path.join(results, f"{tag}.spans.json"))
            meta = context_meta(run)
            shutil.rmtree(scratch, ignore_errors=True)
    if not ok:
        return 1
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"context": meta, "checks": run.checks, "recorded": run.metrics}, f, indent=1)
    declared = spec["per_layer" if run.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in run.metrics]
    if missing and not run.trace:
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": all(c["ok"] for c in run.checks) and run.failed == 0 and bool(run.checks),
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        # a layer this workload does not load reports 0
        "metrics": {
            m["name"]: {"value": run.metrics.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared
        },
    }
    print(json.dumps({"context": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
