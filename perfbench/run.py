"""Benchmark entry point: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload cdc_trickle_rw --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached under ``perfbench/.work``); the engine only sees the files. The
metric names, units and bounds are those of ``BENCHMARK.json``:
``--trace 0`` prints every end-to-end metric, ``--trace 1`` wraps the
package's layer entry points and prints every per-layer metric. The last
line of standard output is the result object; the lines before it are the
run record, the workload's named metrics and a readable summary.
``--size smoke`` runs a tiny input of the same shape.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python can see it

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: the benchmark's width: the last four CPUs this process may use
WIDTH = 4
FILEIO_OPS = ("add_file", "listdir", "publish_atomic", "getsize", "remove_tree", "read_text")
LAYERS = ("streaming", "multi_merge", "table", "fileio", "snapshots", "query")


def meminfo_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def cpu_ticks() -> "list[int]":
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe_ms() -> float:
    """Best of three timings of a fixed pure-Python loop: how fast the
    machine runs right now, to tell a slow machine from a slow program."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return 1000 * best


def git_sha() -> "str | None":
    """HEAD of the checkout, or None when it is not a git work tree of its own."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


class Run:
    """State of one benchmark run, shared by the workload and the report."""

    def __init__(self, args, cpus):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.size, self.trace = args.size, bool(args.trace)
        self.work = WORK
        self.cpus = cpus
        # the heap is sized from the box, leaving room for the page cache
        # that holds the feed and the warehouse
        self.heap_gib = max(1, min(4, int(meminfo_gib() / 6)))
        self.gen_s = 0.0
        self.setup_s = None
        self.ops: list[tuple[str, "str | None"]] = []
        self.e2e: dict = {}
        self.details: dict = {}
        self.layer: dict = {}
        self.end_files = (0, 0)
        import spans
        import workloads

        self.tracer = spans.Tracer()
        self.engine = workloads.Engine(self)

    def mark_setup(self) -> None:
        """The first timed op starts now: set-up is everything before it
        except the benchmark's own input generation."""
        self.setup_s = time.perf_counter() - T0 - self.gen_s

    @contextmanager
    def traced(self):
        if not self.trace:
            yield
            return
        import spans

        restore = spans.install(self.tracer)
        try:
            yield
        finally:
            restore()

    def root(self, op: str, kind: str):
        """A root span: one batch, read or query; spans on other threads
        opened meanwhile hang under it."""
        return self.tracer.span(kind, "root", op=op, adopt=True) if self.trace else nullcontext()

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.trace else nullcontext()


def layer_metrics(run: Run) -> dict:
    """Per-layer metrics from the spans and counters of a traced run."""
    import spans as sp

    S, C = run.tracer.spans, run.tracer.counters
    kids = sp.children_of(S)

    def named(n):
        return [s for s in S if s.name == n]

    def calls_busy(prefix, n):
        xs = named(n)
        return {f"{prefix}.calls": len(xs), f"{prefix}.busy_s": sum(s.dur for s in xs)}

    out = {}
    out.update(calls_busy("stream.apply", "stream.apply"))
    out.update(calls_busy("lineage.emit", "lineage.emit"))
    merges = named("merge")
    out["merge.busy_s"] = sum(s.dur for s in merges)
    out["merge.self_s"] = sum(sp.self_time(s, kids.get(s.id, [])) for s in merges)
    out["merge.files_staged"] = C["merge.files_staged"]
    out["merge.rows_per_file"] = C["merge.rows"] / C["merge.files_staged"] if C["merge.files_staged"] else 0.0
    out["merge.fallbacks"] = C["merge.fallbacks"]
    # a commit's own time excludes the compaction it triggers
    commit = [
        s.dur - sp.covered(s, kids.get(s.id, []), {"table.compact", "table.compact_deltas"})
        for s in named("table.commit")
    ]
    out["table.commit.calls"] = len(commit)
    out["table.commit.busy_s"] = sum(commit)
    out["table.commit.p50_ms"] = 1000 * statistics.median(commit) if commit else 0.0
    out.update(calls_busy("table.compact", "table.compact"))
    out.update(calls_busy("table.compact_deltas", "table.compact_deltas"))
    out["table.get_or_create.busy_s"] = sum(s.dur for s in named("table.get_or_create"))
    total = C["table.lookup.files_total"]
    out["table.lookup.files_read_ratio"] = C["table.lookup.files_read"] / total if total else 0.0
    out["table.live_files_end"], out["table.delta_files_end"] = run.end_files
    for op in FILEIO_OPS:
        out.update(calls_busy(f"fileio.{op}", f"fileio.{op}"))
    out["fileio.publish_atomic.conflicts"] = C["fileio.publish_atomic.conflicts"]
    out["snapshots.publish.busy_s"] = sum(s.dur for s in named("snapshots.publish"))
    for layer in LAYERS:
        out[f"layer.{layer}.busy_s"], out[f"layer.{layer}.wall_s"] = sp.layer_busy_wall(S, layer)
    out.update(run.layer)
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    args = p.parse_args(argv)
    # a TERM unwinds through the finally blocks, which stop Spark and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the engine must be here: fail before writing anything without it
    sys.path[:0] = [ROOT, HERE]
    try:
        import multi_table_plugins_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    # keep every file the run writes (Spark scratch, temp files) inside WORK
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None

    avail = sorted(os.sched_getaffinity(0))
    cpus = avail[-WIDTH:]
    os.sched_setaffinity(0, cpus)  # the JVM inherits this mask

    import pyarrow
    import pyspark

    import duckdb
    import spans
    import workloads

    run = Run(args, cpus)
    record = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": run.trace, "size": run.size,
        "nproc": len(avail), "cpus": cpus, "loadavg_before": loadavg(),
        "mem_total_gib": round(meminfo_gib(), 2), "jvm_heap_gib": run.heap_gib,
        "git_sha": git_sha(), "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
    }
    record["cpu_probe_ms_before"] = cpu_probe_ms()
    ticks = cpu_ticks()
    try:
        workloads.WORKLOADS[run.workload](run)
    finally:
        run.engine.close()
    record["loadavg_after"] = loadavg()
    record["cpu_probe_ms_after"] = cpu_probe_ms()
    # CPU time the hypervisor gave to other guests: the usual cause of a
    # slow run on a shared VM
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    record["steal_pct"] = 100 * delta[7] / max(sum(delta), 1) if len(delta) > 7 else None
    record["gen_s"] = run.gen_s
    run.e2e["setup_s"] = run.setup_s

    failed = [(op, err) for op, err in run.ops if err is not None]
    details = dict(run.details, error_rate=len(failed) / max(len(run.ops), 1), failed_ops=failed)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{run.workload}-{run.size}-s{run.seed}-t{args.trace}")
    last_untraced = os.path.join(WORK, "results", f"{run.workload}-{run.size}-untraced.json")
    if run.trace:
        metrics = layer_metrics(run)
        kinds = bench["per_layer"]
        details["root_balance_max_s"] = spans.root_balance(run.tracer.spans)
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                ref = json.load(f)
            details["tracing_overhead"] = {
                k: run.e2e[k] / ref[k] - 1 for k in ref if k != "setup_s" and ref[k]
            }
        run.tracer.write(stem + ".spans.jsonl")
    else:
        metrics = run.e2e
        kinds = bench["end_to_end"]
        with open(last_untraced, "w") as f:
            json.dump(run.e2e, f)
    # a layer the workload bypasses reads 0; an end-to-end metric is never absent
    out = {
        k["name"]: {"value": float(metrics.get(k["name"], 0.0) if run.trace else metrics[k["name"]]),
                    "unit": k["unit"]}
        for k in kinds
    }
    finite = all(math.isfinite(m["value"]) for m in out.values())
    result = {
        "correct": not failed and finite,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": out,
    }
    with open(stem + ".json", "w") as f:
        json.dump({"record": record, "details": details, "result": result}, f, indent=1)

    print(json.dumps({"record": record}))
    print(json.dumps({"details": details}))
    for name, m in out.items():
        if not name.startswith("query.") or not name.endswith(("plan_s", "build_s")):
            print(f"  {name:<40} {m['value']:>14.6g} {m['unit']}")
    for op, err in failed:
        print(f"  FAILED {op}: {err}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
