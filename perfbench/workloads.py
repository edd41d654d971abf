"""The workloads. Each runs against the package's public API, times
its own ops, and records every op (batch, lookup, query, final-state
check) with its error, if any.

Every function takes a :class:`Run` and fills ``run.e2e`` (the gated
end-to-end metrics), ``run.details`` (the workload's own named metrics)
and, in a traced run, ``run.layer``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import time

import pyarrow.parquet as pq

import inputs
import oracle

# --- the Spark engine under test ---------------------------------------------


class Engine:
    """The Spark session under test and the JVM behind it."""

    def __init__(self, run: "Run"):
        self.run = run
        self.spark = None
        self._gateway = None

    def conf(self) -> dict:
        work = self.run.work
        return {
            "spark.driver.memory": f"{self.run.heap_gib}g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self, cores: int):
        from pyspark import SparkContext

        from multi_table_plugins_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=cores, extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
        gw = self._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def fresh_dir(*parts: str) -> str:
    d = os.path.join(*parts)
    shutil.rmtree(d, ignore_errors=True)
    return d


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pctl(xs, q: int):
    """The q-th percentile, or None when fewer than ten samples lie beyond it."""
    if len(xs) * (100 - q) / 100 < 10:
        return None
    return statistics.quantiles(xs, n=100)[q - 1]


def live_bytes(warehouse: str, tables: "list[str]") -> "tuple[int, int, int]":
    """(live bytes, live files, delta files) summed over ``tables``."""
    nbytes = nfiles = ndelta = 0
    for t in tables:
        m = oracle.latest_manifest(os.path.join(warehouse, t))
        es = oracle.live_entries(m)
        nbytes += sum(e["bytes"] for e in es)
        nfiles += len(es)
        ndelta += sum(len(b.get("delta", [])) for b in m["buckets"].values())
    return nbytes, nfiles, ndelta


# --- cdc_trickle_rw ------------------------------------------------------------

#: 4 buckets, not the callers' 16: a 16-bucket batch takes 5-15 s, so a
#: run would time two batches and no median (see the README). A feed file
#: carries ~62 events per table, so every batch writes a delta to every
#: (table, bucket) and every table compacts every COMPACT_EVERY batches.
#: One table thread per core.
TRICKLE_KW = dict(n_buckets=4, compact_threshold=3, max_parallel_tables=4)
COMPACT_EVERY = TRICKLE_KW["compact_threshold"]
MIN_CYCLES = 2  # so every table compacts at least twice per run
LOOKUP_KEYS = 4  # changed + unchanged keys per read


def _read_plan(files: "list[str]", tables: "list[str]", keys_per_table: int) -> "list[tuple[str, list[str]]]":
    """Per batch: the table read after it and the keys read — keys the
    batch changed and keys it did not."""
    plan = []
    for i, f in enumerate(files):
        t = tables[i % len(tables)]
        got = pq.read_table(f, columns=["table_name", "doc_id"])
        changed = sorted({d for tn, d in zip(got["table_name"].to_pylist(), got["doc_id"].to_pylist()) if tn == t})
        unchanged = [
            k for k in (f"{t}-k{(i * 37 + j * 101) % keys_per_table}" for j in range(3 * LOOKUP_KEYS))
            if k not in changed
        ]
        plan.append((t, changed[:LOOKUP_KEYS] + unchanged[:LOOKUP_KEYS]))
    return plan


class _Trickle:
    """The closed loop: each batch starts once the previous batch and the
    read after it have returned."""

    def __init__(self, run, spark, files, plan, wh):
        self.run, self.spark, self.files, self.plan, self.wh = run, spark, files, plan, wh
        self.i = 0
        self.lookups, self.batch_s, self.lookup_s = [], [], []

    def step(self) -> None:
        from multi_table_plugins_spark.lakehouse import LakeTable
        from multi_table_plugins_spark.streaming import cdc_pipeline

        run, spark, i = self.run, self.spark, self.i
        df = spark.read.parquet(self.files[i])
        err = None
        with run.root(f"batch-{i}", "batch"):
            t0 = time.perf_counter()
            try:
                res = cdc_pipeline.apply_cdc_batch(spark, df, self.wh, epoch=i, app_id="trickle", **TRICKLE_KW)
                if res.get("failed"):  # tables isolated by the error port
                    err = f"tables failed: {res['failed']}"
            except Exception as e:  # one failing batch is one failed op
                err = f"{type(e).__name__}: {e}"
            self.batch_s.append(time.perf_counter() - t0)
        run.ops.append((f"batch:{i}", err))
        table, keys = self.plan[i]
        with run.root(f"read-{i}", "read"):
            t0 = time.perf_counter()
            try:
                rows = LakeTable(spark, os.path.join(self.wh, table)).lookup_many(keys).collect()
            except Exception as e:  # checked against the oracle only when it returned
                rows = None
                run.ops.append((f"lookup:b{i}:{table}", f"{type(e).__name__}: {e}"))
            self.lookup_s.append(time.perf_counter() - t0)
        if rows is not None:
            self.lookups.append(dict(batch=i, table=table, keys=keys, rows=[oracle.row_text(r) for r in rows]))
        self.i += 1

    def cycles(self, seconds: float) -> None:
        """Whole compaction cycles, at least MIN_CYCLES, until ``seconds``
        have passed."""
        start, t_end = self.i, time.perf_counter() + seconds
        while self.i < len(self.files):
            done = self.i - start
            if done >= MIN_CYCLES * COMPACT_EVERY and done % COMPACT_EVERY == 0 and time.perf_counter() >= t_end:
                break
            self.step()


def cdc_trickle_rw(run: "Run") -> None:
    spec = inputs.feed_spec(run.size, run.seed)
    files, gen = inputs.cached_feed(run.work, spec)
    t0 = time.perf_counter()
    plan = _read_plan(files, spec.tables(), spec.keys_per_table)
    run.gen_s += gen + time.perf_counter() - t0
    spark = run.engine.start(len(run.cpus))
    loop = _Trickle(run, spark, files, plan, fresh_dir(run.work, "wh", "trickle"))
    # batch 0 creates the tables and batch 1 warms the plain-batch and read
    # paths: both are set-up. Each timed cycle is a compacting batch, then
    # plain ones whose reads merge deltas on read
    for _ in range(COMPACT_EVERY - 1):
        loop.step()
    first = loop.i
    loop.batch_s.clear()
    loop.lookup_s.clear()
    run.mark_setup()

    t0 = time.perf_counter()
    with run.traced():
        loop.cycles(run.seconds)
    wall = time.perf_counter() - t0
    n = loop.i
    n_events = sum(pq.ParquetFile(f).metadata.num_rows for f in files[first:n])
    run.ops += oracle.check_lookups(files, loop.lookups)
    # the final-state oracle reads a whole feed directory: give it one
    # holding exactly the applied prefix
    applied = fresh_dir(run.work, "applied")
    os.makedirs(applied)
    for f in files[:n]:
        os.link(f, os.path.join(applied, os.path.basename(f)))
    run.ops += oracle.check_final_state(applied, loop.wh, "trickle")
    tables = spec.tables()
    nbytes, nfiles, ndelta = live_bytes(loop.wh, tables)
    compactions = min(
        sum(1 for m in _manifests(loop.wh, t) if m.get("op") == "compact") for t in tables
    )
    batch_s, lookup_s = loop.batch_s, loop.lookup_s
    p90 = pctl(lookup_s, 90)
    run.e2e.update(ops_per_s=n_events / wall, op_latency_p50_ms=1000 * median(batch_s))
    run.details.update(
        cdc_events_per_s=n_events / wall,
        batch_latency_p50_s=median(batch_s),
        lookup_latency_p50_ms=1000 * median(lookup_s),
        lookup_latency_p90_ms=None if p90 is None else 1000 * p90,
        lookups=len(lookup_s),
        batch_s=batch_s,
        lookup_s=lookup_s,
        batches=n - first,
        min_compactions_per_table=compactions,
        lake_bytes_per_input_byte=nbytes / sum(os.path.getsize(f) for f in files[:n]),
    )
    run.end_files = (nfiles, ndelta)


def _manifests(wh: str, table: str):
    for p in sorted(glob.glob(os.path.join(wh, table, "_manifests", "manifest-*.json"))):
        with open(p) as f:
            yield json.load(f)


# --- query_suite ---------------------------------------------------------------

MIN_WARM_PASSES = 2
QUERY_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def gc_seconds(spark) -> float:
    """The JVM's total garbage-collection time so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


class _Codegen:
    """Janino compilations and their time, from the JVM's CodegenMetrics."""

    RESERVOIR = 1028  # the histogram keeps every sample up to this count

    def __init__(self, spark):
        cm = getattr(getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"), "MODULE$")
        self.hist = cm.METRIC_COMPILATION_TIME()

    def read(self) -> "tuple[int, float, float]":
        snap = self.hist.getSnapshot()
        return int(self.hist.getCount()), float(sum(snap.getValues())), float(snap.getMean())

    def delta(self, before, after) -> "tuple[int, float]":
        n = after[0] - before[0]
        if after[0] <= self.RESERVOIR:
            return n, after[1] - before[1]
        return n, n * after[2]  # reservoir full: estimate from the mean


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _run_query(run, spark, fn, sf_dir, name, label, per, sink=_noop):
    """Build, (traced: plan,) and execute one query's full output into
    ``sink``; returns what the sink returns."""
    with run.root(f"{label}:{name}", "query"):
        t0 = time.perf_counter()
        with run.span("query.build", "query"):
            df = fn(spark, sf_dir)
        tb = time.perf_counter()
        if run.trace:
            with run.span("query.plan", "query"):
                df._jdf.queryExecution().executedPlan()
        tp = time.perf_counter()
        with run.span("query.exec", "query"):
            out = sink(df)
        te = time.perf_counter()
    per.setdefault(name, []).append((tb - t0, tp - tb, te - tp))
    return out


def query_suite(run: "Run") -> None:
    import __spark_entry__ as entry
    from bench import HEADLINE

    sf = inputs.SCALE[run.size]
    sf_dir, gen = inputs.cached_tables(run.work, sf, run.seed)
    run.gen_s += gen
    spark = run.engine.start(len(run.cpus))
    qs = entry.queries()
    codegen = _Codegen(spark)

    # the cold pass collects each query's full output: it is the oracle
    # check's input, so the check needs no pass of its own
    cold_per, outputs = {}, {}
    with run.traced():
        c0 = codegen.read()
        t0 = time.perf_counter()
        for name in HEADLINE:
            try:
                outputs[name] = _run_query(
                    run, spark, qs[name], sf_dir, name, "cold", cold_per,
                    sink=lambda df: ([tuple(r) for r in df.collect()], df.columns),
                )
            except Exception as e:  # one failing query is one failed op
                outputs[name] = e
        cold_s = time.perf_counter() - t0
        cold_cg = codegen.delta(c0, codegen.read())
    warm = [n for n in HEADLINE if not isinstance(outputs[n], Exception)]

    # set-up covers the session and the cold pass: compile work moved out
    # of the warm passes shows there
    run.mark_setup()
    passes, warm_per, warm_cg = [], {}, []
    gc0 = gc_seconds(spark)
    t_end = time.perf_counter() + run.seconds
    with run.traced():
        while len(passes) < MIN_WARM_PASSES or time.perf_counter() < t_end:
            c0 = codegen.read()
            t0 = time.perf_counter()
            for name in warm:
                _run_query(run, spark, qs[name], sf_dir, name, f"warm{len(passes)}", warm_per)
            passes.append(time.perf_counter() - t0)
            warm_cg.append(codegen.delta(c0, codegen.read()))

    check = oracle.QueryOracle(sf_dir, QUERY_TABLES, entry.oracle_sql())
    for name, out in outputs.items():
        try:
            if isinstance(out, Exception):
                raise out
            err = check.check(name, *out)
        except Exception as e:  # one failing query is one failed op
            err = f"{type(e).__name__}: {e}"
        run.ops.append((f"query:{name}", err))

    # each query's warm latency is its fastest pass: on a shared machine
    # noise only adds time, and a stall in one pass must not move the gate
    per_query = {n: min(sum(p) for p in v) for n, v in warm_per.items()}
    run.e2e.update(
        ops_per_s=len(per_query) / sum(per_query.values()),
        op_latency_p50_ms=1000 * median(list(per_query.values())),
    )
    run.details.update(
        query_cold_pass_s=cold_s,
        query_warm_pass_s=median(passes),
        warm_passes_s=passes,
        warm_build_s=[sum(v[i][0] for v in warm_per.values()) for i in range(len(passes))],
        warm_exec_s=[sum(v[i][2] for v in warm_per.values()) for i in range(len(passes))],
        warm_gc_s=gc_seconds(spark) - gc0,
        warm_query_s={n: [round(sum(p), 4) for p in v] for n, v in warm_per.items()},
        sf=sf,
    )
    if run.trace:
        for name in warm:
            for k, col in (("build_s", 0), ("plan_s", 1), ("exec_s", 2)):
                run.layer[f"query.{name}.{k}"] = median([p[col] for p in warm_per[name]])
        for k, col in (("build_s", 0), ("plan_s", 1), ("exec_s", 2)):
            run.layer[f"query.cold.{k}"] = sum(p[col] for v in cold_per.values() for p in v)
        run.layer["codegen.cold.compilations"] = cold_cg[0]
        run.layer["codegen.cold.compile_ms"] = cold_cg[1]
        run.layer["codegen.warm.compilations"] = median([c[0] for c in warm_cg])
        run.layer["codegen.warm.compile_ms"] = median([c[1] for c in warm_cg])


WORKLOADS = {"cdc_trickle_rw": cdc_trickle_rw, "query_suite": query_suite}
