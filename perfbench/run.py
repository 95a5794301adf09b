"""Benchmark of greenexp_r_spark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload exposure_pages --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``perfbench/.work/``; every job writes all its output columns to
Spark's ``noop`` sink; outputs are checked against DuckDB oracles.  The
last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics of BENCHMARK.json (``--trace 0``)
or its per-layer metrics (``--trace 1``).  NOTES.md explains the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
MASTER = f"local[{CORES}]"
MIN_PASSES = 2        # timed passes per run, at least


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep Spark's scratch files inside the checkout and let the Python
    workers import the package; session settings stay the package's."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for k in ("GREENEXP_SHUFFLE_PARTITIONS", "GREENEXP_DRIVER_MEM"):
        os.environ.pop(k, None)
    # the package sizes shuffle partitions from the core count it is told
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One Spark session running one workload's jobs, counting every job
    attempted and every job that failed or gave a wrong output."""

    def __init__(self, wl, data_dirs, tracer):
        self.wl = wl
        self.data_dirs = data_dirs       # {table rows: directory}
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.job_walls: dict[str, list[float]] = defaultdict(list)
        self.cold_walls: dict[str, float] = {}

    # -- session -----------------------------------------------------------
    def build(self) -> float:
        from greenexp_r_spark.session import build_session
        from counters import SparkCounters
        t0 = time.perf_counter()
        self.spark = build_session(app="perfbench", master=MASTER)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for both."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- jobs --------------------------------------------------------------
    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def attempt(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{label}: raised")
            traceback.print_exc(file=sys.stderr)
            return None

    def job_df(self, job):
        return job.build(self.spark, self.data_dirs[job.n_docs])

    def noop_pass(self, group: str) -> float:
        """Every job of the workload, all columns to the noop sink."""
        self.group(group)
        t0 = time.perf_counter()
        for job in self.wl.jobs:
            t = time.perf_counter()
            self.attempt(job.name, lambda: self.job_df(job).write
                         .format("noop").mode("overwrite").save())
            self.job_walls[job.name].append(time.perf_counter() - t)
        return time.perf_counter() - t0

    def collect_pass(self, group: str) -> tuple[float, dict]:
        """Every job of the workload, collected for checking."""
        self.group(group)
        out, t0 = {}, time.perf_counter()
        for job in self.wl.jobs:
            t = time.perf_counter()
            out[job.name] = self.attempt(
                job.name, lambda: self.job_df(job).toPandas())
            self.cold_walls[job.name] = time.perf_counter() - t
        return time.perf_counter() - t0, out

    # -- traced pass -------------------------------------------------------
    def traced_pass(self, k: int) -> dict:
        """Each layer call under its own job group and span; returns the
        pass's wall time, its job groups by layer, its layer spans and what
        the workload's traced function reports (``points``)."""
        groups: dict[str, list[str]] = defaultdict(list)
        calls = []

        def run_layer(layer, fn, name=None):
            g = f"T{k}/{name or layer}"
            self.group(g)
            groups[layer].append(g)
            with self.tracer.span(name or layer, layer=layer, group=g) as sp:
                res = self.attempt(g, fn)
            calls.append(sp)
            return res

        def noop(job):
            return lambda: (self.job_df(job).write.format("noop")
                            .mode("overwrite").save())

        info = {}
        with self.tracer.span("pass", workload=self.wl.name,
                              traced=True) as root:
            for job in self.wl.jobs:
                if job.split is not None:
                    info.update(job.split(self.spark,
                                          self.data_dirs[job.n_docs],
                                          run_layer))
                else:
                    run_layer(job.layer, noop(job), job.name)
        return {"wall": root["end"] - root["start"], "groups": groups,
                "calls": calls, "info": info}


def pass_layer_metrics(bench, tp: dict) -> dict:
    """One traced pass's per-layer metrics, from its spans, the core status
    store and SQL metrics (read right after the pass, before the stores
    evict its jobs)."""
    from counters import sql_total
    from workloads import LAYERS, PYTHON_LAYERS
    m = {}
    for layer in LAYERS:
        gs = tp["groups"].get(layer, [])
        c = defaultdict(float)
        for g in gs:
            for key, v in bench.counters.group(g).items():
                c[key] += v
        wall = sum(bench.tracer.self_time(s) for s in tp["calls"]
                   if s["layer"] == layer)
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.busy_s"] = c["busy_s"]
        m[f"{layer}.idle_frac"] = (1 - c["busy_s"] / (wall * CORES)
                                   if wall > 0 else 0.0)
        for key in ("jobs", "tasks", "shuffle_mb", "spill_mb"):
            m[f"{layer}.{key}"] = c[key]
        wants_sql = layer in PYTHON_LAYERS or layer in ("availability",
                                                        "accessibility")
        nodes = ([n for g in gs for n in bench.counters.sql_nodes(g)]
                 if wants_sql else [])
        if layer in PYTHON_LAYERS:
            m[f"{layer}.python_mb"] = sql_total(
                nodes, "data sent to Python workers") / (1024 * 1024)
        if layer == "availability":
            m["availability.cells_kept_ratio"] = cells_kept(nodes)
        if layer == "accessibility":
            pts = tp["info"].get("points") or 0
            cand = sum(n["metrics"].get("number of output rows", 0.0)
                       for n in nodes if "Join" in n["name"]
                       and "LeftAnti" not in n["desc"])
            m["accessibility.candidates_per_point"] = cand / pts if pts else 0.0
        if layer == "dedup":
            m["dedup.pairs_per_bucket"] = pairs_per_bucket(nodes)
        if layer == "visibility":
            obs = sql_total(nodes, "number of output rows", "MapInPandas")
            m["visibility.observers_per_s"] = obs / wall if wall else 0.0
    return m


def cells_kept(nodes: list[dict]) -> float:
    """Rows the disc filter keeps / rows the cell explode emits: the
    Filter directly above the largest Generate of the availability plan."""
    gens = [n for n in nodes if n["name"] == "Generate"]
    if not gens:
        return 0.0
    g = max(gens, key=lambda n: n["metrics"].get("number of output rows", 0))
    rows = g["metrics"].get("number of output rows", 0.0)
    for n in nodes:
        if n["name"] == "Filter" and g["id"] in n["children"] and rows:
            return n["metrics"].get("number of output rows", 0.0) / rows
    return 0.0


def pairs_per_bucket(nodes: list[dict]) -> float:
    """Distinct near-duplicate pairs the MinHash verify keeps / LSH band
    buckets it verifies: the ``Filter`` on ``size(members) >= 2`` (the
    buckets of two or more documents), its parent ``MapInPandas``
    (exact-Jaccard verify) and the aggregates above that (``distinct``)."""
    by_id = {n["id"]: n for n in nodes}
    parent = {c: n["id"] for n in nodes for c in n["children"]}
    pairs = buckets = 0.0
    for f in nodes:
        if f["name"] != "Filter" or "size(members" not in f["desc"]:
            continue
        top = n = by_id.get(parent.get(f["id"]))
        while n is not None and n["name"] in (
                "MapInPandas", "HashAggregate", "Exchange", "AQEShuffleRead"):
            if n["name"] == "HashAggregate":
                top = n
            n = by_id.get(parent.get(n["id"]))
        if top is not None:
            pairs += top["metrics"].get("number of output rows", 0.0)
            buckets += f["metrics"].get("number of output rows", 0.0)
    return pairs / buckets if buckets else 0.0


def checker(job, want: dict):
    """The function that lists what is wrong with ``job``'s output."""
    import check
    from workloads import VGVI_SAMPLE
    if job.name == "flagship_exposure_pages":
        return lambda pdf: check.flagship_problems(pdf, want, job.n_docs,
                                                   VGVI_SAMPLE)
    return lambda pdf: ([] if check.signature(pdf) == want
                        else [f"differs from the {job.name} oracle"])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "greenexp_r_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from a checkout of the repository (no "
              "greenexp_r_spark package next to perfbench/)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    prepare_env()
    import check
    import counters
    import gen
    from spans import Tracer
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    host_before = counters.host_record()

    data_dirs, inputs, wants = {}, {}, {}
    os.makedirs(os.path.join(WORK, "oracles"), exist_ok=True)
    t0 = time.perf_counter()
    for n in wl.sizes:
        tag = f"{wl.name}-s{args.seed}-n{n}"
        data_dirs[n] = os.path.join(WORK, "data", tag)
        inputs[f"documents_{n}"] = gen.write_inputs(data_dirs[n], args.seed, n)
        wants.update(check.oracle_signatures(
            data_dirs[n], [j.name for j in wl.jobs if j.n_docs == n],
            os.path.join(WORK, "oracles", f"{tag}.json")))
    inputs_s = time.perf_counter() - t0

    tracer = Tracer(run_id)
    bench = Bench(wl, data_dirs, tracer)
    record = {"run": run_id, "item": wl.item, "inputs": inputs,
              "inputs_s": inputs_s}
    try:
        with counters.RssPeak() as rss:
            # set-up = JVM + session build + one cold pass that collects
            # every output for the checks; the timed passes follow it
            with tracer.span("setup") as sp:
                start_s = bench.build()
                warm_s, outs = bench.collect_pass("setup")
            setup_s = sp["end"] - sp["start"]
            record.update(setup_s=setup_s, session_start_s=start_s,
                          warm_s=warm_s)
            self_ok = run_checks(bench, outs, wants, wl)
            del outs

            walls, counts, traced, layer_runs = [], [], [], []
            t_start = time.perf_counter()
            k = 0
            record["setup_peak_mb"] = rss.reset()
            peaks = []
            cpus = []
            while True:
                cpu0 = counters.tree_cpu_s()
                with tracer.span("pass", workload=wl.name, traced=False) as sp:
                    bench.noop_pass(f"P{k}")
                cpus.append(counters.tree_cpu_s() - cpu0)
                walls.append(sp["end"] - sp["start"])
                peaks.append(rss.reset())
                counts.append(bench.counters.group(f"P{k}"))
                if args.trace:
                    tp = bench.traced_pass(k)
                    traced.append(tp["wall"])
                    layer_runs.append(pass_layer_metrics(bench, tp))
                k += 1
                if (time.perf_counter() - t_start >= args.seconds
                        and k >= (1 if args.trace else MIN_PASSES)):
                    break
            record["pass_walls_s"] = walls
            record["pass_cpu_s"] = cpus
            record["job_walls_s"] = bench.job_walls
            record["cold_job_walls_s"] = bench.cold_walls
            record["pass_peak_mb"] = peaks
            if args.trace:
                metrics = {key: median([m[key] for m in layer_runs])
                           for key in layer_runs[0]}
                metrics["trace.overhead_ratio"] = median(traced) / median(walls)
                metrics["session.start_s"] = start_s
                metrics["session.warm_s"] = warm_s
            else:
                # per job, the median over timed passes; summed over jobs
                wall = sum(median(v) for v in bench.job_walls.values())
                n_items = sum(t["rows"] for t in inputs.values())
                metrics = {
                    "wall_s": wall,
                    "items_per_s": n_items / wall,
                    "setup_s": setup_s,
                    "core_s": median([c["busy_s"] for c in counts]),
                    "shuffle_mb": median([c["shuffle_mb"] for c in counts]),
                    "driver_mb": median([c["driver_mb"] for c in counts]),
                    "peak_rss_mb": median(peaks),
                }
    finally:
        bench.close()
        wait_children()
    record["host_before"], record["host_after"] = (host_before,
                                                   counters.host_record())
    record["problems"] = bench.problems
    record["self_test_ok"] = self_ok

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(units) != set(metrics):
        raise SystemExit(f"perfbench: metrics {sorted(set(units) ^ set(metrics))}"
                         " are not both in BENCHMARK.json and measured")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
    with open(os.path.join(out_dir, f"record-{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": bench.failed == 0 and self_ok,
        "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units}}))
    return 0


def run_checks(bench, outs: dict, wants: dict, wl) -> bool:
    """Check every collected output; count wrong ones as failed.  Returns
    whether the checks reject a corrupted copy of a checked output."""
    import check
    self_ok = None
    for job in wl.jobs:
        pdf = outs.get(job.name)
        if pdf is None:
            continue                 # already counted when it raised
        problems = checker(job, wants.get(job.name))
        found = problems(pdf)
        if found:
            bench.failed += 1
            bench.problems += [f"{job.name}: {p}" for p in found]
        elif self_ok is None:
            if job.name == "flagship_exposure_pages":
                pdf = check.checked_first(pdf)
            self_ok = check.self_test(pdf, problems)
    return bool(self_ok)


def wait_children(timeout: float = 30.0) -> None:
    """Wait for every process this one started (the JVM's Python workers
    exit after the JVM); kill what is left at the deadline."""
    import signal
    from counters import descendants
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    sys.exit(main())
