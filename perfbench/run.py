"""Benchmark of the warehouse engine: one closed-loop driver thread runs a
workload's operations against the package's public functions on
``local[nproc]`` and prints its metrics.

    python3 perfbench/run.py --workload star-sf0.05 --seed 1 --seconds 6 --trace 0

A run generates (once per checkout) and checks its fixture, starts the
session, runs an untimed warm-up pass that checks every output against the
DuckDB oracle or the ingest model, measures passes until ``--seconds`` have
passed and at least two ran, and then times ``SETUP_REPS`` session restarts.
Most of a run is fixed cost (JVM start, then a cold pass 2-3x slower than a
warm one), so the warm-up runs independent operations side by side and the
measured part is short. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` alternates untraced and traced passes and prints the
per-layer profile. The last stdout line is one JSON
object with the keys correct, attempted, failed and metrics; the metric names
and units are the ones ``BENCHMARK.json`` lists.

Settings are pinned here: ``SPARK_GRAFT_CPUS`` = nproc, ``EDW_DRIVER_MEMORY``
= ``DRIVER_MEMORY``, ``build_models(threads=nproc)``, one process, and a
fixed, pre-touched heap with the C1 JIT only (``SESSION_CONF``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
PACKAGE = ROOT / "enterprise_data_warehouse_spark"
# Bench-flagged warehouse queries (star Q1 aggregate, TPC-H Q3 shuffled-hash
# join): scan, exchange, join build and aggregation dominate.
STAR_QUERIES = ["pricing_summary", "shipping_priority_topk"]
SETUP_REPS = 3
# Tables a session opens in set-up, the same on every workload: with only
# the ingest workload's one table, set-up took 0.25-0.35 s and its ten-run
# median moved by 30% between sets; with these seven, by 5%.
SETUP_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
DRIVER_MEMORY = "2g"  # below host RAM; the shipped 16g default is not
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # Heap fixed at its maximum and touched at start: with G1 resizing the
    # heap after the explicit GC between queries, cpu_s moved by up to 40%
    # from run to run, and the share of the heap G1 happened to touch moved
    # peak_rss_mb by 20%. So the heap is a fixed 2 GiB of peak_rss_mb, and
    # the rest is what the JVM and the Python driver hold outside it.
    # C1 only: a run is too short for C2 to finish compiling, and with C2
    # pass times kept falling by 10-20% a pass; with C1 they are flat from
    # the first pass after the warm-up.
    "spark.driver.extraJavaOptions": (
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
    ),
}
DEADLINE_S = 75.0  # no new pass once this long after the session start

# name -> (fixture scale, registry queries, Warehouse.build_models, ingest round)
WORKLOADS = {
    "ingest-sf0.01": (0.01, [], False, True),
    "star-sf0.05": (0.05, STAR_QUERIES, True, False),
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """Shared state of one run: session, fixture, tracer and counters."""

    def __init__(self, sf: float, sf_dir: Path, trace: bool):
        from perfbench.spans import Tracer

        self.sf, self.sf_dir, self.cpus = sf, str(sf_dir), cpus()
        self.trace = trace
        self.work_dir = OUT / f"work-{os.getpid()}"
        self.tracer = Tracer(trace)
        self.spark = self.registry = self.reader = self.meter = None
        self.group = ""
        self.n_ops = self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.batches: dict[int, int] = {}
        self.profiles: dict[int, dict[str, float]] = {}

    def start(self) -> None:
        from enterprise_data_warehouse_spark import session

        self.tracer.install()
        self.t0 = time.perf_counter()
        self.attach(session.get_spark("perfbench", extra_conf=SESSION_CONF))

    def time_setup(self) -> tuple[list[float], list[float]]:
        """Time ``SETUP_REPS`` restarts of session, registry and
        ``SETUP_TABLES`` opened; returns the restart times and, when
        tracing, the times spent in ``get_spark``. Run on a warm JVM, after
        the measured passes: timed right after the JVM's own start, the
        median moved by 30% between two ten-run sets."""
        from enterprise_data_warehouse_spark import queries, session
        from enterprise_data_warehouse_spark.sources.tables import load_table

        self.tracer.enabled, self.tracer.op = self.trace, -1  # no operation's span
        first = len(self.tracer.spans)
        times = []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench", extra_conf=SESSION_CONF)
            queries.load_registry()
            for t in SETUP_TABLES:
                load_table(self.spark, self.sf_dir, t)
            times.append(time.perf_counter() - t0)
        self.tracer.enabled = False
        self.attach(self.spark)
        starts = [s.end - s.start for s in self.tracer.spans[first:] if s.name == "session.start"]
        return times, starts

    def attach(self, spark) -> None:
        """Use ``spark`` for the operations and profile it."""
        from enterprise_data_warehouse_spark import queries
        from perfbench.statusstore import ProcessMeter, StatusStoreReader

        self.spark = spark
        self.registry = queries.load_registry()
        spark.sparkContext.setLogLevel("ERROR")
        self.meter = ProcessMeter(int(spark.sparkContext._jvm.ProcessHandle.current().pid()))
        self.reader = StatusStoreReader(spark)

    def run_op(self, op, check: bool, profile: bool) -> tuple[float, float]:
        """Run one operation in its own job group; returns (wall s, CPU s).
        A raised error or a failed check counts as a failed operation."""
        self.n_ops += 1
        self.group = f"perfbench-{self.n_ops}"
        self.tracer.op = self.n_ops
        self.reader.begin(self.group, op.name)
        c0, w0, t0 = self.meter.sample(), time.time(), time.perf_counter()
        problems = self.call(op, check)
        wall, w1 = time.perf_counter() - t0, time.time()
        cpu = self.meter.cpu_s(c0, self.meter.sample())
        if profile:
            self.profiles[self.n_ops] = self.reader.profile(self.group, w0, w1)
        self.record(problems)
        return wall, cpu

    def call(self, op, check: bool) -> list[str]:
        """``op``'s problems; a raised error is one problem, not fatal."""
        try:
            return op(self, check)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            return [f"{op.name}: {type(e).__name__}: {str(e)[:300]}"]

    def record(self, problems: list[str]) -> None:
        """Count one attempted operation, failed if it reported problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            print("FAILED " + "; ".join(problems), file=sys.stderr)

    def release_residue(self, op) -> None:
        """Drop what a query left on the session (cached plans, persisted
        RDDs of iterative operators) so it does not slow the next one."""
        from bench import _release_session_residue

        if op.kind != "query":
            return
        _release_session_residue(self.spark)

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.tracer.uninstall()
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - the JVM must not outlive the run
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work_dir, ignore_errors=True)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def warm_up(b: Bench, order: list, before: dict | None = None) -> dict[str, float]:
    """One untimed pass that checks every operation's output; returns each
    operation's (cold) wall time. The pass mostly waits for the JVM to load
    and compile code, so it runs the operations' lanes side by side: each
    query is a lane of its own, and an ingest step shares a lane with the
    steps that read what it wrote. A lane first runs its ``before`` function,
    if it has one."""
    from concurrent.futures import ThreadPoolExecutor

    lanes: dict[str, list] = {}
    for op in order:
        lanes.setdefault(op.lane, []).append(op)

    def run_lane(name: str, ops: list) -> list:
        if before and name in before:
            before[name]()
        out = []
        for op in ops:
            t0 = time.perf_counter()
            problems = b.call(op, check=True)
            out.append((op, time.perf_counter() - t0, problems))
        return out

    with ThreadPoolExecutor(len(lanes)) as pool:
        futures = [pool.submit(run_lane, name, ops) for name, ops in lanes.items()]
        results = [r for f in futures for r in f.result()]
    cold = {}
    for op, wall, problems in results:
        cold[op.name] = wall
        b.record(problems)
    queries = [op for op in order if op.kind == "query"]
    if queries:
        b.release_residue(queries[0])
    return cold


def measure(b: Bench, next_order, seconds: float, trace: bool, min_passes: int = 2) -> list[dict]:
    """Passes, each in the order ``next_order()`` gives, until ``seconds``
    have passed and at least ``min_passes`` ran. With ``trace`` every other
    pass is traced."""
    passes: list[dict] = []
    t_start = time.perf_counter()
    while True:
        traced = trace and len(passes) % 2 == 1
        b.tracer.enabled = traced
        first = b.n_ops + 1
        rec = {"traced": traced, "wall": 0.0, "cpu": 0.0, "lat": {}}
        for op in next_order():
            wall, cpu = b.run_op(op, check=False, profile=traced)
            rec["wall"] += wall
            rec["cpu"] += cpu
            rec["lat"][op.name] = (op.kind, wall)
            b.release_residue(op)
        rec["ops"] = set(range(first, b.n_ops + 1))
        passes.append(rec)
        enough = len(passes) >= min_passes
        late = time.perf_counter() - b.t0 > DEADLINE_S and len(passes) >= (2 if trace else 1)
        if (enough and time.perf_counter() - t_start >= seconds) or late:
            break
    b.tracer.enabled = False
    return passes


def end_to_end(setup: list[float], passes: list[dict], b: Bench) -> dict[str, float]:
    plain = [p for p in passes if not p["traced"]]
    lat: dict[str, list[float]] = {}
    for p in plain:
        for name, (kind, wall) in p["lat"].items():
            if kind in ("query", "read"):
                lat.setdefault(name, []).append(wall)
    return {
        "setup_s": statistics.median(setup),
        # pass_s and query_geomean_s are printed but not bounded in
        # BENCHMARK.json: this VM's speed swings up to 2x for minutes, and
        # the driver-bound ingest passes follow it (their ten-seed quartile
        # spread read 0.12-0.49 for pass_s, 0.26-0.30 for query_geomean_s);
        # cpu_s, the bounded cost, read 0.06-0.19.
        "pass_s": statistics.median(p["wall"] for p in plain),
        "cpu_s": statistics.median(p["cpu"] for p in plain),
        "query_geomean_s": geomean([statistics.median(v) for v in lat.values()]),
        "peak_rss_mb": b.meter.peak_rss_mb(),
    }


def per_layer(setup_spans: list[float], passes: list[dict], b: Bench,
              plain_pass_s: float) -> dict[str, float]:
    from perfbench.statusstore import SQL_KEYS, STAGE_KEYS

    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    ops = set().union(*(p["ops"] for p in traced))
    spans = b.tracer.layer_totals(ops)
    prof = dict.fromkeys(STAGE_KEYS + SQL_KEYS, 0.0)
    for i in ops:
        for k, v in b.profiles.get(i, {}).items():
            prof[k] += v
    traced_pass = statistics.median(p["wall"] for p in traced)

    def total(name: str) -> float:
        return spans[name]["total"] / n

    rc = spans["plans.result_cache.get_or_build"]
    hits = [s for s in b.tracer.select(ops) if s.name == "plans.result_cache.get_or_build"]
    hit_s = sum(s.end - s.start for s in hits if s.result and s.result[1])
    build_all = total("plans.catalog.build_all")
    out = {
        "session.start_s": statistics.median(setup_spans) if setup_spans else 0.0,
        "operators.build_s": total("operators.build"),
        "operators.exec_s": total("operators.exec"),
        **{f"operators.{k}": prof[k] / n for k in STAGE_KEYS},
        "operators.broadcast_build_s": prof["broadcast_build_s"] / n,
        "operators.shj_build_s": prof["shj_build_s"] / n,
        "operators.agg_build_s": prof["agg_build_s"] / n,
        "operators.driver_gap_share": prof["driver_gap_s"] / n / traced_pass,
        "operators.executor_cpu_per_wall": prof["executor_cpu_s"] / n / traced_pass,
        "sources.scan_s": prof["scan_s"] / n,
        "sources.scan_bytes": prof["scan_bytes"] / n,
        "sources.scan_rows": prof["scan_rows"] / n,
        "sources.load_table_s": total("sources.load_table"),
        "sources.load_table_calls": spans["sources.load_table"]["calls"] / n,
        "sources.versioned.merge_s": total("sources.versioned.merge"),
        "sources.versioned.merge_partitioned_s": total("sources.versioned.merge_partitioned"),
        "sources.versioned.commit_s": total("sources.versioned.commit"),
        "sources.versioned.vacuum_s": total("sources.versioned.vacuum"),
        "sources.versioned.current_version_s": total("sources.versioned.current_version"),
        "sources.versioned.read_s": total("sources.versioned.read"),
        "streaming.query_s": total("streaming.query"),
        "streaming.self_s": spans["streaming.query"]["self"] / n,
        "streaming.batches": sum(b.batches.get(i, 0) for i in ops) / n,
        "plans.result_cache.hit_s": hit_s / n,
        "plans.result_cache.miss_s": (rc["total"] - hit_s) / n,
        "plans.result_cache.fingerprint_s": total("plans.result_cache.fingerprint"),
        "plans.result_cache.hit_ratio": len([s for s in hits if s.result and s.result[1]]) / len(hits)
        if hits else 0.0,
        "plans.catalog.build_all_s": build_all,
        "plans.catalog.concurrency": total("plans.catalog.model") / build_all if build_all else 0.0,
        "trace.overhead_s": traced_pass - plain_pass_s,
    }
    for name, d in spans.items():
        if name != "session.start":  # not called during passes
            out[f"{name}.self_s"] = d["self"] / n
    return out


STORAGE_KEYS = ("write_amp", "space_amp", "bytes_written", "files_written", "versions_retained")


def ingest_storage(ingest, measured_rounds: int, written: tuple[int, int]) -> dict[str, float]:
    """Storage figures of the ingest workload over its measured rounds, which
    wrote ``written`` (bytes, files) under the table roots."""
    bytes_written, files_written = written
    deltas = sum(ingest.delta_sizes[-measured_rounds:])
    st = ingest.storage()
    return {
        "write_amp": bytes_written / deltas,
        "space_amp": st["disk"] / st["live"],
        "bytes_written": bytes_written / measured_rounds,
        "files_written": files_written / measured_rounds,
        "versions_retained": st["versions"],
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import fixtures, workloads
    from perfbench.statusstore import reset_own_peak

    sf, names, models, with_ingest = WORKLOADS[workload]
    sf_dir = fixtures.ensure(OUT / "data", sf)
    expected = workloads.oracle_hashes(sf_dir, names)
    reset_own_peak()
    b = Bench(sf, sf_dir, trace)
    marks = [("fixture", time.perf_counter())]
    try:
        b.start()
        marks.append(("session", time.perf_counter()))
        rng = random.Random(seed)
        queries = workloads.query_ops(names, models, b, expected)
        ingest = workloads.Ingest(b, seed) if with_ingest else None
        steps = ingest.ops() if ingest else []

        def next_order() -> list:
            rng.shuffle(queries)
            if ingest:
                ingest.write_delta()
            return queries + steps

        cold = warm_up(b, next_order(), ingest.setup() if ingest else None)
        marks.append(("warm_up", time.perf_counter()))
        if ingest:
            ingest.track()
        passes = measure(b, next_order, seconds, trace)
        marks.append(("measure", time.perf_counter()))
        if ingest:  # before the restarts, which the result cache does not survive
            storage = ingest_storage(ingest, len(passes), ingest.track())
            b.record(ingest.check_table(ingest.a, "stream target"))
            b.record(ingest.check_table(ingest.b_path, "month twin"))
        setup, setup_spans = b.time_setup()
        marks.append(("setup", time.perf_counter()))
        e2e = end_to_end(setup, passes, b)
        e2e_extra: dict[str, float] = {}
        layers = per_layer(setup_spans, passes, b, e2e["pass_s"]) if trace else {}
        if ingest:
            plain = [p for p in passes if not p["traced"]]
            e2e_extra = {
                "merge_p50_s": statistics.median(p["lat"]["stream_merge"][1] for p in plain),
                "part_merge_p50_s": statistics.median(p["lat"]["part_merge"][1] for p in plain),
                "write_amp": storage["write_amp"],
                "space_amp": storage["space_amp"],
            }
            if trace:
                layers.update({f"sources.versioned.{k}": v for k, v in storage.items()})
        elif trace:
            layers.update({f"sources.versioned.{k}": 0.0 for k in STORAGE_KEYS})
        lat: dict[str, list[float]] = {}
        for p in passes:
            for name, (_, wall) in p["lat"].items():
                lat.setdefault(name, []).append(wall)
        return {
            "phases": {m[0]: round(m[1] - p[1], 2) for p, m in zip(marks, marks[1:])},
            "op_p50": {k: statistics.median(v) for k, v in lat.items()},
            "op_cold": cold,
            "pass_list": [(round(p["wall"], 3), round(p["cpu"], 2), p["traced"]) for p in passes],
            "e2e": e2e, "e2e_extra": e2e_extra, "layers": layers,
            "attempted": b.attempted, "failed": b.failed,
            "problems": b.problems, "passes": len(passes),
        }
    finally:
        b.stop()


def pin_environment() -> None:
    """One process on all cores, a driver heap below host RAM, and Spark's
    scratch space inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["EDW_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(OUT / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    (OUT / "spark-local").mkdir(parents=True, exist_ok=True)
    os.chdir(OUT)  # the session's warehouse and metastore dirs land here


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file() or not (ROOT / "tests" / "oracle_utils.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = str(ROOT)  # import perfbench.* as a package, not its files
    pin_environment()
    t0 = time.perf_counter()
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"phases (s): {res['phases']}, total {time.perf_counter() - t0:.1f} s")
    print(f"passes (wall s, cpu s, traced): {res['pass_list']}")
    for name, lat in sorted(res["op_p50"].items()):
        print(f"op {name}: {lat:.4g} s median, {res['op_cold'][name]:.4g} s in the warm-up pass")
    print(f"workload {args.workload}: {res['passes']} measured passes, "
          f"{res['attempted']} operations, {res['failed']} failed")
    for p in res["problems"]:
        print(f"check failed: {p}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    shown = {**res["e2e"], **res["e2e_extra"], "error_rate": res["failed"] / res["attempted"]}
    for k, v in shown.items():
        print(f"{k} {v:.6g} {'ratio' if k.endswith(('_amp', '_rate')) else 'MiB' if k.endswith('_mb') else 's'}")
    values, listed = (res["layers"], spec["per_layer"]) if args.trace else (res["e2e"], spec["end_to_end"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    if args.trace:
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
