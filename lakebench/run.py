#!/usr/bin/env python3
"""Lakehouse engine benchmark: one closed-loop client, seeded inputs,
every op's output checked.

    python3 lakebench/run.py --workload star_sql --seed 1 --seconds 15 --trace 0

Prints a human-readable table and run record, then, as the last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (names and units in ``BENCHMARK.json``). See
``lakebench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

SETUP_REPEATS = 3
MAX_CORES = 4

# (name, unit) of every metric the last line carries, by --trace value;
# BENCHMARK.json lists the same names
END_TO_END = [("setup_s", "s"), ("pass_s", "s")]
PER_LAYER = [
    ("session.start_s", "s"), ("registry.load_s", "s"),
    ("catalyst.plan_s", "s"), ("plans.py4j_calls", "count"),
    ("plans.eager_jobs", "count"),
    ("spark.job_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.python_bytes", "bytes"),
    ("driver.non_job_s", "s"),
    ("writers.files_written", "count"), ("writers.bytes_written", "bytes"),
    ("snapshots.metadata_bytes", "bytes"), ("snapshots.files_kept_ratio", "ratio"),
    ("maintenance.bytes_rewritten", "bytes"), ("maintenance.files_after", "count"),
    ("gold_rows_per_s", "rows/s"), ("write_amp", "ratio"), ("space_amp", "ratio"),
    ("trace.overhead", "ratio"),
]
# attribution checks of a traced run (see spans.op_record): any
# non-zero total makes the run incorrect
TRACE_CHECKS = ("trace.misplaced_jobs", "trace.job_s_outside_span", "trace.stray_jobs")
# per-layer times that are 0 by construction on one of the listed
# workloads: printed in the layer table, not carried on the last line
LAYER_TABLE_ONLY = [
    ("plans.build_s", "s"), ("ingest.copy_s", "s"), ("medallion.build_s", "s"),
    ("writers.write_s", "s"), ("snapshots.commit_s", "s"), ("snapshots.read_s", "s"),
    ("maintenance.s", "s"), ("pipeline.run_s", "s"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["star_sql", "curation_iterative", "medallion_daily"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # smaller inputs for the smoke tests; runs use the defaults
    ap.add_argument("--sf", default="0.01", choices=["0.01", "0.001"],
                    help="star-schema fixture scale factor (star_sql, curation_iterative)")
    ap.add_argument("--stations", type=int, default=1000,
                    help="stations per simulated day (medallion_daily)")
    return ap.parse_args(argv)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _q90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8] if len(values) > 1 else values[0]


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.cores = min(MAX_CORES, self.nproc)
        self.master = f"local[{self.cores}]"
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- session -----------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        from aws_lakehouse_spark.session import BUILD_CONFS

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        java_opts = BUILD_CONFS.get("spark.driver.extraJavaOptions", "")
        return {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={tmp}".strip(),
        }

    def _start(self):
        from aws_lakehouse_spark.session import get_spark

        return get_spark("lakebench", master=self.master, extra_conf=self._conf())

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- ops -----------------------------------------------------------------

    def _run_op(self, op, tracer) -> tuple[float, dict | None]:
        """Run one op, then check its output untimed; every op the run
        executes counts in ``attempted``. Returns the op's wall and, when
        tracing, its per-layer record."""
        t0 = time.perf_counter()
        try:
            with tracer.span(op.name, op.layer):
                result = op.run(tracer)
            error = None
        except Exception as exc:  # an op that raises is a failed op
            error = f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        record = tracer.finish_op() if error is None and tracer.enabled else None
        if error is None:
            try:
                problems = op.check(result)
                swallowed = op.swallowed_errors(result)
            except Exception as exc:  # a check that cannot read the output
                problems, swallowed = [f"check raised {type(exc).__name__}: {exc}"], 0
        else:
            problems, swallowed = [error], 0
        self.attempted += 1
        self.failed += min(1, len(problems)) + swallowed
        for p in problems[:1]:
            self.failures.append(f"{op.name}: {p}")
        return dt, record

    def _run_pass(self, workload, spark, pass_no: int, tracer, timed: bool, install=None) -> dict:
        """One pass: reset, the untimed ops, then the timed ops (all of
        them untimed in a warm-up pass). ``install(tracer)`` wraps engine
        functions in spans for the timed ops and returns their restore."""
        from spans import NullTracer

        null = NullTracer()
        workload.pass_start(spark)
        untimed, ops = workload.ops(spark, pass_no)
        if not timed:
            untimed, ops = untimed + ops, []
        untimed_s = sum(self._run_op(op, null)[0] for op in untimed)
        latencies, names, records = [], [], []
        restore = install(tracer) if install and ops else None
        try:
            for op in ops:
                dt, record = self._run_op(op, tracer)
                latencies.append(dt)
                names.append(op.name)
                if record is not None:
                    records.append(record)
        finally:
            if restore:
                restore()
        stats = workload.pass_stats(spark) if ops else {}
        return {"pass_s": sum(latencies), "untimed_s": untimed_s, "latencies": latencies,
                "names": names, "records": records, **stats}

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        from aws_lakehouse_spark.registry import load_all

        import workloads as wl
        from spans import NullTracer, Tracer

        a = self.args
        os.makedirs(self.work, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # the engine reads these at session build; the benchmark runs on
        # the engine's own defaults plus the master set here
        for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"):
            os.environ.pop(var, None)

        t = time.perf_counter()
        load_all()
        registry_load = time.perf_counter() - t
        if a.workload == "medallion_daily":
            workload = wl.MedallionWorkload(a.stations, a.seed, self.work)
        else:
            names = wl.STAR_SQL if a.workload == "star_sql" else wl.CURATION
            workload = wl.RegistryWorkload(names, a.sf, a.seed)
        t = time.perf_counter()
        workload.prepare()
        prepare_s = time.perf_counter() - t

        # set up SETUP_REPEATS times: the first launches the JVM, the
        # others build a new SparkContext in it
        setups = []
        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            spark = self.spark = self._start()
            if i == 0:
                session_start = time.perf_counter() - t
            load_all()
            bad = workload.fixture_check(spark)
            setups.append(time.perf_counter() - t)
            if bad:
                raise RuntimeError(f"fixture check failed: {bad}")

        null = NullTracer()
        # untimed op walls before the first timed op: warm-up passes, and
        # the untimed ops of the first timed pass
        warmup_s = sum(
            self._run_pass(workload, spark, i, null, timed=False)["untimed_s"]
            for i in range(workload.warmup_passes)
        )
        install = wl.trace_medallion_calls if a.workload == "medallion_daily" else None

        plain, traced, spans = [], [], []
        t_start = time.perf_counter()
        t_end = t_start + a.seconds
        pass_no = workload.warmup_passes
        while True:
            # trace mode alternates untraced and traced passes
            tracing = a.trace == 1 and (pass_no - workload.warmup_passes) % 2 == 1
            if tracing:
                tracer = Tracer(spark)
                try:
                    traced.append(self._run_pass(workload, spark, pass_no, tracer, True, install))
                finally:
                    tracer.close()
                spans.extend(tracer.spans)
            else:
                plain.append(self._run_pass(workload, spark, pass_no, null, timed=True))
            if pass_no == workload.warmup_passes:
                warmup_s += plain[0]["untimed_s"]
            pass_no += 1
            if time.perf_counter() >= t_end and plain and (a.trace == 0 or traced):
                break

        jvm_pid = None
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            jvm_pid = SparkContext._gateway.proc.pid
        rss_kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": self.nproc, "mem_total_kb": _mem_total_kb(), "master": self.master,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "ops_per_pass": len(plain[0]["latencies"]),
            "passes": len(plain), "traced_passes": len(traced),
            "process_to_first_timed_pass_s": t_start - T_PROCESS,
            "cold_session_start_s": session_start, "registry_load_s": registry_load,
            "prepare_s": prepare_s, "setup_samples_s": setups, "warmup_s": warmup_s,
            "input_rows": workload.input_rows,
            "pass_walls_s": [p["pass_s"] for p in plain],
            "op_latencies_s": [list(zip(p["names"], p["latencies"])) for p in plain],
        }
        if a.trace == 1:
            self._dump_spans(spans)

        lat = [x for p in plain for x in p["latencies"]]
        pass_s = statistics.median(p["pass_s"] for p in plain)
        e2e = {
            "setup_s": (statistics.median(setups), "s", len(setups)),
            "warmup_s": (warmup_s, "s", 1),
            "pass_s": (pass_s, "s", len(plain)),
            "op_geomean_s": (statistics.geometric_mean(lat), "s", len(lat)),
            "op_p50_s": (statistics.median(lat), "s", len(lat)),
            "op_p90_s": (_q90(lat), "s", len(lat)),
            "peak_rss_mb": (rss_kb / 1024.0, "MB", 1),
            "failed_frac": (self.failed / max(1, self.attempted), "ratio", self.attempted),
        }
        if a.workload == "medallion_daily":
            e2e["gold_rows_per_s"] = (
                statistics.median(p["gold_rows"] / p["pass_s"] for p in plain), "rows/s", len(plain))
            e2e["write_amp"] = (statistics.median(p["write_amp"] for p in plain), "ratio", len(plain))
            e2e["space_amp"] = (statistics.median(p["space_amp"] for p in plain), "ratio", len(plain))
        record["samples"] = {k: v[2] for k, v in e2e.items()}

        layer = {}
        if a.trace == 1:
            layer = self._layer_metrics(traced, pass_s, session_start, registry_load)
        return {"record": record, "e2e": e2e, "layer": layer}

    def _dump_spans(self, spans) -> None:
        out = os.path.join(ROOT, ".lakebench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump([
                {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                 "op": s.op, "start": s.start, "end": s.end,
                 "jobs": [j["jobId"] for j in s.jobs],
                 "stages": [st["stageId"] for st in s.stages]}
                for s in spans
            ], fh)

    def _layer_metrics(self, traced, plain_pass_s, session_start, registry_load) -> dict:
        """Median over traced passes of each pass's per-layer sums; the
        ``trace.*`` attribution checks are totals over every traced op."""
        per_pass = []
        checks = dict.fromkeys(TRACE_CHECKS, 0.0)
        for p in traced:
            tot: dict[str, float] = {}
            for rec in p["records"]:
                for k in TRACE_CHECKS:
                    checks[k] += rec.get(k, 0.0)
                for k, v in rec.items():
                    tot[k] = tot.get(k, 0.0) + v
            span = lambda name: tot.get(name, 0.0)  # noqa: E731
            tot.update({
                "spark.job_s": span("spark.self_s"),
                "catalyst.plan_s": span("catalyst.span_s"),
                "ingest.copy_s": span("ingest.span_s"),
                "medallion.build_s": span("medallion.span_s"),
                "writers.write_s": span("writers.span_s"),
                "snapshots.commit_s": sum(span(f"snapshots.span_s.{n}") for n in
                                          ("snapshot_write", "merge_into", "delete_where")),
                "snapshots.read_s": sum(span(f"snapshots.span_s.{n}") for n in
                                        ("read_snapshot", "read_snapshot_pruned")),
                "maintenance.s": span("maintenance.span_s"),
                "maintenance.bytes_rewritten": span("maintenance.bytes_written"),
                "pipeline.run_s": span("pipeline.span_s"),
                "gold_rows_per_s": p["gold_rows"] / p["pass_s"] if "gold_rows" in p else 0.0,
                "traced_pass_s": p["pass_s"],
            })
            for k in ("write_amp", "space_amp", "snapshots.metadata_bytes",
                      "snapshots.files_kept_ratio", "maintenance.files_after"):
                tot[k] = p.get(k, 0.0)
            per_pass.append(tot)
        keys = {k for t in per_pass for k in t}
        out = {k: statistics.median(t.get(k, 0.0) for t in per_pass) for k in keys}
        out["session.start_s"] = session_start
        out["registry.load_s"] = registry_load
        out["trace.overhead"] = out["traced_pass_s"] / plain_pass_s
        out.update(checks)
        out["trace.ops"] = sum(len(p["records"]) for p in traced)
        return out


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def report(res: dict, trace: int) -> dict:
    from spans import LAYERS

    rec, e2e, layer = res["record"], res["e2e"], res["layer"]
    print("record " + json.dumps(rec, default=str))
    print(f"{'metric':<34}{'value':>16}  {'unit':<8}{'samples':>8}")
    for name, (v, unit, n) in e2e.items():
        print(f"{name:<34}{_fmt(v):>16}  {unit:<8}{n:>8}")
    if trace == 1:
        print("\nper-layer (median over traced passes; per pass unless noted)")
        print(f"{'layer':<12}{'self_s':>12}")
        for lay in LAYERS[1:]:  # session has no span: it is set-up
            print(f"{lay:<12}{_fmt(layer.get(f'{lay}.self_s', 0.0)):>12}")
        for name, unit in PER_LAYER + LAYER_TABLE_ONLY:
            print(f"{name:<34}{_fmt(layer.get(name, 0.0)):>16}  {unit}")
        print(f"attribution over {int(layer['trace.ops'])} traced ops: "
              f"{int(layer['trace.misplaced_jobs'])} jobs partly outside their span "
              f"({layer['trace.job_s_outside_span']:.3g} s), "
              f"{int(layer['trace.stray_jobs'])} jobs of no span during an op; "
              f"layer self times sum to each op's wall; "
              f"tracing overhead {layer['trace.overhead']:.3f}x")
        names = PER_LAYER
        values = {n: layer.get(n, 0.0) for n, _u in names}
    else:
        names = END_TO_END
        values = {n: e2e[n][0] for n, _u in names}
    return {n: {"value": float(values[n]), "unit": u} for n, u in names}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import aws_lakehouse_spark  # noqa: F401
        import check_parity  # noqa: F401
    except ImportError as exc:
        print(f"lakebench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakebench", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args, work)
    try:
        res = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for f in bench.failures[:20]:
        print(f"FAILED {f}")
    metrics = report(res, args.trace)
    correct = bench.failed == 0 and (
        args.trace == 0 or not any(res["layer"][k] for k in TRACE_CHECKS)
    )
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted,
        "failed": min(bench.failed, bench.attempted), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
