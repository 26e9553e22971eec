"""The benchmark's workloads: inputs, the fixed op list of one pass, and
the check of every op's output.

An :class:`Op` is one closed-loop call into the engine's public API.
``run(tracer)`` is the timed part and returns the engine's result;
``check(result)`` runs untimed afterwards and returns failures (an
empty list means the output is correct). ``ops()`` returns a pass as
two lists: ops that build the state the pass starts from (run and
checked, not timed) and the timed ops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from datetime import date

import numpy as np
import pyarrow.parquet as pq

from aws_lakehouse_spark import catalog
from aws_lakehouse_spark.registry import load_all
from aws_lakehouse_spark.sources import pipeline, snapshots
from aws_lakehouse_spark.sources.pipeline import PipelineConfig, run_pipeline

import gen_ghcn

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

STAR_SQL = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit", "tpch_q18_large_volume_customer",
    "medallion_star_revenue", "filter_range_quality", "dedupe_by_key_window",
    "join_asof", "events_tumbling_window", "events_funnel_steps",
    "agg_approx_count_distinct",
)
CURATION = (
    "graph_pagerank_topk", "graph_triangle_count",
    "dedup_near_duplicate_resolution", "text_span_dedup_apply",
    "text_dsir_importance", "embed_semdedup", "ann_ivf_pq",
)


@dataclass
class Op:
    name: str
    layer: str  # layer of the op's root span
    run: Callable
    check: Callable[[object], list[str]]
    # maintenance results carrying "error" (run_maintenance swallows them)
    swallowed_errors: Callable[[object], int] = lambda result: 0


# -- star_sql / curation_iterative --------------------------------------


class RegistryWorkload:
    """Registry query builders over the engine's star-schema fixtures,
    checked against each query's DuckDB oracle.

    The fixtures are the engine's reference test data, committed under
    ``fixtures/sf<sf>`` byte for byte (``fixtures/SHA256SUMS``) so the
    benchmark reads its inputs from its own directory."""

    # each query runs once per pass, and its JIT-compiled code keeps
    # speeding up over its first two runs
    warmup_passes = 2

    def __init__(self, names: tuple[str, ...], sf: str, seed: int):
        self.names = names
        self.seed = seed
        self.data = os.path.join(FIXTURES, f"sf{sf}")
        self.oracle: dict[str, object] = {}
        self.registry = load_all()
        self.input_rows = sum(
            pq.ParquetFile(self._path(t)).metadata.num_rows for t in catalog.TABLES
        )

    def _path(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")

    def prepare(self) -> None:
        """Compute every oracle result, untimed."""
        import check_parity

        con = check_parity.duck_connect(self.data)
        try:
            for name in self.names:
                self.oracle[name] = con.sql(self.registry[name].oracle).df()
        finally:
            con.close()

    def fixture_check(self, spark) -> list[str]:
        """Every fixture file has its recorded checksum, and every table
        loads through the engine's catalog with the file's columns."""
        bad = []
        want = {}
        with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
            for line in fh:
                digest, rel = line.split()
                want[os.path.join(FIXTURES, rel)] = digest
        for t in catalog.TABLES:
            path = self._path(t)
            with open(path, "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != want.get(path):
                    bad.append(f"{t}: checksum differs from fixtures/SHA256SUMS")
            cols = catalog.load_table(spark, self.data, t).columns
            if cols != pq.read_schema(path).names:
                bad.append(f"{t}: columns {cols}")
        return bad

    def pass_start(self, spark) -> None:
        pass

    def ops(self, spark, pass_no: int) -> tuple[list[Op], list[Op]]:
        rng = np.random.default_rng([self.seed, pass_no])
        return [], [self._op(spark, self.names[i]) for i in rng.permutation(len(self.names))]

    def _op(self, spark, name: str) -> Op:
        import check_parity

        spec = self.registry[name]

        def run(tr):
            with tr.span("build", "plans", count_py4j=True):
                df = spec.fn(spark, self.data)
            if tr.enabled:
                with tr.span("plan", "catalyst"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("collect", "spark"):
                return df.toPandas()

        def check(pdf) -> list[str]:
            # the same hard/soft split as tools/check_parity.py: float
            # columns equal within tolerance but not bitwise pass
            return [
                p for p in check_parity.compare(name, pdf, self.oracle[name])
                if "values-match" not in p and "NOT bitwise" not in p
            ]

        return Op(name, "registry", run, check)

    def pass_stats(self, spark) -> dict:
        return {}


# -- medallion_daily -----------------------------------------------------

KEY = ["station_id", "date_key", "element_code"]
GOLD_FACT = (
    "station_id string, date_key date, element_code string, value double, "
    "measurement_flag string, source_flag string, year int, month int, day int"
)
BRONZE_COLUMNS = {
    "ID", "DATE", "DATA_VALUE", "M_FLAG", "Q_FLAG", "S_FLAG", "OBS_TIME", "YEAR", "ELEMENT",
}
# simulated days per pass; only the last is timed. The days before it
# build the lakehouse it runs on, and in the first pass they are the
# warm-up: the timed ops are each op's third run in the process, the
# first run whose wall no longer drops as the JIT compiles
DAYS = 3
MEDALLION_STAGES = (
    "bronze_to_silver_observations", "parse_stations", "parse_countries",
    "parse_states", "parse_inventory", "silver_to_gold",
)


class Ledger:
    """Bytes written under a directory tree, from file snapshots taken
    between ops: a file whose (inode, size, mtime) is new counts in full.
    A rename keeps its inode and counts nothing."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple[int, int, int]] = set()
        self.written = 0
        self.metadata_written = 0

    def scan(self) -> None:
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                key = (st.st_ino, st.st_size, st.st_mtime_ns)
                if key not in self.seen:
                    self.seen.add(key)
                    self.written += st.st_size
                    if snapshots.LOG_DIR in dirpath:
                        self.metadata_written += st.st_size


def _live_files(spark, table_path: str, version: int | None = None) -> list[str]:
    df = snapshots.read_snapshot(spark, table_path, version)
    return [f.removeprefix("file:") for f in df.inputFiles()]


def dir_bytes(path: str, only: set[str] | None = None) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if only is None or f in only:
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class MedallionWorkload:
    """The paper's daily dataflow plus DML, time travel and maintenance
    on the gold snapshot table; each pass starts from an empty lakehouse."""

    # no separate warm-up pass: the untimed days of the first pass run
    # every op type twice before the first timed op (see DAYS)
    warmup_passes = 0

    def __init__(self, stations: int, seed: int, work: str):
        self.stations = stations
        self.seed = seed
        self.src = os.path.join(work, "ghcn")
        self.lake = os.path.join(work, "lake")
        self.warehouse = os.path.join(work, "warehouse")
        self.snap = os.path.join(self.lake, "gold_fact_snap")
        self.plans: list[gen_ghcn.DailyPlan] = []
        self.dim_bytes = 0
        self.input_rows = 0
        self._reset_model()

    def _reset_model(self) -> None:
        self.model: dict[tuple[str, date, str], float] = {}
        self.version_rows: dict[int, int] = {}
        self.last_pipeline_version = -1
        self.ledger = Ledger(self.lake)
        self.ledger_wh = Ledger(self.warehouse)
        self.kept_ratios: list[float] = []

    def prepare(self) -> None:
        self.plans, self.dim_bytes = gen_ghcn.generate(
            self.src, DAYS, self.stations, self.seed
        )
        self.input_rows = sum(p.rows for p in self.plans)

    def fixture_check(self, spark) -> list[str]:
        """Every day's bronze dataset scans with the bronze columns and
        holds the generated rows; the station file has one line per station."""
        bad = []
        for p in self.plans:
            cols = set(spark.read.parquet(p.source_dir).columns)
            if cols != BRONZE_COLUMNS:
                bad.append(f"{p.source_dir}: columns {sorted(cols)}")
            rows = sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for d, _s, fs in os.walk(p.source_dir) for f in fs
            )
            if rows != p.rows:
                bad.append(f"{p.source_dir}: {rows} rows, {p.rows} generated")
        with open(os.path.join(self.src, "stations.txt")) as fh:
            if sum(1 for _ in fh) != self.stations:
                bad.append("stations.txt: line count differs from the station count")
        return bad

    def pass_start(self, spark) -> None:
        """Untimed: drop the catalog databases and the lakehouse root."""
        for db in ("silver", "gold"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.rmtree(self.warehouse, ignore_errors=True)
        os.makedirs(self.lake)
        os.makedirs(self.warehouse)
        self._reset_model()

    def _cfg(self, plan: gen_ghcn.DailyPlan) -> PipelineConfig:
        return PipelineConfig(
            source_path=plan.source_dir,
            bronze_root=os.path.join(self.lake, "bronze"),
            dataset=f"observations_{plan.obs_date}",
            dim_paths={
                dim: os.path.join(self.src, f"{dim.removeprefix('dim_')}.txt")
                for dim in ("dim_stations", "dim_countries", "dim_states", "dim_inventory")
            },
            gold_snapshot_path=self.snap,
        )

    def _version_rows(self, spark, version: int) -> int:
        """Rows of a snapshot version, from the footers of the files the
        engine reads for it (not from the engine's own manifest sums)."""
        return sum(
            pq.ParquetFile(f).metadata.num_rows for f in _live_files(spark, self.snap, version)
        )

    def _snapshot_model(self, spark, version: int) -> dict:
        rows = snapshots.read_snapshot(spark, self.snap, version).select(*KEY, "value").collect()
        return {(r[0], r[1], r[2]): r[3] for r in rows}

    def _cum_gold(self, upto: int) -> dict:
        model = {}
        for p in self.plans[: upto + 1]:
            d = date.fromisoformat(p.obs_date)
            for (s, e), v in p.gold.items():
                model[(s, d, e)] = v
        return model

    def _after(self, spark, op_check):
        """Wrap a check so the write ledgers see the op's files."""
        def check(result):
            self.ledger.scan()
            self.ledger_wh.scan()
            return op_check(result)
        return check

    def ops(self, spark, pass_no: int) -> tuple[list[Op], list[Op]]:
        """One pass: every day runs its pipeline, DML, reads and table
        maintenance, and the last day is re-run. Only the last day is
        timed; the days before it build the lakehouse it runs on."""
        days = []
        for d, plan in enumerate(self.plans):
            ops = [
                self._pipeline_op(spark, d, plan, rerun=False),
                self._merge_op(spark, plan),
                self._delete_op(spark, plan),
                self._time_travel_op(spark),
                *(self._range_op(spark, lo, hi) for lo, hi in plan.station_ranges),
                *self._maintenance_ops(spark),
            ]
            days.append(ops)
        last = len(self.plans) - 1
        days[-1].append(self._pipeline_op(spark, last, self.plans[last], rerun=True))
        return [op for day in days[:-1] for op in day], days[-1]

    def _pipeline_op(self, spark, d: int, plan, rerun: bool) -> Op:
        """run_pipeline on day ``d``'s year-to-date dataset. Its check:
        the gold snapshot holds every valid row of days 0..d; a re-run of
        a day skips ingest and leaves the row count of that day's first
        run, i.e. duplicates nothing."""
        cfg = self._cfg(plan)

        def run(tr):
            return run_pipeline(spark, cfg)

        def check(manifest) -> list[str]:
            bad = []
            if manifest["ingest"]["skipped"] is not rerun:
                bad.append(f"ingest skipped={manifest['ingest']['skipped']}, rerun={rerun}")
            version = manifest["gold_snapshot"]["version"]
            n = self._version_rows(spark, version)
            if rerun:
                want = self.version_rows[self.last_pipeline_version]
                what = "re-run"
            else:
                self.model = self._cum_gold(d)
                want, what = len(self.model), "valid rows of days 0..d"
                self.last_pipeline_version = version
                if n != want:
                    # later ops are checked against the state they got
                    self.model = self._snapshot_model(spark, version)
            self.version_rows[version] = n
            if n != want:
                bad.append(f"gold snapshot v{version}: {n} rows, expected {want} ({what})")
            return bad

        def swallowed(manifest) -> int:
            return sum(1 for r in manifest.get("maintenance", []) if "error" in r)

        name = "run_pipeline_rerun" if rerun else "run_pipeline"
        return Op(name, "pipeline", run, self._after(spark, check), swallowed)

    def _merge_op(self, spark, plan) -> Op:
        iso = date.fromisoformat(plan.obs_date)
        rows = [
            (s, iso, e, v, m, f, iso.year, iso.month, iso.day)
            for s, _d, e, v, m, f in plan.corrections
        ]
        source = spark.createDataFrame(rows, GOLD_FACT)

        def run(tr):
            return snapshots.merge_into(spark, self.snap, source, on=KEY)

        def check(res) -> list[str]:
            for s, _d, e, v, *_ in plan.corrections:
                self.model[(s, iso, e)] = v
            n = self._version_rows(spark, res["version"])
            self.version_rows[res["version"]] = n
            if n != len(self.model):
                return [f"merge v{res['version']}: {n} rows, expected {len(self.model)}"]
            return []

        return Op("merge_into", "snapshots", run, self._after(spark, check))

    def _delete_op(self, spark, plan) -> Op:
        sid = plan.withdrawn_station

        def run(tr):
            return snapshots.delete_where(spark, self.snap, f"station_id = '{sid}'")

        def check(res) -> list[str]:
            gone = [k for k in self.model if k[0] == sid]
            for k in gone:
                del self.model[k]
            n = self._version_rows(spark, res["version"])
            self.version_rows[res["version"]] = n
            bad = []
            if res["rows_deleted"] != len(gone):
                bad.append(f"delete {sid}: {res['rows_deleted']} rows, expected {len(gone)}")
            if n != len(self.model):
                bad.append(f"delete v{res['version']}: {n} rows, expected {len(self.model)}")
            return bad

        return Op("delete_where", "snapshots", run, self._after(spark, check))

    def _time_travel_op(self, spark) -> Op:
        state = {}

        def run(tr):
            state["version"] = snapshots.versions(self.snap)[-1] - 1
            df = snapshots.read_snapshot(spark, self.snap, state["version"])
            with tr.span("count", "spark"):
                return df.count()

        def check(n) -> list[str]:
            want = self.version_rows.get(state["version"])
            if n != want:
                return [f"time travel v{state['version']}: {n} rows, expected {want}"]
            return []

        return Op("read_snapshot", "snapshots", run, self._after(spark, check))

    def _range_op(self, spark, lo: str, hi: str) -> Op:
        def run(tr):
            df = snapshots.read_snapshot_pruned(spark, self.snap, "station_id", lo, hi)
            with tr.span("count", "spark"):
                return df.count()

        def check(n) -> list[str]:
            planned, total = snapshots.plan_pruned_files(self.snap, "station_id", lo, hi)
            self.kept_ratios.append(len(planned) / max(1, total))
            want = sum(1 for k in self.model if lo <= k[0] <= hi)
            return [] if n == want else [f"range [{lo},{hi}]: {n} rows, expected {want}"]

        return Op("read_snapshot_pruned", "snapshots", run, self._after(spark, check))

    def _maintenance_ops(self, spark) -> list[Op]:
        def rewrite(tr):
            return snapshots.rewrite_data_files(spark, self.snap, target_files=2)

        def check_rewrite(res) -> list[str]:
            n = self._version_rows(spark, res["version"])
            self.version_rows[res["version"]] = n
            bad = [] if res["files_after"] <= 2 else [f"rewrite left {res['files_after']} files"]
            if n != len(self.model):
                bad.append(f"rewrite v{res['version']}: {n} rows, expected {len(self.model)}")
            return bad

        def expire(tr):
            return snapshots.expire_snapshots(self.snap, retain_last=3)

        def check_expire(res) -> list[str]:
            kept = res["retained_versions"]
            return [] if len(kept) == 3 else [f"expire kept {kept}"]

        def orphans(tr):
            return snapshots.remove_orphans(self.snap, older_than_seconds=0)

        def check_orphans(res) -> list[str]:
            missing = [
                f for v in snapshots.versions(self.snap)
                for f in _live_files(spark, self.snap, v)
                if not os.path.exists(f)
            ]
            return [f"remove_orphans deleted live file {missing[0]}"] if missing else []

        return [
            Op("rewrite_data_files", "maintenance", rewrite, self._after(spark, check_rewrite)),
            Op("expire_snapshots", "maintenance", expire, self._after(spark, check_expire)),
            Op("remove_orphans", "maintenance", orphans, self._after(spark, check_orphans)),
        ]

    def pass_stats(self, spark) -> dict:
        """Storage numbers of the pass just finished."""
        self.ledger.scan()
        self.ledger_wh.scan()
        silver = os.path.join(self.warehouse, "silver.db")
        gold = os.path.join(self.warehouse, "gold.db")
        live_snap = {os.path.basename(f) for f in _live_files(spark, self.snap)}
        live = dir_bytes(silver) + dir_bytes(gold) + dir_bytes(self.snap, only=live_snap)
        on_disk = dir_bytes(silver) + dir_bytes(gold) + dir_bytes(self.snap)
        source = sum(p.source_bytes for p in self.plans) + self.dim_bytes
        silver_files = sum(
            1 for _d, _s, fs in os.walk(os.path.join(silver, "observations"))
            for f in fs if f.endswith(".parquet")
        )
        return {
            "write_amp": (self.ledger.written + self.ledger_wh.written) / source,
            "space_amp": on_disk / live,
            "snapshots.metadata_bytes": self.ledger.metadata_written,
            "snapshots.files_kept_ratio": float(np.mean(self.kept_ratios)) if self.kept_ratios else 0.0,
            "maintenance.files_after": silver_files + len(live_snap),
            "gold_rows": len(self._cum_gold(len(self.plans) - 1)),
        }


def trace_medallion_calls(tracer) -> Callable[[], None]:
    """Wrap the public functions ``run_pipeline`` calls in spans; returns
    the function that restores them. Writers and snapshot commits also
    force Catalyst's physical plan of the written query in a child span."""
    saved: list[tuple[object, str, object]] = []

    def wrap(module, name: str, layer: str, df_arg: int | None = None):
        fn = getattr(module, name)

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                if df_arg is not None:
                    with tracer.span("plan", "catalyst"):
                        args[df_arg]._jdf.queryExecution().executedPlan()
                return fn(*args, **kwargs)

        saved.append((module, name, fn))
        setattr(module, name, traced)

    wrap(pipeline, "ingest_copy", "ingest")
    for name in MEDALLION_STAGES:
        wrap(pipeline, name, "medallion")
    wrap(pipeline, "sink_table_overwrite", "writers", df_arg=0)
    wrap(pipeline, "sink_partition_overwrite", "writers", df_arg=0)
    wrap(pipeline, "run_maintenance", "maintenance")
    wrap(snapshots, "snapshot_write", "snapshots", df_arg=1)

    def restore() -> None:
        for module, name, fn in reversed(saved):
            setattr(module, name, fn)

    return restore
