"""The benchmark's workloads.

Each workload has an input builder (``prepare``), a measured part
(``measure``) that returns the wall time of each step, and a correctness
check run outside the timed region. A step is one catch-up ``run_hour``
on ``ztm_hourly`` and one full pass over the workload's catalog entries on
the catalog workloads. Both loops are closed: the next step starts when
the previous one returns.

``measure`` takes the run's session holder: ``sessions.step(traced)``
returns the Spark session for the next step with the spans switched on or
off, and ``sessions.traced(k)`` says whether timed step ``k`` is traced.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import catalog_inputs
import ztmgen

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
ALL_TABLES = TPCH_TABLES + ["documents", "embeddings"]

# data-bound relational entries; task time dominates
OLAP_ENTRIES = [
    "pricing_summary", "revenue_by_nation", "top_order_per_customer", "lineitem_winsorized_stats",
    "purchase_view_attribution", "ztm_delay_fact",
]
# driver-bound operator families; each entry launches tens of small jobs
ITERATIVE_ENTRIES = [
    "doc_suffix_array", "embedding_kmeans_seeded", "doc_dup_kcore", "doc_minhash_candidates",
]
FAMILY = {
    "doc_suffix_array": "suffix",
    "embedding_kmeans_seeded": "kmeans",
    "doc_dup_kcore": "graph",
    "doc_minhash_candidates": "dedup",
}
FAMILIES = ["suffix", "kmeans", "graph", "dedup", "grouped"]

MIN_STEPS = 3  # per run; a traced run takes 4, untraced-traced-traced-untraced
# Untimed catalog passes after the check pass: the check's toPandas leaves
# the noop-sink path cold, and job-bound passes keep getting faster while
# the JVM compiles the driver-side planning and scheduling code.
WARM_PASSES = 1
MAX_HOURS = 24
WARM_HOURS = 1  # untimed: the initial load of every dimension
REPLAY_HOURS = 1
DELAY_ROWS_PER_HOUR = 5_000
DAY = dt.date(*ztmgen.DAY)


@dataclass
class Measured:
    steps: list[float] = field(default_factory=list)  # timed step wall times, s
    step_rows: list[int] = field(default_factory=list)  # rows landed (ztm) or input rows (catalog) per step
    per_entry: dict[str, list[float]] = field(default_factory=dict)  # catalog entry -> time per pass, s
    attempted: int = 0
    failed: int = 0
    findings: list[str] = field(default_factory=list)
    traced: list[bool] = field(default_factory=list)  # per timed step
    windows: list[tuple[float, float]] = field(default_factory=list)  # epoch s of each traced step
    extra: dict = field(default_factory=dict)

    def fail(self, what: str, err: BaseException) -> None:
        self.failed += 1
        self.findings.append(f"{what}: {type(err).__name__}: {str(err).splitlines()[0][:200]}")


def file_count(warehouse: str) -> int:
    """Published parquet parts over every table of a warehouse."""
    return len(glob.glob(os.path.join(warehouse, "*", "*.parquet")))


# --------------------------------------------------------------------------
# ztm_hourly
# --------------------------------------------------------------------------


class ZtmHourly:
    """Fresh warehouse, then one ``run_hour`` per logical hour of the
    2024-12-25 service day: hour 0 (the initial load of every dimension)
    untimed, then one timed catch-up hour after another until the time is
    up, then a replay of a loaded hour, which must append 0 rows."""

    name = "ztm_hourly"
    check_first = False  # the check reads the warehouse that ``measure`` loaded; hour 0 warms up

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, root: str) -> dict:
        ztmgen.generate(root, self.seed, DELAY_ROWS_PER_HOUR)
        return {"root": root}

    def measure(self, sessions, inputs: dict, warehouse: str, seconds: float, min_steps: int) -> Measured:
        from idh_etl_demo_spark.streaming import runner

        tracer = sessions.tracer
        out = Measured()
        out.extra.update(loaded=[], appended={}, merged={}, published={}, retries=0)
        restore = _instrument_runner(runner, tracer, out.extra) if sessions.trace else None

        def hour(h: int, name: str, traced: bool):
            """Run one hour; returns rows appended per table, the wall
            time, and (traced) the tables merged and the parts published.
            The warehouse is listed outside the timed call."""
            spark = sessions.step(traced)
            out.attempted += 1
            out.extra["merges"] = []
            files0 = file_count(warehouse) if traced else 0
            t0, e0 = time.perf_counter(), time.time()
            with tracer.span(name, hour=h):
                got = runner.run_hour(spark, inputs["root"], warehouse, dt.datetime(DAY.year, DAY.month, DAY.day, h))
            took = time.perf_counter() - t0
            if traced:
                out.windows.append((e0, time.time()))
            published = file_count(warehouse) - files0 if traced else 0
            return got, took, out.extra["merges"], published

        try:
            for h in range(MAX_HOURS):
                if h == WARM_HOURS:
                    t_start = time.perf_counter()
                elif h > WARM_HOURS and len(out.steps) >= min_steps and time.perf_counter() - t_start >= seconds:
                    break
                timed = h >= WARM_HOURS
                traced = timed and sessions.traced(h - WARM_HOURS)
                try:
                    got, took, merged, published = hour(h, "runner.run_hour" if timed else "runner.warm_hour", traced)
                except Exception as e:  # noqa: BLE001 - a failed hour is counted, later hours would retry for minutes
                    out.fail(f"run_hour {h:02d}", e)
                    break
                out.extra["loaded"].append(h)
                out.extra["appended"][h] = got
                out.extra["merged"][h] = merged
                out.extra["published"][h] = published
                if timed:
                    out.steps.append(took)
                    out.traced.append(traced)
                    out.step_rows.append(got.get("DelayFact", 0))
            loaded = out.extra["loaded"]
            for h in sorted(random.Random(self.seed).sample(loaded, min(REPLAY_HOURS, len(loaded)))):
                try:
                    got = hour(h, "runner.replay_hour", sessions.trace)[0]
                except Exception as e:  # noqa: BLE001
                    out.fail(f"replay {h:02d}", e)
                    continue
                if any(got.values()):
                    out.failed += 1
                    out.findings.append(f"replay of hour {h:02d} appended rows: {got}")
        finally:
            if restore:
                restore()
        return out

    def check(self, spark, inputs: dict, warehouse: str, out: Measured) -> dict:
        """Compare the warehouse with the DuckDB oracle on the generated
        tree, restricted to the hours loaded; returns per-table incoming
        batch sizes per hour for the merge layer's numbers."""
        import duckdb

        from idh_etl_demo_spark.plans.star import TABLES
        from tests.compare import assert_frames_equal
        from tests.ztm_oracle import ORACLES, register_inputs

        hours = out.extra["loaded"]
        incoming = {}
        if not hours:
            return incoming
        con = duckdb.connect()
        try:
            register_inputs(con, inputs["root"])
            hour_list = ", ".join(str(h) for h in hours)
            for spec in TABLES:
                out.attempted += 1
                sql = ORACLES[spec.name]
                hour_of = {"DelayFact": "cast(right(weather_id, 2) as int)", "TimeDim": "hour_"}.get(spec.name)
                if hour_of:
                    sql = f"select * from ({sql}) where {hour_of} in ({hour_list})"
                con.execute(f"create or replace temp table oracle as {sql}")  # evaluated once
                cols = [d[0] for d in con.execute("select * from oracle limit 0").description]
                order = ", ".join(f'"{c}" asc nulls last' for c in cols if c not in spec.keys)
                keys = ", ".join(f'"{k}"' for k in spec.keys)
                if hour_of:  # one batch per hour
                    incoming[spec.name] = dict(
                        con.execute(f"select {hour_of}, count(*) from oracle group by 1").fetchall()
                    )
                else:  # the whole day's batch, every hour
                    incoming[spec.name] = con.execute("select count(*) from oracle").fetchone()[0]
                # day-grain TimeDim id: the first hour loaded keeps the key
                where = f"where hour_ = {hours[0]}" if spec.name == "TimeDim" else ""
                want_sql = (
                    f"select * exclude (rn) from (select *, row_number() over "
                    f"(partition by {keys} order by {order}) as rn from oracle {where}) where rn = 1"
                )
                try:
                    want = con.execute(want_sql).df()
                    got = con.execute(
                        f"select * from read_parquet('{os.path.join(warehouse, spec.name)}/*.parquet')"
                    ).df()
                    assert_frames_equal(got, want)
                except Exception as e:  # noqa: BLE001 - a mismatch is a finding, not a crash
                    out.fail(f"warehouse {spec.name} vs oracle", e)
        finally:
            con.close()
        return incoming


def _instrument_runner(runner, tracer, extra: dict):
    """Wrap the runner's calls into the sources, plans and merge layers;
    returns a function that undoes the wrapping."""
    from idh_etl_demo_spark.plans.star import TableSpec

    saved = {}

    def patch(attr, new):
        saved[attr] = getattr(runner, attr)
        setattr(runner, attr, new)

    for fn in ("read_gtfs", "read_delays", "read_vehicles", "read_weather_raw"):
        patch(fn, tracer.wrap(getattr(runner, fn), f"sources.{fn}"))
    for fn in ("clean_delays", "clean_weather", "build_time_dim_rows"):
        patch(fn, tracer.wrap(getattr(runner, fn), f"plans.inputs.{fn}"))
    patch("build_views", tracer.wrap(runner.build_views, "runner.build_views"))
    patch("verify_views", tracer.wrap(runner.verify_views, "runner.verify_views"))
    patch(
        "TABLES",
        tuple(
            TableSpec(s.name, s.keys, tracer.wrap(s.build, f"plans.star_build.{s.name}"))
            for s in runner.TABLES
        ),
    )
    orig_retries, orig_merge = runner._with_retries, runner.merge_insert_if_absent

    def with_retries(fn, what):
        attempts = [0]

        def counted():
            attempts[0] += 1
            return fn()

        try:
            with tracer.span(f"runner.unit.{what.split('@')[0]}"):
                return orig_retries(counted, what)
        finally:
            extra["retries"] += max(attempts[0] - 1, 0)

    def merge(spark, incoming, target_path, keys, *args, **kwargs):
        table = os.path.basename(target_path)
        extra["merges"].append(table)
        with tracer.span(f"merge.{table}"):
            return orig_merge(spark, incoming, target_path, keys, *args, **kwargs)

    patch("_with_retries", with_retries)
    patch("merge_insert_if_absent", merge)

    def restore():
        for attr, v in saved.items():
            setattr(runner, attr, v)

    return restore


# --------------------------------------------------------------------------
# catalog workloads
# --------------------------------------------------------------------------


class CatalogPasses:
    """Full passes over a list of catalog entries: builder, then a noop
    sink action, with the program's memos cleared before each memo-backed
    entry so every pass measures cold execution."""

    check_first = True  # the check pass also warms the session up

    def __init__(self, name: str, seed: int, entries: list[str], tables: list[str], copies: int):
        self.name, self.seed, self.entries = name, seed, entries
        self.tables, self.copies = tables, copies

    def prepare(self, root: str) -> dict:
        rows = catalog_inputs.build(root, self.seed, self.tables, self.copies)
        return {"root": root, "rows": sum(rows.values())}

    def _pass(self, spark, root: str, tracer) -> dict[str, float]:
        """One pass; returns the wall time of each entry."""
        import bench
        from idh_etl_demo_spark.catalog import ENTRIES

        took = {}
        for name in self.entries:
            if name in bench.SESSION_CACHED:
                bench._clear_session_caches()
            t0 = time.perf_counter()
            with tracer.span(f"catalog.entry.{name}", family=FAMILY.get(name, "grouped")):
                with tracer.span(f"catalog.build.{name}"):
                    df = ENTRIES[name].spark(spark, root)
                with tracer.span(f"catalog.action.{name}"):
                    df.write.format("noop").mode("overwrite").save()
            took[name] = time.perf_counter() - t0
        if bench.XSB_FAMILY & set(self.entries):
            from idh_etl_demo_spark.catalog_r14 import release_xsb_models

            release_xsb_models()
        return took

    def measure(self, sessions, inputs: dict, warehouse: str, seconds: float, min_steps: int) -> Measured:
        out = Measured()
        for _ in range(WARM_PASSES):
            out.attempted += len(self.entries)
            try:
                self._pass(sessions.step(False), inputs["root"], sessions.tracer)
            except Exception as e:  # noqa: BLE001 - counted; the timed passes would fail alike
                out.fail("warm-up pass", e)
                return out
        t_start = time.perf_counter()
        while len(out.steps) < min_steps or time.perf_counter() - t_start < seconds:
            traced = sessions.traced(len(out.steps))
            spark = sessions.step(traced)
            out.attempted += len(self.entries)
            e0 = time.time()
            try:
                took = self._pass(spark, inputs["root"], sessions.tracer)
            except Exception as e:  # noqa: BLE001 - counted; the pass cannot be timed
                out.fail("pass", e)
                break
            out.steps.append(sum(took.values()))
            for name, t in took.items():
                out.per_entry.setdefault(name, []).append(t)
            out.traced.append(traced)
            if traced:
                out.windows.append((e0, time.time()))
            out.step_rows.append(inputs["rows"])
        return out

    def check(self, spark, inputs: dict, warehouse: str, out: Measured) -> dict:
        """Each entry once against its oracle SQL in DuckDB, on the
        generated inputs."""
        import bench
        import duckdb

        from idh_etl_demo_spark.catalog import ENTRIES
        from tests.compare import assert_frames_equal

        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(inputs["root"], f"{t}.parquet")
                con.execute(f"create view {t} as select * from read_parquet('{path}')")
            for name in self.entries:
                out.attempted += 1
                if name in bench.SESSION_CACHED:
                    bench._clear_session_caches()
                try:
                    got = ENTRIES[name].spark(spark, inputs["root"]).toPandas()
                    want = con.execute(ENTRIES[name].oracle).df()
                    assert_frames_equal(got, want)
                except Exception as e:  # noqa: BLE001 - a mismatch is an entry finding
                    out.fail(f"entry {name} vs oracle", e)
        finally:
            con.close()
        return {}


def make(name: str, seed: int):
    if name == "ztm_hourly":
        return ZtmHourly(seed)
    if name == "olap_sf0.1":
        return CatalogPasses(name, seed, OLAP_ENTRIES, TPCH_TABLES, copies=10)
    if name == "iterative_sf0.01":
        return CatalogPasses(name, seed, ITERATIVE_ENTRIES, ALL_TABLES, copies=1)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["ztm_hourly", "olap_sf0.1", "iterative_sf0.01"]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def typical_step(m: Measured) -> float:
    """The median step. A catalog pass is the sum of its entries' median
    times, so a slow moment of the machine moves one entry's median, not
    the pass; a ztm hour is the median hour."""
    if m.per_entry:
        return sum(median(ts) for ts in m.per_entry.values())
    return median(m.steps)
