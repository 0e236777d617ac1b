"""The benchmark's workloads and the calls it times in each layer.

``iterative_driver`` times one registry query per operation, split
into build (``QueryDef.fn``), plan (``queryExecution().executedPlan()``)
and execution (an Arrow collect to pandas, whose result the output
check then reuses). ``etl_write`` times ``app.run_pipeline`` calls (one
full load, then one-day increments), and after each call two page
requests to the program's dashboard handler serving the tables that
call wrote: a cache miss, then the same page again as a cache hit.

Untraced runs touch no module of the program. A traced run records
spans around the same calls and also swaps a few module attributes
(``app.upsert_by_date_partition``, ``charts.index_chart_spec``, ...)
for wrappers that open a span and note the job-id window of the call.
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import time
import urllib.request
import zipfile
from dataclasses import dataclass, field
from http.server import ThreadingHTTPServer

import duckdb
from pyspark.sql import SparkSession

from marketviz_spark import app, tables
from marketviz_spark.pipelines import charts, dashboard_server, presentation
from marketviz_spark.pipelines.ingest import UniverseSource
from marketviz_spark.registry import QUERIES
from tests.oracle_check import compare, duck_con

import datagen
from layers import (
    COUNTER_KEYS,
    StatusStore,
    Tracer,
    add_counters,
    dir_bytes,
    self_times,
    total_times,
    write_amp,
)

# Two driver-loop candidates of ROADMAP item E: pagerank's
# per-iteration cuts and the PQ Lloyd ladders, whose jobs from a
# driver thread pool run untagged.
ITERATIVE_QUERIES = [
    "graph_pagerank",
    "emb_ivfpq_topk",
]
# Scale factor of the tables iterative_driver reads.
ITERATIVE_SF = 0.001
# etl_write: universe size, days in the full load, days in the source.
# The universe is larger than the index, so the top-k cutoff drops rows.
ETL_TICKERS = 120
ETL_LOAD_DAYS = 10
ETL_DAYS = 250  # one trading year: the load, then at most 240 increments
ETL_K = 100  # the reference's index size
PAGE_K = dashboard_server.DEFAULT_K

GROUP = "perfbench"


@dataclass
class Op:
    """One timed operation: a query, a full load, an increment or a
    page request."""

    name: str
    wall: float = 0.0
    parts: dict = field(default_factory=dict)
    jobs: int = 0
    build_jobs: int = 0
    ok: bool = True
    error: str | None = None
    counters: dict | None = None
    build_counters: dict | None = None


@dataclass
class Pass:
    """One pass over a workload's fixed unit of work."""

    ops: list[Op] = field(default_factory=list)
    traced: bool = False
    cached_bytes: int = 0  # RDD storage after a traced pass

    @property
    def wall(self) -> float:
        return sum(o.wall for o in self.ops)


class Harness:
    """The session plus the measuring tools one run shares."""

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.store = StatusStore(spark)
        self.tracer = Tracer(enabled=False)
        # (layer, first job id, end job id) of each wrapped call
        self.windows: list[tuple[str, int, int]] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- job groups and windows ---------------------------------------

    def set_group(self, name: str) -> str:
        group = f"{GROUP}:{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        return group

    # -- traced mode: module attribute wrappers -----------------------

    def wrap(self, module, attr: str, layer) -> None:
        """Replace ``module.attr`` by a wrapper that records a span
        and the job-id window of each call. ``layer`` is a span name
        or a function of the call's arguments returning one."""
        orig = getattr(module, attr)
        store, tracer, windows = self.store, self.tracer, self.windows

        def wrapper(*args, **kwargs):
            name = layer(*args, **kwargs) if callable(layer) else layer
            first = store.next_job_id()
            with tracer.span(name):
                try:
                    return orig(*args, **kwargs)
                finally:
                    windows.append((name, first, store.next_job_id()))

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def wrap_layers(self) -> None:
        """Wrap the program's layer entry points for a traced pass."""
        for fn in (presentation.presentation_frame, presentation.presentation_pandas):
            for mod in list(_program_modules()):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self.wrap(mod, attr, "presentation.collect")

        def upsert_layer(spark, new, path, *a, **kw):
            return "upsert.index" if path.rstrip("/").endswith("index_data") else "upsert.stocks"

        self.wrap(app, "ingest", "ingest")
        self.wrap(app, "upsert_by_date_partition", upsert_layer)
        self.wrap(app, "compute_index", "index.compute_index")
        self.wrap(app, "export_xlsx", "export.xlsx")
        self.wrap(app, "export_pdf", "export.pdf")
        # render_dashboard_page imports the chart spec functions at call time
        # and looks the other two up in its own module.
        self.wrap(charts, "index_chart_spec", "charts.index_chart_spec")
        self.wrap(charts, "market_cap_pie_spec", "charts.market_cap_pie_spec")
        self.wrap(dashboard_server, "composition_asof", "dashboard_server.composition_asof")
        self.wrap(dashboard_server, "_summary_table_html", "report_html.summary_table")

    def unwrap_layers(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)


def _program_modules():
    return [m for n, m in sys.modules.items() if n.startswith("marketviz_spark") and m]


# ----------------------------------------------------------------------
# Query workloads
# ----------------------------------------------------------------------


def _check(op: Op, problems_of) -> None:
    """Run an output check; a mismatch or an error in the check marks
    the operation failed. Its own time goes to the detail file."""
    t = time.perf_counter()
    try:
        problems = problems_of()
    except Exception as e:  # noqa: BLE001 - a check that cannot run fails the op
        problems = [f"check error {type(e).__name__}: {e}"]
    op.parts["check_s"] = time.perf_counter() - t
    if problems:
        op.ok, op.error = False, "; ".join(problems)[:500]


class _Collected:
    """A collected query result, shaped for ``oracle_check.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method compare calls
        return self._pdf


class QueryWorkload:
    def __init__(self, h: Harness, data_dir: str):
        self.h = h
        # A fixed order: the first queries of a fresh JVM absorb its
        # remaining start-up costs, so a seeded order would move those
        # costs between queries from run to run.
        self.names = ITERATIVE_QUERIES
        self.data_dir = data_dir
        self.con = duck_con(data_dir)

    def warm_up(self) -> Pass:
        return self.run_pass(False)

    def run_pass(self, traced: bool) -> Pass:
        h = self.h
        h.tracer.enabled = traced
        p = Pass(traced=traced)
        for i, name in enumerate(self.names):
            h.tracer.trace_id = f"op{i}:{name}"
            p.ops.append(self._run(name, traced))
        if traced:
            p.cached_bytes = h.store.cached_bytes()
        h.tracer.enabled = False
        return p

    def _run(self, name: str, traced: bool) -> Op:
        h, qd = self.h, QUERIES[name]
        op = Op(name)
        group = h.set_group(name)
        first = h.store.next_job_id()
        built = None
        t0 = time.perf_counter()
        try:
            with h.tracer.span("op"):
                with h.tracer.span("registry.build"):
                    df = qd.fn(h.spark, self.data_dir)
                t1 = time.perf_counter()
                built = h.store.next_job_id()
                with h.tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with h.tracer.span("spark.exec"):
                    result = df.toPandas()
                t3 = time.perf_counter()
            op.wall = t3 - t0
            op.parts = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
            op.wall = time.perf_counter() - t0
        end = h.store.next_job_id()
        if built is None:
            built = end
        op.jobs, op.build_jobs = end - first, built - first
        if traced:
            op.build_counters = h.store.window(first, built, group)
            op.counters = h.store.window(first, end, group)
        if op.ok:
            _check(op, lambda: compare(_Collected(result), self.con, qd.oracle, name))
        return op


# ----------------------------------------------------------------------
# ETL workload
# ----------------------------------------------------------------------

def stocks_scan(stocks: str) -> str:
    """DuckDB scan of the date-partitioned stocks table at ``stocks``."""
    return (
        f"read_parquet('{stocks}/*/*.parquet', hive_partitioning = true, "
        "hive_types = {'date': VARCHAR})"
    )


def etl_index_oracle(stocks: str) -> str:
    """The index table recomputed by DuckDB over the written stocks."""
    return (
        f"WITH stocks AS (SELECT ticker, date, share_price, market_cap FROM {stocks_scan(stocks)})\n"
        f"SELECT * FROM ({tables.INDEX_FROM_STOCKS_SQL.format(k=ETL_K)})"
    )


@contextlib.contextmanager
def dashboard(index_df, stocks_df):
    """The program's dashboard request handler on a loopback port,
    serving the given tables with an empty page cache. It is set up as
    ``dashboard_server.make_server`` sets it up, which reads its tables
    from a test-data directory instead."""
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), dashboard_server.DashboardHandler)
    httpd.index_df, httpd.stocks_df = index_df, stocks_df
    httpd.page_cache, httpd.cache_lock = {}, threading.Lock()
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{httpd.server_address[1]}"
    finally:
        httpd.shutdown()
        httpd.server_close()
        thread.join()


class EtlWorkload:
    """One table set per run: a full load, then one-day increments of
    the following days through the same call."""

    def __init__(self, h: Harness):
        self.h = h
        self.tickers = datagen.tickers(ETL_TICKERS)
        self.universe = UniverseSource(self.tickers)
        self.base = os.path.join(h.work, "etl")
        self.days = datagen.trading_days(ETL_DAYS)
        self.n_dates = 0

    def warm_up(self) -> Pass:
        """The full load and the first increment: the first increment
        into existing tables ran 5-33% slower than the next."""
        p = self.run_pass(False, load=True)
        p.ops.extend(self.run_pass(False).ops)
        return p

    def run_pass(self, traced: bool, load: bool = False) -> Pass:
        """One ``app.run_pipeline`` call: the full load of the first
        ``ETL_LOAD_DAYS`` days, or a one-day increment of the next
        day. After it, a dashboard over the written tables serves the
        page of the newest date twice: a miss, then a hit."""
        h = self.h
        if load:
            todo, name = self.days[:ETL_LOAD_DAYS], "etl.load"
        elif self.n_dates < len(self.days):
            todo, name = [self.days[self.n_dates]], "etl.increment"
        else:
            raise RuntimeError(f"etl_write ran out of its {ETL_DAYS} trading days")
        h.tracer.enabled = traced
        if traced:
            h.wrap_layers()
        p = Pass(traced=traced)
        try:
            i = self.n_dates
            h.tracer.trace_id = f"date{i}:{name}"
            source = datagen.EtlHistory(h.seed, todo, self.days)
            self.n_dates += len(todo)
            op, out = self._run(name, source, self.base, self.n_dates, traced)
            p.ops.append(op)
            if out is not None:
                stocks = os.path.join(self.base, "data", "stocks")
                p.ops.extend(self._pages(out, stocks, todo[-1], i, traced))
            if traced:
                p.cached_bytes = h.store.cached_bytes()
        finally:
            h.unwrap_layers()
            h.tracer.enabled = False
        return p

    def _run(self, name: str, source, base: str, n_dates: int, traced: bool):
        h = self.h
        op = Op(name)
        data_dir, export_dir = os.path.join(base, "data"), os.path.join(base, "exports")
        group = h.set_group(name)
        first = h.store.next_job_id()
        h.windows.clear()
        out = None
        t0 = time.perf_counter()
        try:
            with h.tracer.span("op"):
                out = app.run_pipeline(
                    h.spark, self.universe, source, data_dir, k=ETL_K, export_dir=export_dir
                )
            op.wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
            op.wall = time.perf_counter() - t0
        end = h.store.next_job_id()
        op.jobs = end - first
        if traced:
            op.counters = h.store.window(first, end, group)
            op.parts["layers"] = [
                (layer, h.store.window(a, b, group)) for layer, a, b in h.windows
            ]
            new_date = source.days[-1]
            op.parts["new_bytes"] = sum(
                dir_bytes(os.path.join(data_dir, t, f"date={new_date}"))
                for t in ("stocks", "index_data")
            )
        if op.ok:
            h.set_group("check")
            _check(op, lambda: self._check(data_dir, export_dir, source, n_dates))
        return op, out

    def _pages(self, out: dict, stocks: str, date: str, i: int, traced: bool) -> list[Op]:
        """Two requests for the (PAGE_K, date) page: the first renders
        it, the second must come from the page cache. Each is checked
        against the DuckDB index of the written stocks."""
        h = self.h
        ops, bodies = [], []
        url = f"/?k={PAGE_K}&date={date}"
        with dashboard(out["index_data"], out["stocks"]) as base:
            for _ in range(2):
                op = Op("dashboard.page")
                h.tracer.trace_id = f"date{i}:dashboard.page{len(ops)}"
                group = h.set_group(op.name)
                first = h.store.next_job_id()
                t0 = time.perf_counter()
                try:
                    with h.tracer.span("op"):
                        with urllib.request.urlopen(base + url, timeout=120) as resp:
                            body = resp.read().decode()
                    op.wall = time.perf_counter() - t0
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
                    op.wall, body = time.perf_counter() - t0, None
                end = h.store.next_job_id()
                op.jobs = end - first
                if traced:
                    op.counters = h.store.window(first, end, group)
                ops.append(op)
                bodies.append(body)
        for op, body in zip(ops, bodies):
            if op.ok:
                _check(op, lambda: self._check_page(body, bodies[0], stocks, date))
        return ops

    def _check_page(self, body: str, first_body: str, stocks: str, date: str) -> list[str]:
        """The page lists the oracle composition of ``date`` in order
        and shows its index value in the summary table; a repeated
        request returns the same bytes."""
        if body != first_body:
            return ["repeated page request returned different bytes"]
        con = duckdb.connect()
        try:
            row = con.execute(
                f"SELECT composition, index_value FROM ({etl_index_oracle(stocks)}) "
                "WHERE date = ?",
                [date],
            ).fetchone()
        finally:
            con.close()
        if row is None:
            return [f"oracle has no index row for {date}"]
        names = row[0].split(",")
        problems = []
        comp = "".join(f"<tr><td>{t}</td></tr>" for t in names)
        if f"Stock ({date}, {len(names)} constituents)</th></tr>{comp}</table>" not in body:
            problems.append(f"page composition for {date} differs from the oracle")
        if f"<tr><td>{date}</td><td>{row[1]:.4f}</td>" not in body:
            problems.append(f"page summary row for {date} differs from the oracle")
        return problems

    def _check(self, data_dir: str, export_dir: str, source, n_dates: int) -> list[str]:
        """The call's dates in stocks hold one row per ticker, with the
        prices and split-adjusted market caps derived from the source's
        paths; the written index equals a DuckDB recomputation over the
        written stocks; the table holds exactly one more date than
        before; and both exports parse."""
        stocks = os.path.join(data_dir, "stocks")
        con = duckdb.connect()
        problems = compare(
            self.h.spark.read.parquet(os.path.join(data_dir, "index_data")),
            con,
            etl_index_oracle(stocks),
            "etl_index",
        )
        scan = stocks_scan(stocks)
        got = con.execute(f"SELECT count(DISTINCT date) FROM {scan}").fetchone()[0]
        if got != n_dates:
            problems.append(f"stocks holds {got} dates, expected {n_dates}")
        written = con.execute(
            f"SELECT ticker, date, share_price, market_cap FROM {scan} "
            "WHERE list_contains(?, date) ORDER BY ticker, date",
            [source.days],
        ).df()
        expected = source.expected_stocks(self.tickers)
        if len(written) != len(expected):
            problems.append(
                f"stocks holds {len(written)} rows for the call's {len(source.days)} "
                f"dates, expected {len(expected)}"
            )
        elif not (
            (written["ticker"].to_numpy() == expected["ticker"].to_numpy()).all()
            and (written["date"].to_numpy() == expected["date"].to_numpy()).all()
            and (written["share_price"].to_numpy() == expected["share_price"].to_numpy()).all()
            and (written["market_cap"].to_numpy() == expected["market_cap"].to_numpy()).all()
        ):
            problems.append("stocks prices or market caps differ from the source")
        xlsx = os.path.join(export_dir, "index_data.xlsx")
        pdf = os.path.join(export_dir, "index_data.pdf")
        try:
            with zipfile.ZipFile(xlsx) as z:
                if "xl/workbook.xml" not in z.namelist():
                    problems.append("xlsx export has no workbook")
        except (OSError, zipfile.BadZipFile) as e:
            problems.append(f"xlsx export unreadable: {e}")
        try:
            with open(pdf, "rb") as fh:
                body = fh.read()
            if not (body.startswith(b"%PDF-") and b"%%EOF" in body[-64:]):
                problems.append("pdf export is not a complete PDF")
        except OSError as e:
            problems.append(f"pdf export unreadable: {e}")
        con.close()
        return problems


# ----------------------------------------------------------------------
# Per-layer metrics of a traced pass
# ----------------------------------------------------------------------


def layer_metrics(p: Pass, spans, nproc: int) -> dict[str, float]:
    """The named per-layer metrics of one traced pass. Layers the
    workload does not call read 0."""
    total = total_times(spans)
    zero = dict.fromkeys(COUNTER_KEYS, 0)
    spark_c, build_c = dict(zero), dict(zero)
    for o in p.ops:
        spark_c = add_counters(spark_c, o.counters or zero)
        build_c = add_counters(build_c, o.build_counters or zero)
    by_layer: dict[str, dict] = {}
    for o in p.ops:
        for layer, c in o.parts.get("layers", []):
            by_layer[layer] = add_counters(by_layer.get(layer, zero), c)
    increments = [o for o in p.ops if o.name == "etl.increment"]
    written = sum(
        c["output_bytes"]
        for o in increments
        for layer, c in o.parts.get("layers", [])
        if layer.startswith("upsert.")
    )
    new = sum(o.parts.get("new_bytes", 0) for o in increments)
    pages = [o for o in p.ops if o.name == "dashboard.page"]
    # A page request that ran no Spark job was served from the cache.
    misses = [o for o in pages if o.jobs]
    page_collects = sum(
        1 for s in spans if s.name == "presentation.collect" and "dashboard.page" in s.trace
    )
    m = {
        "registry.build_s": total.get("registry.build", 0.0),
        "registry.build_jobs": build_c["jobs"],
        "spark.plan_s": total.get("spark.plan", 0.0),
        "spark.exec_s": total.get("spark.exec", 0.0),
    }
    for k in COUNTER_KEYS:
        m[f"spark.{k}"] = spark_c[k]
    m["spark.core_busy_ratio"] = spark_c["executor_run_s"] / (p.wall * nproc)
    m["spark.cached_bytes"] = p.cached_bytes
    m["presentation.collects_per_request"] = page_collects / len(pages) if pages else 0
    m["dashboard_server.cache_hit_ratio"] = (len(pages) - len(misses)) / len(pages) if pages else 0
    m["dashboard_server.jobs_per_miss"] = (
        sum(o.jobs for o in misses) / len(misses) if misses else 0
    )
    m["dashboard_server.input_bytes_per_miss"] = (
        sum((o.counters or zero)["input_bytes"] for o in misses) / len(misses) if misses else 0
    )
    m["dashboard_server.composition_asof_s"] = total.get("dashboard_server.composition_asof", 0.0)
    m["charts.index_chart_spec_s"] = total.get("charts.index_chart_spec", 0.0)
    m["charts.market_cap_pie_spec_s"] = total.get("charts.market_cap_pie_spec", 0.0)
    m["report_html.summary_table_s"] = total.get("report_html.summary_table", 0.0)
    m["export.xlsx_s"] = total.get("export.xlsx", 0.0)
    m["export.pdf_s"] = total.get("export.pdf", 0.0)
    m["ingest.executor_run_s"] = by_layer.get("upsert.stocks", zero)["executor_run_s"]
    m["upsert.stocks_s"] = total.get("upsert.stocks", 0.0)
    m["upsert.index_s"] = total.get("upsert.index", 0.0)
    m["index.compute_index_s"] = total.get("index.compute_index", 0.0)
    m["upsert.write_amp"] = write_amp(written, new) if new else 0
    m["_self_s"] = self_times(spans)
    return m
