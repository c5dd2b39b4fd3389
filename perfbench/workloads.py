"""The workloads.  Each builds its seeded inputs in ``make_inputs``,
which needs no Spark session and so runs while the JVM starts, then
warms up and checks its oracle in ``setup``; ``op_set`` then runs one
timed unit of work and checks its output:

- ``pages_pipeline``: one ``plans.pipeline.run_pipeline`` job (every
  stage after the pages stage) into a fresh manifest root;
- ``operator_queries``: one pass over the 18 operator-tier queries in
  seeded shuffled order, each executed to completion on its own.

``op_set`` returns one (latency_s, ok, items) triple per operation.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _rm(path) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# pages_pipeline

PIPE_PAGES = 250_000
PIPE_PARTITIONS = 32  # run_pipeline's default


def _stage_scope(stage: str) -> str | None:
    if stage == "pages":
        return None
    return "pyramid" if stage.startswith("pyramid_") else stage


# sources.pages.PAGES_SCHEMA as an Arrow schema
PAGES_ARROW = pa.schema([
    pa.field("page_id", pa.int64(), nullable=False),
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string(), nullable=False),
    pa.field("lang", pa.string()),
])


def write_pages(path: str, start: int, n: int) -> None:
    """Pages [start, start+n) as PIPE_PARTITIONS parquet files, the
    layout of ``run_pipeline``'s own pages stage.  Written from the
    driver with pyarrow: a Spark job takes about twice as long here,
    and set-up time counts against every run."""
    from gdal_spark.sources.pages import synth_pages_pdf

    os.makedirs(path)
    per = -(-n // PIPE_PARTITIONS)
    for k, s in enumerate(range(0, n, per)):
        pdf = synth_pages_pdf(start + s, min(per, n - s))
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
        pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_ARROW, preserve_index=False),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def _tile_sum(path: str) -> int:
    t = pq.read_table(path, columns=["data", "dtype"]).to_pydict()
    return int(sum(np.frombuffer(d, dtype=np.dtype(k)).sum() for d, k in zip(t["data"], t["dtype"])))


class PagesPipeline:
    name = "pages_pipeline"
    cores = 4
    min_sets = 2

    def make_inputs(self, work: Path, seed: int) -> tuple[str, float, float]:
        """The seeded pages table; needs no Spark session, so it runs
        while the JVM starts.  Returns the (name, start, end) span."""
        from gdal_spark.plans import manifest as M

        t0 = time.time()
        self.work = work
        self.n = PIPE_PAGES
        self.pages_path = str(work / "pages")
        write_pages(self.pages_path, (seed % 1_000_000) * self.n, self.n)
        self.pages_fp = M.fingerprint(["pages", self.n, PIPE_PARTITIONS])
        return "sources.pages.synth_pages_pdf", t0, time.time()

    def setup(self, spark, tracer) -> None:
        from gdal_spark.kernels import wkb as W
        from gdal_spark.kernels.pip import points_in_polygon
        from gdal_spark.plans import manifest as M
        from gdal_spark.plans.pipeline import metro_zones

        self.spark, self.tracer = spark, tracer

        if tracer.enabled:
            orig = M.Manifest.run_stage

            def run_stage(mf, spark_, stage, *a, **kw):
                with tracer.span(f"plans.manifest.run_stage:{stage}", scope=_stage_scope(stage)):
                    return orig(mf, spark_, stage, *a, **kw)

            M.Manifest.run_stage = run_stage

        # warm-up job; its geocoded points feed the zone-join oracle
        res, _ = self._job("warmup")
        geo = pq.read_table(res["geocode"].path, columns=["lon", "lat"])
        lon = geo.column("lon").to_numpy()
        lat = geo.column("lat").to_numpy()
        with tracer.span("kernels.pip.points_in_polygon"):
            self.oracle_pairs = sum(
                int(points_in_polygon(lon, lat, rings, include_boundary=True).sum())
                for _, blob in metro_zones() for rings in W.polygon_rings(blob))
        self.setup_ok = self._check(res)
        _rm(self.work / "warmup")

    def _job(self, tag: str):
        from gdal_spark.plans.manifest import Manifest, StageResult
        from gdal_spark.plans.pipeline import run_pipeline

        root = self.work / tag
        _rm(root)
        # the pages stage is set-up: its manifest row points at the
        # seeded pages table, so run_pipeline resumes it
        Manifest(str(root)).record(
            StageResult("pages", self.pages_fp, self.pages_path, self.n, 0, PIPE_PARTITIONS, 0.0, False), [])
        t0 = time.perf_counter()
        with self.tracer.span("plans.pipeline.run_pipeline"):
            res = run_pipeline(self.spark, self.n, str(root))
        return res, time.perf_counter() - t0

    def _check(self, res) -> bool:
        if not res["pages"].resumed or any(r.resumed for k, r in res.items() if k != "pages"):
            return False
        if res["zone_join"].rows != self.oracle_pairs:
            return False
        levels = ["tiles"] + sorted((k for k in res if k.startswith("pyramid_")), reverse=True)
        return all(_tile_sum(res[k].path) == self.n for k in levels)

    def op_set(self, rep: int):
        tag = f"job{rep}_{time.monotonic_ns()}"
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op_set", rep=rep):
                res, wall = self._job(tag)
            ok = self._check(res)
        except Exception:  # a failed job counts as failed; the run goes on
            traceback.print_exc()
            wall, ok = time.perf_counter() - t0, False
        finally:
            _rm(self.work / tag)
        return [(wall, ok, self.n)]


# ---------------------------------------------------------------------------
# operator_queries

QUERY_NAMES = ("q11", "q12", "q13", "q16", "q25", "q26", "q27", "q39", "q41",
               "q44", "q46", "q51", "q58", "q59", "q67", "q87", "q100", "q124")
N_DOCS = 5_000  # the sf0.1 fixture's document count
ORACLE_THREADS = 3


def write_query_fixture(path: Path, seed: int) -> None:
    """The four tables the 18 queries read, with the sf0.1 fixture's
    schema and key ranges; the seed picks the document-id range."""
    from gdal_spark.sources.docs import synth_documents_pdf

    path.mkdir(parents=True, exist_ok=True)
    synth_documents_pdf((seed % 1_000_000) * N_DOCS, N_DOCS).to_parquet(
        path / "documents.parquet", index=False)
    rng = np.random.default_rng(seed)
    k = np.arange(25, dtype=np.int32)
    pd.DataFrame({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                  "n_regionkey": (k % 5).astype(np.int32)}).to_parquet(path / "nation.parquet", index=False)
    k = np.arange(1000, dtype=np.int64)
    pd.DataFrame({"s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
                  "s_nationkey": rng.integers(0, 25, k.size, dtype=np.int32),
                  "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2)}).to_parquet(
        path / "supplier.parquet", index=False)
    k = np.arange(20_000, dtype=np.int64)
    pd.DataFrame({"p_partkey": k, "p_name": [f"part {i}" for i in k],
                  "p_brand": [f"Brand#{i % 25}" for i in k], "p_type": "STANDARD",
                  "p_size": rng.integers(1, 51, k.size, dtype=np.int32),
                  "p_retailprice": 900.0 + (k % 1000) / 10.0}).to_parquet(path / "part.parquet", index=False)


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-insensitive equality after rounding to 6 places."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True).round(6)
    b = b[cols].sort_values(cols).reset_index(drop=True).round(6)
    try:
        return a.equals(b.astype(a.dtypes.to_dict()))
    except (TypeError, ValueError):
        return False


def run_to_completion(df) -> int:
    """Executes every node of the plan, Python UDF columns included
    (``DataFrame.count()`` would let Catalyst prune them)."""
    return df._jdf.queryExecution().toRdd().count()


class OperatorQueries:
    name = "operator_queries"
    # Two task slots: these small queries run only about 5% slower than
    # on local[4], and on a 4-vCPU host local[4] plus the driver, the
    # JIT and the Python workers oversubscribe the CPUs, which made the
    # run-to-run spread about four times as wide (see README.md).
    cores = 2
    min_sets = 2

    def make_inputs(self, work: Path, seed: int) -> tuple[str, float, float]:
        """The seeded fixture and every query's DuckDB answer; needs no
        Spark session, so it runs while the JVM starts.  Returns the
        (name, start, end) span."""
        import duckdb

        import __spark_entry__ as entry

        t0 = time.time()
        self.sf = work / "sf"
        write_query_fixture(self.sf, seed)
        full = {n.split("_")[0]: n for n in entry.queries()}
        self.queries = {q: entry.queries()[full[q]] for q in QUERY_NAMES}
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "nation", "supplier", "part"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        self.want = {q: con.execute(oracles[full[q]]).df() for q in QUERY_NAMES}
        con.close()
        self.expected_rows = {q: len(w) for q, w in self.want.items()}
        self.rng = random.Random(seed)
        return "sources.docs.synth_documents_pdf", t0, time.time()

    def setup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

        # warm-up pass = oracle pass: every query's rows against DuckDB's,
        # a few queries at a time (it is set-up, not measured per query)
        def check(q):
            try:
                return same_rows(self.queries[q](spark, str(self.sf)).toPandas(), self.want[q])
            except Exception:  # a query that raises fails its check
                traceback.print_exc()
                return False

        with tracer.span("registry.oracle_pass"), ThreadPoolExecutor(ORACLE_THREADS) as pool:
            self.oracle_ok = dict(zip(QUERY_NAMES, pool.map(check, QUERY_NAMES)))
        self.setup_ok = all(self.oracle_ok.values())

    def op_set(self, rep: int):
        order = list(QUERY_NAMES)
        self.rng.shuffle(order)
        out = []
        with self.tracer.span("op_set", scope="queries", rep=rep):
            for q in order:
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"registry.{q}"):
                        df = self.queries[q](self.spark, str(self.sf))
                        n = run_to_completion(df)
                        self.tracer.plan(df._jdf.queryExecution())
                    ok = self.oracle_ok[q] and n == self.expected_rows[q]
                except Exception:  # a failed query counts as failed; the pass goes on
                    traceback.print_exc()
                    ok = False
                out.append((time.perf_counter() - t0, ok, 1))
        return out


WORKLOADS = {w.name: w for w in (PagesPipeline, OperatorQueries)}
