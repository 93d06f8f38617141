"""The benchmark's workloads.

Each workload names the tables it generates and their scale, what one
pass does, which engine functions the traced run wraps, and how outputs
are checked against an independent oracle outside the timed region.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import importlib.util
import io
import os
import time

import duckdb
import pandas as pd

ENGINE = "geospatial_data_pipeline_spark_sedona_on_aws_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_rules():
    """The comparison rules of scripts/check_oracles.py (normalize +
    order-insensitive value compare), loaded from the repo."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duckdb(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


class Workload:
    """One workload: its inputs, one pass, its tracing hooks, its checks."""

    name = ""
    tables: tuple[str, ...] = ()
    sf = 0.0
    ops: tuple[str, ...] = ()
    registers_udfs = False

    def __init__(self, ctx):
        # ctx: run directories, the tracer and the job-group setter
        self.ctx = ctx

    def input_rows(self, rows: dict) -> int:
        return sum(rows[t] for t in self.tables)

    def run_pass(self, spark, i: int) -> dict:
        """One closed-loop pass; returns {op: (build_s, exec_s)}."""
        raise NotImplementedError

    def install_tracing(self, tracer) -> None:
        pass

    def check(self, spark) -> list[tuple[str, list[str]]]:
        """[(what, problems)] — an empty problem list is a pass. Runs once,
        right after the cold pass."""
        raise NotImplementedError


class Refresh(Workload):
    """The flagship CLI: extract, dissolve, CSV sink, grain check,
    saveAsTable, view swap and retention — one `__main__.main` call."""

    name = "refresh"
    tables = ("lineitem", "supplier")
    sf = 0.1
    ops = ("refresh",)

    def run_pass(self, spark, i: int) -> dict:
        main = importlib.import_module(f"{ENGINE}.__main__").main
        # a new date every pass: the view swap and the old-snapshot drop
        # fire on every pass, from the same state on every commit
        date = (datetime.date(2030, 1, 1) + datetime.timedelta(days=i)).isoformat()
        self.ctx.set_group(i, "refresh", "exec")
        build0 = self.ctx.tracer.total("plans.build")
        t0 = time.monotonic()
        with contextlib.redirect_stdout(io.StringIO()):
            rc = main([self.ctx.data_dir, "--date", date,
                       "--csv", self.ctx.csv_dir])
        wall = time.monotonic() - t0
        if rc != 0:
            raise RuntimeError(f"refresh exited {rc}")
        build = self.ctx.tracer.total("plans.build") - build0
        return {"refresh": (build, wall - build)}

    def install_tracing(self, tracer) -> None:
        catalog = importlib.import_module(f"{ENGINE}.plans.catalog")
        pipeline = importlib.import_module(f"{ENGINE}.plans.pipeline")
        sio = importlib.import_module(f"{ENGINE}.sources.io")
        ctx = self.ctx
        tracer.wrap(pipeline, "crop_analytics", "plans.build",
                    before=lambda: ctx.set_group(ctx.pass_no, "refresh", "build"),
                    after=lambda: ctx.set_group(ctx.pass_no, "refresh", "exec"))
        tracer.wrap(sio, "write_csv_sink", "sources.csv")
        tracer.wrap(catalog, "publish_snapshot", "catalog.publish")
        tracer.wrap(catalog, "assert_unique_grain", "catalog.grain_check")
        tracer.wrap(catalog, "drop_old_snapshots", "catalog.retention")

    def check(self, spark):
        rules = _oracle_rules()
        registry = importlib.import_module(f"{ENGINE}.plans.registry")
        con = _duckdb(self.ctx.data_dir, self.tables)
        oracle = con.execute(registry.ORACLES["crop_analytics"]).df()
        con.close()
        view = spark.table("vw_crop_analytics").toPandas()
        parts = sorted(glob.glob(os.path.join(self.ctx.csv_dir, "part-*")))
        csv = pd.concat(
            [pd.read_csv(p, header=None,
                         names=["region_id", "season_id", "land_type_id", "area"])
             for p in parts if os.path.getsize(p)],
            ignore_index=True)
        return [("vw_crop_analytics", rules.compare("crop_analytics", view, oracle)),
                ("csv_sink", rules.compare("crop_analytics", csv, oracle))]


class GeomInt(Workload):
    """The integer-coordinate ST_ queries of the registry, forced through
    the noop sink (every output column evaluated, nothing collected)."""

    name = "geom_int"
    tables = ("lineitem", "supplier", "orders")
    sf = 0.01
    ops = ("st_buffer_round", "st_transform_utm", "st_point_line_ops")
    registers_udfs = True

    def run_pass(self, spark, i: int) -> dict:
        registry = importlib.import_module(f"{ENGINE}.plans.registry")
        tr = self.ctx.tracer
        out = {}
        for q in self.ops:
            self.ctx.set_group(i, q, "build")
            t0 = time.monotonic()
            with tr.span("plans.build", op=q):
                df = registry.QUERIES[q](spark, self.ctx.data_dir)
            t1 = time.monotonic()
            self.ctx.set_group(i, q, "exec")
            with tr.span("op.exec", op=q):
                df.write.format("noop").mode("overwrite").save()
            out[q] = (t1 - t0, time.monotonic() - t1)
        return out

    def check(self, spark):
        rules = _oracle_rules()
        registry = importlib.import_module(f"{ENGINE}.plans.registry")
        con = _duckdb(self.ctx.data_dir, self.tables)
        res = []
        for q in self.ops:
            sdf = registry.QUERIES[q](spark, self.ctx.data_dir).toPandas()
            res.append((q, rules.compare(q, sdf, con.execute(registry.ORACLES[q]).df())))
        con.close()
        return res


WORKLOADS = {w.name: w for w in (Refresh, GeomInt)}
ALL_OPS = tuple(op for w in WORKLOADS.values() for op in w.ops)
