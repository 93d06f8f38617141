#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 6 --trace 0

One client in a closed loop: one process runs the engine on
local[<cores>], each pass starting after the previous one ended. Inputs
are generated from --seed into a per-run directory; the warehouse, CSV
sink, SPARK_LOCAL_DIRS and temp files live there too and are removed at
the end, so every run starts from the same state.

--trace 0 prints every end-to-end metric of BENCHMARK.json. --trace 1
alternates untraced and traced passes (spans around the engine's layers,
Spark status-store reads, /proc samples) for twice --seconds, and prints
every per-layer metric, including the tracing overhead. The spans and
per-pass figures are written to perfbench/_traces/.

Outputs are checked against independent oracles once per run, right
after set-up and outside the timed region. The last stdout line is the
JSON result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import kernels  # noqa: E402
import probes  # noqa: E402
from workloads import ALL_OPS, WORKLOADS  # noqa: E402

T_PROC = probes.process_start_monotonic()
ENGINE = "geospatial_data_pipeline_spark_sedona_on_aws_spark"


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _identity(batches):
    yield from batches


class Context:
    """What a workload needs from the harness: its directories, the
    tracer, and job groups that tie Spark jobs to (pass, op, phase)."""

    def __init__(self, dirs: dict, tracer: probes.Tracer):
        self.data_dir = dirs["data"]
        self.csv_dir = dirs["csv"]
        self.tracer = tracer
        self.sc = None
        self.pass_no = 0
        self.groups: dict[int, set[str]] = {}

    def set_group(self, i: int, op: str, phase: str) -> None:
        if not self.tracer.enabled:
            return
        name = f"p{i}:{op}:{phase}"
        self.groups.setdefault(i, set()).add(name)
        self.sc.setJobGroup(name, f"{op} {phase}", False)


def _isolate(run_dir: str) -> dict:
    dirs = {k: os.path.join(run_dir, k)
            for k in ("data", "csv", "local", "tmp", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={dirs['tmp']}",
        "-XX:+PerfDisableSharedMem")))
    # spark-warehouse/ and derby.log land in the working directory
    os.chdir(dirs["cwd"])
    return dirs


def _stop_spark(spark, tree: probes.ProcTree) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    started = {p["pid"] for p in tree.descendants()}
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the Python daemon exits with the JVM; make sure nothing outlives the
    # run, including processes re-parented when the JVM went away
    def alive() -> set[int]:
        left = {p["pid"] for p in tree.descendants()}
        for pid in started:
            st = probes.read_stat(pid)
            if st is not None and st["state"] != "Z":  # zombies have ended
                left.add(pid)
        return left

    deadline = time.monotonic() + 30
    while (left := alive()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _measure(wl, spark, ctx, tree, seconds, first_pass) -> list[dict]:
    """Closed loop: start passes until `seconds` have elapsed (at least
    one pass)."""
    recs = []
    t_end = time.monotonic() + seconds
    i = first_pass
    while not recs or time.monotonic() < t_end:
        ctx.pass_no = i
        tree.reset_peaks()
        s0 = tree.snapshot()
        rel0 = ctx.tracer.now()
        t0 = time.monotonic()
        rec = {"i": i, "ok": True}
        try:
            with ctx.tracer.span("pass", i=i):
                rec["ops"] = wl.run_pass(spark, i)
        except Exception as e:  # a failed pass counts against ok_rate
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
        rec["wall"] = time.monotonic() - t0
        rec["t"] = (rel0, ctx.tracer.now())
        s1 = tree.snapshot()
        pk = tree.peaks()
        rec.update(cpu=s1["cpu"] - s0["cpu"], py_user=s1["py_user"] - s0["py_user"],
                   py_sys=s1["py_sys"] - s0["py_sys"],
                   py_faults=s1["py_faults"] - s0["py_faults"],
                   peak_jvm_rss=pk["jvm_rss"], peak_py_rss=pk["py_rss"],
                   workers=pk["workers"])
        log(f"pass {i}: {rec['wall']:.3f} s"
            + ("" if rec["ok"] else f"  FAILED {rec['error']}"))
        recs.append(rec)
        i += 1
    return recs


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _end_to_end(recs, setup_s, input_rows, attempted, failed) -> dict:
    ok = [r for r in recs if r["ok"]]
    pass_s = _med(r["wall"] for r in ok)
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s if pass_s else 0.0,
        "cpu_s": _med(r["cpu"] for r in ok),
        "py_peak_rss_mb": max((r["peak_py_rss"] for r in recs), default=0) / 1e6,
        "ok_rate": 1.0 - failed / attempted,
    }


def _per_layer(ctx, traced, untraced, status, cores, source_rows,
               setup: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics: medians over the traced passes."""
    tr = ctx.tracer
    per_pass = []
    for r in (r for r in traced if r["ok"]):
        groups = ctx.groups.get(r["i"], set())
        m = status.group_metrics(groups)
        build = status.group_metrics({g for g in groups if g.endswith(":build")})
        lo, hi = r["t"]
        span = lambda n: tr.total(n, lo, hi)  # noqa: E731
        row = {
            "plans.build_s": span("plans.build"),
            "plans.build_jobs": build["jobs"],
            "sources.csv_s": span("sources.csv"),
            "catalog.publish_s": span("catalog.publish"),
            "catalog.grain_check_s": span("catalog.grain_check"),
            "catalog.retention_s": span("catalog.retention"),
            "sources.input_rows": m["input_rows"],
            "sources.input_bytes": m["input_bytes"],
            "sources.output_bytes": m["output_bytes"],
            "sources.scan_ratio": m["input_rows"] / source_rows,
            "spark.busy": m["task_s"] / (r["wall"] * cores),
            "worker.cpu_user_s": r["py_user"],
            "worker.cpu_sys_s": r["py_sys"],
            "worker.minor_faults": r["py_faults"],
            "worker.forks": r["workers"],
            "worker.peak_rss_mb": r["peak_py_rss"] / 1e6,
            "jvm.peak_rss_mb": r["peak_jvm_rss"] / 1e6,
        }
        for k in ("task_s", "cpu_s", "gc_s", "tasks", "failed_tasks",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            row[f"spark.{k}"] = m[k]
        for k in ("python_nodes", "rows_to_python", "bytes_to_python",
                  "bytes_from_python", "python_run_s", "worker_boot_s",
                  "worker_init_s"):
            row[f"arrow.{k}"] = m[k]
        for op in ALL_OPS:
            b, e = r["ops"].get(op, (0.0, 0.0))
            row[f"op.{op}.build_s"], row[f"op.{op}.exec_s"] = b, e
        per_pass.append(row)
    out = {k: _med(p[k] for p in per_pass) for k in (per_pass[0] if per_pass else {})}
    out.update(setup)
    pass_traced = _med(r["wall"] for r in traced if r["ok"])
    pass_plain = _med(r["wall"] for r in untraced if r["ok"])
    out["trace.overhead_s"] = pass_traced - pass_plain
    return out, per_pass


def _selftest(spark, status) -> list[str]:
    """The metric readers on tiny queries with known answers."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    problems = []
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # fixed task counts
    try:
        sc.setJobGroup("selftest:shuffle", "selftest", False)
        spark.range(0, 100_000, 1, 4).repartition(8) \
            .groupBy((F.col("id") % 10).alias("k")).count().collect()
        m = status.group_metrics({"selftest:shuffle"})
        want = 4 + 8 + int(spark.conf.get("spark.sql.shuffle.partitions"))
        if m["tasks"] != want:
            problems.append(f"shuffle query: {m['tasks']} tasks, expected {want}")
        if not (m["shuffle_write_bytes"] > 0 and m["shuffle_read_bytes"] > 0):
            problems.append("shuffle query: no shuffle bytes reported")
        sc.setJobGroup("selftest:python", "selftest", False)
        spark.range(0, 50_000, 1, 4).mapInPandas(_identity, "id long") \
            .write.format("noop").mode("overwrite").save()
        m = status.group_metrics({"selftest:python"})
        if not (m["python_nodes"] == 1 and m["rows_to_python"] == 50_000
                and m["rows_from_python"] == 50_000):
            problems.append(
                f"identity mapInPandas: {m['python_nodes']} Python nodes, "
                f"{m['rows_to_python']:.0f} rows in, "
                f"{m['rows_from_python']:.0f} rows out, expected 1/50000/50000")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        sc.setLocalProperty("spark.jobGroup.id", None)
    return problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: engine package {ENGINE} not found in {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    steal0, ticks0 = probes.host_cpu_ticks()
    run_dir = os.path.join(HERE, "_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    tracer = probes.Tracer(enabled=bool(args.trace))
    tree = probes.ProcTree()
    spark = None
    try:
        dirs = _isolate(run_dir)
        ctx = Context(dirs, tracer)
        wl = WORKLOADS[args.workload](ctx)

        t0 = time.monotonic()
        rows = gen.generate(dirs["data"], args.seed, wl.sf, wl.tables)
        gen_s = time.monotonic() - t0
        input_rows = wl.input_rows(rows)
        log(json.dumps({"workload": wl.name, "seed": args.seed, "sf": wl.sf,
                        "tables": rows, "input_rows": input_rows,
                        "seconds": args.seconds, "trace": args.trace}))
        tree.start()

        # ---- set-up: session, UDF registration, first (cold) pass
        session = importlib.import_module(f"{ENGINE}.session")
        with tracer.span("session.start"):
            t0 = time.monotonic()
            spark = session.get_spark()
            start_s = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.sc = spark.sparkContext
        register_s = 0.0
        if wl.registers_udfs:
            spatial = importlib.import_module(f"{ENGINE}.functions.spatial")
            with tracer.span("session.register"):
                t0 = time.monotonic()
                spatial.register_spatial_functions(spark)
                register_s = time.monotonic() - t0
        cold = _measure(wl, spark, ctx, tree, 0, 0)
        if not cold[0]["ok"]:
            raise RuntimeError(f"cold pass failed: {cold[0]['error']}")
        setup_s = time.monotonic() - T_PROC - gen_s
        log(f"setup {setup_s:.3f} s (session {start_s:.3f} s, "
            f"registration {register_s:.3f} s, cold pass {cold[0]['wall']:.3f} s)")
        tracer.enabled = False

        # ---- output checks, outside the timed region. They run before the
        # steady window, so their executions double as warm-up.
        try:
            checks = wl.check(spark)
        except Exception as e:
            checks = [("checks", [f"{type(e).__name__}: {str(e)[:300]}"])]
        attempted, failed = 1, 0
        for what, problems in checks:
            attempted += 1
            failed += bool(problems)
            log(f"check {what}: " + ("ok" if not problems else "; ".join(problems)))

        # ---- steady passes; --trace 1 alternates untraced and traced
        # passes, so that both sample the same point of the warm-up curve
        untraced, traced = [], []
        if not args.trace:
            untraced = _measure(wl, spark, ctx, tree, args.seconds, 1)
        t_end = time.monotonic() + 2 * args.seconds
        while args.trace and (not traced or time.monotonic() < t_end):
            i = 1 + len(untraced) + len(traced)
            untraced += _measure(wl, spark, ctx, tree, 0, i)
            tracer.enabled = True
            wl.install_tracing(tracer)
            traced += _measure(wl, spark, ctx, tree, 0, i + 1)
            tracer.unwrap_all()
            tracer.enabled = False
            ctx.sc.setLocalProperty("spark.jobGroup.id", None)
        for r in untraced + traced:
            attempted += 1
            failed += not r["ok"]

        if args.trace:
            status = probes.StatusStore(spark.sparkContext)
            cores = spark.sparkContext.defaultParallelism
            batch = int(spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
            layer, per_pass = _per_layer(
                ctx, traced, untraced, status, cores, input_rows,
                {"session.start_s": start_s, "session.register_s": register_s})
            layer.update(kernels.bench(args.seed, batch))
            problems = _selftest(spark, status)
            attempted += 1
            failed += bool(problems)
            log("selftest: " + ("ok" if not problems else "; ".join(problems)))
        e2e = _end_to_end(untraced, setup_s, input_rows, attempted, failed)
        log(f"pass_s is the median of {sum(r['ok'] for r in untraced)} "
            f"untraced steady passes")
        metrics_spec, values = spec["end_to_end"], e2e
        if args.trace:
            os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
            with open(os.path.join(HERE, "_traces",
                                   f"{wl.name}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": tracer.spans, "passes": traced,
                           "untraced": untraced, "per_pass": per_pass,
                           "end_to_end": e2e, "per_layer": layer}, f,
                          indent=1, default=str)
            for k, v in e2e.items():
                log(f"untraced {k} = {v:.6g}")
            metrics_spec, values = spec["per_layer"], layer
    finally:
        if spark is not None:
            _stop_spark(spark, tree)
        tree.stop()
        os.chdir(HERE)
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1, ticks1 = probes.host_cpu_ticks()
    log(f"host steal: {100 * (steal1 - steal0) / max(ticks1 - ticks0, 1):.1f} % "
        f"of this VM's CPU time during the run")
    for m in metrics_spec:
        print(f"{m['name']:<34} {values[m['name']]:>16.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics_spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
