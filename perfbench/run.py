#!/usr/bin/env python3
"""Repository benchmark: the Landsat chain and the v9 curation funnel.

Usage (from the repository root):

    python3 perfbench/run.py --workload landsat_chain --seed 1 --seconds 1 --trace 0

One invocation is one fresh process: it starts a warm Spark session on
``local[<cpus>]`` with the package's own session factory, runs one pass
of the workload (the first pass in a fresh process — what a one-shot
batch job pays), checks the outputs, and prints one JSON line last on
stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs it with Spark's event log on and reports the per-layer metrics listed in
``BENCHMARK.json`` (spans of the other workload read 0), plus
``trace.overhead_s``: traced ``first_run_s`` minus the ``first_run_s`` of
an untraced run with the same seed, made in a child process just before.

The Landsat inputs are generated on first use into ``perfbench/.work``
and reused by content; the curation corpus is committed under
``perfbench/data``. ``--seed`` only drives the split and jitter seeds.
Metric names and units come from ``BENCHMARK.json`` at the repository
root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "landsat_tair_data_pipeline_spark"
WORKLOADS = ("landsat_chain", "curation_v9")


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def clear_stale_runs(work: str) -> None:
    for name in os.listdir(work):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    run directory; turn the event log on for a traced run."""
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    for d in (tmp, events, os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + events,
            }
        )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": tmp,
            # every run compiles the package the same way; no .pyc left
            # by an earlier run makes later runs faster than the first
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in confs.items())
            + " pyspark-shell",
        }
    )


def untraced_first_run_s(args) -> float:
    """first_run_s of an untraced run with the same seed, made in a child
    process just before the traced one."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if proc.returncode != 0 or not result.get("correct"):
        raise RuntimeError(f"untraced run for trace.overhead_s failed (exit {proc.returncode})")
    return result["metrics"]["first_run_s"]["value"]


def _warm_up(spark) -> None:
    """JVM job path plus one Python worker per core (Arrow batches)."""
    par = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000, 1, par).selectExpr("sum(id)").collect()

    def ident(batches):
        yield from batches

    spark.range(0, par, 1, par).mapInPandas(ident, "id long").collect()


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched (it otherwise
    outlives this process by a moment), and wait for it to exit; the
    JVM stops the Python workers itself."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True, help="split and jitter seed")
    ap.add_argument(
        "--seconds", type=float, default=1.0,
        help="minimum measured time; one pass always exceeds it, so a run is one pass",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0, help="1: per-layer metrics")
    args = ap.parse_args()
    sys.dont_write_bytecode = True

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isdir(
        os.path.join(ROOT, "tools")
    ):
        die(f"run from a checkout of the repository: {PACKAGE}/ and tools/ not found in {ROOT}")

    import inputs
    import tracing
    import workloads

    work = inputs.WORK
    os.makedirs(work, exist_ok=True)
    clear_stale_runs(work)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    out_dir = os.path.join(run_dir, "out")
    errors: list[str] = []
    metrics: dict = {}
    spans = tracing.Spans()
    try:
        t_excluded = time.perf_counter()
        if args.workload == "landsat_chain":
            data_dir, gen_s = inputs.ensure_fixtures()
            os.environ["SPARK_GRAFT_FIXTURE_DIR"] = data_dir
            if gen_s:
                print(f"perfbench: generated inputs in {gen_s:.1f} s -> {data_dir}", file=sys.stderr)
        else:
            data_dir = inputs.CORPUS_DIR
        untraced = untraced_first_run_s(args) if args.trace else None
        t_excluded = time.perf_counter() - t_excluded

        configure_env(run_dir, bool(args.trace))
        sys.path.insert(0, ROOT)
        if args.trace:
            tracing.install_callsites()
        with tracing.ProcessTree() as tree:
            with spans.span("session") as s:
                with spans.timed(s, "build_s"):
                    from landsat_tair_data_pipeline_spark.session import get_spark

                    spark = get_spark(f"perfbench-{args.workload}")
                    spark.sparkContext.setLogLevel("ERROR")
                spans.sc = spark.sparkContext
                spans.sc.setJobDescription("session")
                with spans.timed(s, "exec_s"):
                    _warm_up(spark)
            setup_s = tracing.process_age_s() - t_excluded

            workloads.reset_state(spark, out_dir)
            cpu0 = tree.cpu_s()
            t0 = time.perf_counter()
            try:
                if args.workload == "landsat_chain":
                    res = workloads.landsat_pass(spark, spans, data_dir, out_dir, args.seed)
                    items = res["n"]
                else:
                    res = workloads.curation_pass(spark, spans, data_dir)
                    items = inputs.corpus_docs()
            finally:
                first_run_s = time.perf_counter() - t0
                run_cpu_s = tree.cpu_s() - cpu0
                stop_jvm(spark)
        if args.workload == "landsat_chain":
            errors += workloads.landsat_checks(res, data_dir, out_dir)
        else:
            errors += workloads.curation_checks(res, data_dir)

        metrics = {
            "setup_s": setup_s,
            "first_run_s": first_run_s,
            "items_per_s": items / first_run_s,
            "peak_rss_mb": tree.peak_mb,
            "run_cpu_s": run_cpu_s,
        }
        if args.trace:
            by_span, by_site = tracing.attribute(os.path.join(run_dir, "events"), spans.rows)
            metrics = layer_metrics(spans.rows, by_span, by_site)
            metrics["trace.overhead_s"] = first_run_s - untraced
    except Exception as exc:  # the pass or its checks failed: report, not crash
        traceback.print_exc()
        errors.append(f"{type(exc).__name__}: {exc}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = spec()["per_layer" if args.trace else "end_to_end"]
    out = {
        "correct": not errors,
        "attempted": 1,
        "failed": 1 if errors else 0,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
            for m in names
            if m["name"] in metrics or args.trace
        },
    }
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for name, m in out["metrics"].items():
        if not args.trace or m["value"]:
            print(f"perfbench: {args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(out))
    return 1 if errors else 0


def layer_metrics(rows: list[dict], by_span: dict, by_site: dict) -> dict:
    """Flatten event-log sums and span records to ``<span>.<metric>``;
    a span's own rows_out (rows its action counted) wins over the rows
    its jobs wrote."""
    out = {
        f"{name}.{k}": v
        for source in (by_span, by_site)
        for name, vals in source.items()
        for k, v in vals.items()
    }
    for rec in rows:
        for k in ("build_s", "exec_s", "rows_out"):
            if k in rec:
                out[f"{rec['name']}.{k}"] = rec[k]
    return out


if __name__ == "__main__":
    sys.exit(main())
