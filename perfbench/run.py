"""Benchmark runner for the ODS->DWS stream and the ADS dashboard.

    python3 perfbench/run.py --workload dws_stream --seed 1 --seconds 20 \
        --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, sets Spark up once (session, ``load_all``, warm-up on the
workload's own plans) and reports that time as ``setup_s``, measures
for ``--seconds``, checks every output and prints one JSON line last:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  Exits 1 when an output check
failed, 2 when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import warnings
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import spans as tracing  # noqa: E402

WORKLOADS = ("dws_stream", "ads_dashboard")


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def make_workload(name: str, seed: int, seconds: float, work: Path, tracer):
    if name == "dws_stream":
        from wl_stream import DwsStreamWorkload as W
    else:
        from wl_ads import AdsDashboardWorkload as W
    return W(seed, seconds, work, tracer)


def setup(wl, tracer) -> tuple[object, float, float]:
    """Session start in a fresh JVM, ``load_all`` and the warm-up on the
    workload's own plans; returns the session and the seconds of the
    first two steps and of the warm-up."""
    from gmall_211027_flink_spark.registry import load_all
    from gmall_211027_flink_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark", "session", trace_id="setup"):
        spark = get_spark(f"perfbench-{wl.name}")
    with tracer.span("load_all", "session", trace_id="setup"):
        load_all()
    t1 = time.perf_counter()
    with tracer.span("warm_up", "session", trace_id="setup", spark=spark):
        wl.warm_up(spark)
    t2 = time.perf_counter()
    print(f"{wl.name}: set-up {t2 - t0:.2f} s, of which warm-up "
          f"{t2 - t1:.2f} s", file=sys.stderr)
    return spark, t1 - t0, t2 - t1


def measure(wl, spark) -> tuple[dict, float]:
    pid = common.jvm_pid()
    with common.RssSampler(pid) as rss:
        result = wl.run(spark)
    return result, rss.peak / 1e6


def end_to_end(result: dict, setup_s: float) -> dict:
    return {"setup_s": setup_s, "items_per_s": result["items_per_s"],
            "latency_p50_s": result["latency_p50_s"],
            "latency_tail_s": result["latency_tail_s"]}


def per_layer(tr, spark, base: dict, traced: dict, session: dict) -> dict:
    vals = dict(tr.values)
    for name, xs in tr.samples.items():
        vals[name] = common.median(xs)
    ex = tracing.executor_metrics(spark, tr.job_groups)
    vals.update({k: v for k, v in ex.items() if not k.endswith(
        ".input_bytes")})
    vals["catalog.input_bytes"] = (ex["plans.input_bytes"]
                                   + ex["operators.input_bytes"])
    cat = [s for s in tr.spans if s.layer == "catalog"]
    cat_ids = {s.span_id for s in cat}
    vals["catalog.scan_s"] = sum(s.end - s.start for s in cat
                                 if s.parent not in cat_ids)
    vals["catalog.tables_loaded"] = float(sum(
        1 for s in cat if s.name == "load_table"))
    for layer, secs in tr.self_times().items():
        vals[f"{layer}.self_s"] = secs
    vals.update(session)
    for key in ("items_per_s", "latency_p50_s"):
        vals[f"trace.overhead.{key}"] = traced[key] - base[key]
    vals["fail_ratio"] = traced["failed"] / traced["attempted"]
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import gmall_211027_flink_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    work = common.fresh_dir(ROOT / common.WORK_NAME / f"{args.workload}-"
                            f"{os.getpid()}")
    common.configure_env(work)
    warnings.simplefilter("ignore", FutureWarning)
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    try:
        return _run(args, spec, work)
    finally:
        common.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, work: Path) -> int:
    quiet = tracing.Tracer(False)
    wl = make_workload(args.workload, args.seed, args.seconds, work, quiet)
    # set-up jobs are attributed to the session layer as a whole
    setup_tr = tracing.Tracer(bool(args.trace))
    spark, start_s, warmup_s = setup(wl, setup_tr)
    setup_s = start_s + warmup_s
    base, peak_mb = measure(wl, spark)
    result = base
    metrics = end_to_end(base, setup_s)
    names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if args.trace:
        tr = setup_tr
        wl.tracer = tr
        undo = tracing.install_catalog_hooks(tr)
        try:
            if args.workload == "dws_stream":
                wl.warm_up(spark)
            traced, _ = measure(wl, spark)
        finally:
            undo()
        session = {"session.start_s": start_s,
                   "session.warmup_s": warmup_s,
                   "peak_rss_mb": peak_mb}
        vals = per_layer(tr, spark, base, traced, session)
        result = dict(traced)
        if args.workload == "dws_stream":
            local1 = single_thread_drain(wl)
            vals["streaming.items_per_s_local1"] = local1["items_per_s"]
            for key in ("attempted", "failed", "mismatched"):
                result[key] += local1[key]
        out_dir = ROOT / common.WORK_NAME / "spans"
        out_dir.mkdir(parents=True, exist_ok=True)
        tr.write(out_dir / f"{args.workload}-seed{args.seed}.jsonl")
        for key in ("attempted", "failed", "mismatched"):
            result[key] += base[key]
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: vals.get(n, 0.0) for n in names}
        print_table(metrics, names)
    print(f"{args.workload}: {result['samples']} latency samples",
          file=sys.stderr)
    out = {
        "correct": result["mismatched"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": float(metrics[n]), "unit": u}
                    for n, u in names.items()},
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def print_table(metrics: dict, units: dict) -> None:
    """The per-layer table, grouped by layer, on standard error."""
    rows = sorted(metrics, key=lambda n: (n.split(".")[0], n))
    width = max(map(len, rows))
    for n in rows:
        print(f"{n:<{width}}  {metrics[n]:>16.4f}  {units[n]}",
              file=sys.stderr)


def _active():
    from pyspark.sql import SparkSession
    return SparkSession.getActiveSession()


def single_thread_drain(wl) -> dict:
    """The phase B backlog drain with Spark at local[1]."""
    from gmall_211027_flink_spark.session import get_spark

    wl.teardown()
    _active().stop()
    wl.tracer = tracing.Tracer(False)
    common.set_master(1)
    try:
        spark = get_spark(f"perfbench-{wl.name}-local1")
        wl.use_backlog_only()
        wl.warm_up(spark)
        return wl.run(spark)
    finally:
        common.set_master(common.host_cpus())


if __name__ == "__main__":
    sys.exit(main())
