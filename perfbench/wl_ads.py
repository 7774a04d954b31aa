"""ads_dashboard: the publisher surface as a closed loop.

``CLIENTS`` client threads share one SparkSession; each sends its next
panel request (a seeded weighted mix of ADS and multi-join panels)
only after the previous one returned fully materialized.  The tables
are the fixed sf0.1 set under ``data/``; the seed picks the request
order.  After the loop every result is compared with the panel's
DuckDB oracle by the repo's own gate comparison (``scripts/check.py``).
"""

from __future__ import annotations

import importlib.util
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
# client threads inherit the caller's Spark job group (set-up attribution)
from pyspark import InheritableThread

import common
import gen

CLIENTS = 2
DATA = Path(__file__).resolve().parent / "data" / "sf0.1"
MIN_REQUESTS = 4 * gen.BLOCK
# Tail percentile: the highest with at least ten samples beyond it when
# a run sends MIN_REQUESTS (44) requests.
TAIL_Q = 77.0


def gate_check():
    """The repo's Spark-vs-DuckDB comparison (``scripts/check.py``)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gate_check", common.ROOT / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def layer_of(fn) -> str:
    """``plans`` for queries defined under plans/, else ``operators``."""
    return "plans" if ".plans." in fn.__module__ else "operators"


class AdsDashboardWorkload:
    name = "ads_dashboard"

    def __init__(self, seed: int, seconds: float, work: Path, tracer):
        self.seconds = seconds
        self.tracer = tracer
        self.data = DATA
        self.mix = gen.request_mix(seed, 100_000)

    def _request(self, spark, name: str, req_id: str, tr) -> tuple:
        from gmall_211027_flink_spark.registry import QUERIES

        fn = QUERIES[name]
        layer = layer_of(fn)
        with tr.span(name, layer, trace_id=req_id, spark=spark):
            t0 = time.perf_counter()
            with tr.span(f"{name}.plan", layer, spark=spark):
                df = fn(spark, str(self.data))
                if tr.enabled:
                    df._jdf.queryExecution().optimizedPlan()
            t1 = time.perf_counter()
            with tr.span(f"{name}.exec", layer, spark=spark):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        if tr.enabled:
            tr.sample(f"{layer}.{name}.plan_ms", (t1 - t0) * 1000)
            tr.sample(f"{layer}.{name}.exec_s", t2 - t1)
            tr.put(f"{layer}.{name}.rows_out", float(len(pdf)))
        return t2 - t0, pdf

    def teardown(self) -> None:
        pass

    def warm_up(self, spark) -> None:
        """Every panel once, spread over the clients."""
        panels = list(gen.PANELS)
        errors: list[BaseException] = []

        def client(mine: list[str]) -> None:
            try:
                for name in mine:
                    self._request(spark, name, f"warm-{name}", self.tracer)
            except Exception as e:    # re-raised after join
                errors.append(e)

        threads = [InheritableThread(target=client,
                                     args=(panels[c::CLIENTS],))
                   for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]

    def run(self, spark) -> dict:
        tr = self.tracer
        lock = threading.Lock()
        mix = iter(enumerate(self.mix))
        lat: list[float] = []
        results: dict[str, list] = defaultdict(list)
        errors: list[str] = []
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        last_done = [t_start]
        issued = [0]

        def client() -> None:
            while True:
                with lock:
                    # stop at the first whole block of the mix past the
                    # deadline and the minimum count, so every run sends
                    # the same composition
                    if (issued[0] % gen.BLOCK == 0
                            and issued[0] >= MIN_REQUESTS
                            and time.perf_counter() >= deadline):
                        return
                    i, name = next(mix)
                    issued[0] += 1
                try:
                    dt_s, pdf = self._request(spark, name, f"req-{i}", tr)
                except Exception as e:   # a failed request is counted
                    with lock:
                        errors.append(f"{name}: {e}")
                    continue
                with lock:
                    lat.append(dt_s)
                    results[name].append(pdf)
                    last_done[0] = time.perf_counter()

        threads = [InheritableThread(target=client, name=f"client-{c}")
                   for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        elapsed = last_done[0] - t_start

        t_check = time.perf_counter()
        bad = self._check(results)
        print(f"ads_dashboard: {len(lat)} requests in {elapsed:.2f} s, "
              f"checked in {time.perf_counter() - t_check:.2f} s",
              file=sys.stderr)
        for err in errors[:3]:
            print(f"ads_dashboard: request failed: {err}", file=sys.stderr)
        return {
            "items_per_s": len(lat) / elapsed,
            "latency_p50_s": common.median(lat),
            "latency_tail_s": common.percentile(lat, TAIL_Q),
            "samples": len(lat),
            "attempted": len(lat) + len(errors),
            "failed": bad + len(errors),
            "mismatched": bad + len(errors),
        }

    def _check(self, results: dict[str, list]) -> int:
        """Results that differ from their DuckDB oracle, by the gate's
        rules: row count, column names, and order-insensitive values
        with int-vs-float type divergence counted as a mismatch.
        Results with the same content are compared once."""
        from gmall_211027_flink_spark.registry import ORACLES

        check = gate_check()
        con = check.duck_conn(str(self.data))
        bad = 0
        try:
            for name, frames in results.items():
                oracle = con.execute(ORACLES[name]).fetchdf()
                d_rows = list(oracle.itertuples(index=False, name=None))
                verdict: dict[object, list[str]] = {}
                for i, pdf in enumerate(frames):
                    key = _fingerprint(pdf) or i
                    if key not in verdict:
                        verdict[key] = check.compare(
                            name,
                            list(pdf.itertuples(index=False, name=None)),
                            list(pdf.columns), d_rows, list(oracle.columns))
                    problems = verdict[key]
                    if problems:
                        bad += 1
                        print(f"ads_dashboard: {name} differs from its "
                              f"oracle: {'; '.join(problems)}",
                              file=sys.stderr)
        finally:
            con.close()
        return bad


def _fingerprint(pdf) -> tuple | None:
    """Columns, dtypes and the sorted row hashes of a result: equal for
    two results with the same rows in any order."""
    try:
        rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    except TypeError:             # unhashable cells (arrays): no shortcut
        return None
    return (tuple(pdf.columns), tuple(map(str, pdf.dtypes)),
            np.sort(rows).tobytes())
