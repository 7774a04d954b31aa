"""Self-tests of the benchmark: seeded generators are deterministic,
each workload runs end to end at a tiny size, and every printed metric
is declared in BENCHMARK.json with its unit.

    python3 -m pytest perfbench/tests -q      # about three minutes
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

# Tiny sizes, applied inside the benchmark process before it runs; run
# lengths and the wall-time limit of one tiny run.
SECONDS = {"dws_stream": 6, "ads_dashboard": 2}
LIMIT_S = {"dws_stream": 60, "ads_dashboard": 60}
TINY = {
    "dws_stream": "import wl_stream as w; w.RATE = 200; "
                  "w.BACKLOG_EVENTS = 800",
    "ads_dashboard": "import wl_ads as w; "
                     "w.DATA = w.DATA.parent / 'sf0.001'; "
                     "w.MIN_REQUESTS = w.gen.BLOCK",
}


def _stream_segments(seed: int):
    g = gen.StreamGenerator(seed, 10.0)
    return [g.segment("a", 3, 300, 0.5), g.segment("b", 2, 300, 0.5)]


def test_stream_generator_is_deterministic():
    a, b = _stream_segments(5), _stream_segments(5)
    for x, y in zip(a, b):
        assert [f.lines for f in x.files] == [f.lines for f in y.files]
        pd.testing.assert_frame_equal(x.truth, y.truth)
    other = _stream_segments(6)
    assert [f.lines for f in other[0].files] != [f.lines for f in a[0].files]


def test_stream_generator_properties():
    seg = _stream_segments(3)[0]
    truth = seg.truth
    assert seg.n_dirty > 0 and truth["late"].any()
    # a key's first arrival carries its earliest event time
    first = truth.sort_values("seq").groupby("ukey")["ts_ms"].first()
    assert (truth.groupby("ukey")["ts_ms"].min() == first).all()
    # event time minus creation time: constant for in-order events,
    # under the watermark behind it when out of order, far beyond it late
    lag = truth["created_s"] * 1000 * 10.0 - truth["ts_ms"]
    lag -= lag.median()
    assert (lag[truth["late"]] > gen.LATE_MS - gen.WATERMARK_MS).all()
    on_time = lag[~truth["late"]]
    assert (on_time < gen.WATERMARK_MS).all() and (on_time > 100).mean() > 0.05


def test_request_mix_is_deterministic():
    assert gen.request_mix(4, 50) == gen.request_mix(4, 50)
    assert gen.request_mix(4, 50) != gen.request_mix(5, 50)
    block = gen.request_mix(4, gen.BLOCK)
    assert {n: block.count(n) for n in gen.PANELS} == gen.PANELS


def _run_tiny(workload: str, trace: int) -> tuple[int, dict, float]:
    code = (f"import sys; sys.path.insert(0, {str(HERE)!r}); "
            f"{TINY[workload]}; import run; "
            f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', "
            f"'--seconds', '{SECONDS[workload]}', '--trace', '{trace}']))")
    t0 = time.monotonic()
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=300)
    elapsed = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-3000:]
    return proc.returncode, json.loads(lines[-1]), elapsed


@pytest.mark.parametrize("workload,trace", [
    ("dws_stream", 0), ("ads_dashboard", 0), ("ads_dashboard", 1),
])
def test_workload_end_to_end_tiny(workload, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if trace else "end_to_end"]}
    code, out, elapsed = _run_tiny(workload, trace)
    assert code == 0
    assert elapsed < LIMIT_S[workload] or trace
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in out["metrics"].items()} == declared
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_workload_names_match_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    import run
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
