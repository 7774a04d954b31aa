"""dws_stream: the reference's main job as an open-loop stream.

A generator thread lands one ODS file pair (behaviour log + cart_info
CDC) per interval; the DWD query (parse, split, cart-add, daily-unique
dedup) writes parquet that the DWS query (10 s tumbling window, 2 s
watermark) folds into the incremental store.  Event time is replayed
``SPEEDUP`` times faster than the wall clock, so a short run closes
many windows; latency is wall time.

Timeline on one continuous event clock:
  prime    one file and a flush; set-up ends when DWS has committed
           the prime's windows, so the whole path has run once and the
           watermark is in force before any late event arrives
  phase A  files landed on a fixed schedule for --seconds -> one
           latency sample per phase A row, by the time it commits
  flush A  a few fresh-key events that close phase A's windows
  phase B  a fixed backlog landed at once, then its flush; it spans
           several DWD triggers -> events per second
The final store must equal a pandas recomputation over the same
generated lines, with the beyond-watermark events dropped.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading
import time
from pathlib import Path

import pandas as pd

import common
import gen
from pipeline import DWS_KEYS, TimedStore, dwd_stream, dws_stream, is_cdc

SPEEDUP = 20.0              # event seconds per wall second (replay rate)
INTERVAL_S = 0.5            # one ODS file per interval
# Phase A input rate, events per wall second.  Well under what the DWD
# query keeps up with on 4 cores: at 250/s, latency queued behind busy
# micro-batches and its run-to-run spread (IQR/median) was about twice
# as wide (p50 0.28 against 0.15, tail 0.29 against 0.09).
RATE = 150
# A phase B backlog: 8 files, so it takes two DWD triggers of
# MAX_FILES_PER_TRIGGER files and one more for its flush file.
BACKLOG_EVENTS = 8_000
BACKLOG_FILES = 8
PRIME_EVENTS = 200
MAX_FILES_PER_TRIGGER = 4   # DWD admission control per micro-batch
LATENCY_LIMIT_S = 30.0      # a DWS row later than this counts as failed
# Tail percentile: the highest with at least ten samples beyond it at
# the design size (~900 phase A rows in a 20 s run).
TAIL_Q = 98.8


def _wm_ms(progress) -> int:
    wm = (progress.eventTime or {}).get("watermark")
    if not wm:
        return 0
    return int(dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp() * 1000)


def executed(query) -> list:
    """Progress of the micro-batches that ran, once each (idle progress
    reports repeat the last batch's id and state figures)."""
    seen: dict[int, object] = {}
    for p in query.recentProgress:
        if "addBatch" in p.durationMs:
            seen[p.batchId] = p
    return list(seen.values())


def _window_end(ts_ms: int) -> int:
    return ts_ms - ts_ms % gen.WINDOW_MS + gen.WINDOW_MS


class Stream:
    """One DWD + DWS query pair over its own fresh directories."""

    def __init__(self, spark, root: Path, tracer):
        common.fresh_dir(root)
        self.ods = root / "ods"
        self.ods.mkdir()
        self.dwd_dir = root / "dwd"
        self.tracer = tracer
        self._mtime_ns = 0
        self.landed_files = 0
        self.dwd_ckpt = root / "ckpt_dwd"
        self.backlog_max = 0
        self.dwd_q = self.dws_q = None
        self.store = TimedStore(str(root / "dws_store"), tracer)
        with tracer.span("dwd_stream", "jobs"):
            dwd = dwd_stream(spark, str(self.ods), MAX_FILES_PER_TRIGGER)
        self.dwd_q = (dwd.writeStream.format("parquet")
                      .option("path", str(self.dwd_dir))
                      .option("checkpointLocation", str(self.dwd_ckpt))
                      .outputMode("append").start())
        # the DWS file source must find the sink's metadata log at start
        while not (self.dwd_dir / "_spark_metadata").exists():
            self.check_alive()
            time.sleep(0.01)
        with tracer.span("dws_stream", "streaming"):
            dws = dws_stream(spark, str(self.dwd_dir))
        self.dws_q = (dws.writeStream.foreachBatch(self.store.write_batch)
                      .option("checkpointLocation", str(root / "ckpt_dws"))
                      .outputMode("append").start())
        tracer.bind_group(str(self.dwd_q.runId), "jobs")
        tracer.bind_group(str(self.dws_q.runId), "streaming")

    def land(self, *groups: tuple[str, list[gen.OdsFile]]) -> None:
        """Land files atomically: write each under a dot name (which the
        file source ignores) with a strictly increasing mtime, then
        rename them all into place back to back.  The file source orders
        new files by mtime, and arrival order is what the dedup and the
        watermark see; renaming last lands a backlog in one listing."""
        if self.tracer.enabled:
            self.backlog_max = max(self.backlog_max,
                                   self.landed_files - self._admitted())
        staged = []
        for tag, f in ((t, f) for t, files in groups for f in files):
            self._mtime_ns = max(self._mtime_ns + 1_000_000, time.time_ns())
            name = f"{tag}-{f.index:05d}.json"
            tmp = self.ods / f".{name}"
            tmp.write_text("\n".join(f.lines) + "\n")
            os.utime(tmp, ns=(self._mtime_ns, self._mtime_ns))
            staged.append((tmp, self.ods / name))
            self.landed_files += 1
        for tmp, dst in staged:
            os.rename(tmp, dst)

    def _admitted(self) -> int:
        """ODS files the DWD query has taken into a micro-batch (its file
        source logs one JSON line per file)."""
        n = 0
        for log in (self.dwd_ckpt / "sources" / "0").glob("[0-9]*"):
            try:
                n += log.read_text().count('"path"')
            except OSError:     # being written; the next landing counts it
                pass
        return n

    def check_alive(self) -> None:
        for q in (self.dwd_q, self.dws_q):
            if q is not None and q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")

    def wait_watermark(self, target_ms: int, timeout_s: float) -> int:
        """Block until a DWS batch ran with watermark >= target; returns
        that batch id (progress is reported after the sink commit)."""
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            p = self.dws_q.lastProgress
            if p is not None and _wm_ms(p) >= target_ms:
                return p.batchId
            self.check_alive()
            time.sleep(0.01)
        raise TimeoutError(f"DWS watermark did not reach {target_ms} "
                           f"within {timeout_s:.0f} s")

    def stop(self) -> None:
        for q in (self.dwd_q, self.dws_q):
            if q is not None and q.isActive:
                q.stop()


def expected_dwd(truth: pd.DataFrame) -> pd.DataFrame:
    """Daily-unique over arrival order: a key emits when its event day
    moves past every day it emitted before."""
    t = truth.sort_values("seq")
    day = t["ts_ms"] // 86_400_000
    prev = day.groupby(t["ukey"]).cummax().groupby(t["ukey"]).shift(1)
    return t[prev.isna() | (day > prev)]


def expected_store(dwd: pd.DataFrame, final_wm_ms: int) -> pd.DataFrame:
    """DWS over the expected DWD rows: beyond-watermark rows dropped,
    10 s windows closed by the final watermark, counted per key set,
    with each row's newest contributing creation time."""
    kept = dwd[~dwd["late"]].copy()
    start = kept["ts_ms"] - kept["ts_ms"] % gen.WINDOW_MS
    closed = start + gen.WINDOW_MS <= final_wm_ms
    kept, start = kept[closed], start[closed]
    fmt = "%Y-%m-%d %H:%M:%S"
    kept["stt"] = pd.to_datetime(start, unit="ms").dt.strftime(fmt)
    kept["edt"] = pd.to_datetime(start + gen.WINDOW_MS,
                                 unit="ms").dt.strftime(fmt)
    return (kept.groupby(DWS_KEYS)
            .agg(uv_ct=("ukey", "size"), created_max=("created_s", "max"),
                 phase=("phase", "max"))
            .reset_index())


class DwsStreamWorkload:
    name = "dws_stream"

    def __init__(self, seed: int, seconds: float, work: Path, tracer):
        self.work = work
        self.tracer = tracer
        self.segments = self._plan(
            gen.StreamGenerator(seed, SPEEDUP),
            max(4, int(round(seconds / INTERVAL_S))))
        # the single-thread baseline drains a backlog of the same shape
        # on its own key timeline (no phase A before it)
        self.backlog_only = self._plan(gen.StreamGenerator(seed + 1, SPEEDUP),
                                       0)
        self.active = self.segments
        self.stream: Stream | None = None
        self.cycle = 0
        self._expected_dwd: pd.DataFrame | None = None

    @staticmethod
    def _plan(g: gen.StreamGenerator,
              a_files: int) -> dict[str, gen.Segment]:
        quiet = dict(late=False, ooo=False, fresh=True)
        flush = dict(gap_ms=2 * gen.WINDOW_MS, **quiet)
        segs = {"prime": g.segment("prime", 1, PRIME_EVENTS, INTERVAL_S,
                                   **quiet),
                "flush_prime": g.segment("flush_prime", 1, 20, INTERVAL_S,
                                         **flush)}
        if a_files:
            segs["a"] = g.segment("a", a_files, int(RATE * INTERVAL_S),
                                  INTERVAL_S)
            segs["flush_a"] = g.segment("flush_a", 1, 20, INTERVAL_S,
                                        **flush)
        segs["b"] = g.segment("b", BACKLOG_FILES,
                              BACKLOG_EVENTS // BACKLOG_FILES, INTERVAL_S)
        segs["flush_b"] = g.segment("flush_b", 1, 20, INTERVAL_S, **flush)
        return segs

    def use_backlog_only(self) -> None:
        self.active = self.backlog_only

    # -- set-up: start both queries and push the prime through ------------

    def teardown(self) -> None:
        if self.stream is not None:
            self.stream.stop()
            self.stream = None

    def warm_up(self, spark) -> None:
        self.teardown()
        self.cycle += 1
        self.stream = Stream(spark, self.work / f"stream{self.cycle}",
                             self.tracer)
        prime = self.active["prime"]
        self.stream.land(("p", prime.files),
                         ("fp", self.active["flush_prime"].files))
        self.stream.wait_watermark(
            _window_end(int(prime.truth["ts_ms"].max())), 150)

    # -- measured phase ----------------------------------------------------

    def run(self, spark) -> dict:
        """Phase A, then the phase B drain; after ``use_backlog_only``
        the drain only (the single-thread baseline)."""
        segs, s = self.active, self.stream
        try:
            lags = [0.0]
            t_a = time.perf_counter()
            if "a" in segs:
                lags = self._phase_a(s, segs["a"], t_a)
                s.land(("fa", segs["flush_a"].files))
                s.wait_watermark(
                    _window_end(int(segs["a"].truth["ts_ms"].max())), 120)
            b = segs["b"]
            seen = {p.batchId for p in executed(s.dwd_q)}
            t_b = time.perf_counter()
            s.land(("b", b.files), ("fb", segs["flush_b"].files))
            batch = s.wait_watermark(
                _window_end(int(b.truth["ts_ms"].max())), 150)
            rate = b.n_events / (s.store.commit_wall[batch] - t_b)
            triggers = sum(1 for p in executed(s.dwd_q)
                           if p.batchId not in seen and p.numInputRows > 0)
            final_wm = _wm_ms(s.dws_q.lastProgress)
            s.stop()
            store = s.store.read(spark).toPandas()
            result = self._score(s, store, final_wm, t_a)
            result["items_per_s"] = rate
            # a drain that fits one DWD trigger measures the fixed cost
            # of a micro-batch, not a drain rate
            result["attempted"] += 1
            if triggers < 2:
                result["failed"] += 1
                print("dws_stream: the drain took a single DWD trigger",
                      file=sys.stderr)
            print(f"dws_stream: phase A {len(lags)} files, drain "
                  f"{rate:.0f} ev/s over {triggers} DWD triggers",
                  file=sys.stderr)
            result["lag_ms_max"] = max(lags) * 1000
            if self.tracer.enabled:
                self._trace(spark, s, result, len(store))
            return result
        finally:
            s.stop()

    @staticmethod
    def _phase_a(s: Stream, a: gen.Segment, t_a: float) -> list[float]:
        """Land phase A's files on their schedule from a generator thread
        (it never waits for the system); returns each landing's lag."""
        lags: list[float] = []
        errors: list[BaseException] = []

        def land() -> None:
            try:
                for f in a.files:
                    delay = t_a + f.due_s - time.perf_counter()
                    if delay > 0:
                        time.sleep(delay)
                    lags.append(time.perf_counter() - (t_a + f.due_s))
                    s.land(("a", [f]))
            except Exception as e:    # re-raised after join
                errors.append(e)

        th = threading.Thread(target=land, name="ods-generator")
        th.start()
        th.join()
        if errors:
            raise errors[0]
        return lags

    def _score(self, s: Stream, store: pd.DataFrame, final_wm: int,
               t_a: float) -> dict:
        truth = pd.concat([seg.truth.assign(phase=name)
                           for name, seg in self.active.items()],
                          ignore_index=True)
        dwd = expected_dwd(truth)
        exp = expected_store(dwd, final_wm)
        m = exp.merge(store[DWS_KEYS + ["uv_ct", "epoch"]], on=DWS_KEYS,
                      how="outer", indicator=True, suffixes=("", "_got"))
        # a beyond-watermark event that was not dropped would surface as
        # an extra (long closed) window row, so equality covers the drops
        bad = int(((m["_merge"] != "both")
                   | (m["uv_ct"] != m["uv_ct_got"])).sum())
        if bad:
            diff = m[(m["_merge"] != "both") | (m["uv_ct"] != m["uv_ct_got"])]
            print(f"dws_stream: {bad} store rows differ from the batch "
                  f"recomputation\n{diff.head(10).to_string()}",
                  file=sys.stderr)
        # latency samples: every phase A row, by the time it committed
        # (rows still open when input stops commit after flush A); a row
        # never committed is a mismatch above
        both = m[(m["_merge"] == "both") & (m["phase"] == "a")]
        commit = both["epoch"].map(
            lambda e: s.store.commit_wall[int(e)] - t_a)
        lat = list(commit - both["created_max"]) if len(both) else [0.0]
        over = sum(1 for x in lat if x > LATENCY_LIMIT_S)
        if over:
            print(f"dws_stream: {over} rows over the {LATENCY_LIMIT_S:.0f} s "
                  f"latency limit", file=sys.stderr)
        self._expected_dwd = dwd
        return {
            "latency_p50_s": common.median(lat),
            "latency_tail_s": common.percentile(lat, TAIL_Q),
            "samples": len(lat),
            "attempted": len(m) + len(lat) + 1,
            "failed": bad + over,
            "mismatched": bad,
        }

    # -- traced run only ---------------------------------------------------

    def _trace(self, spark, s: Stream, result: dict, store_rows: int) -> None:
        from gmall_211027_flink_spark.jobs.dwd_log_split import parse_log
        from gmall_211027_flink_spark.sources.cdc import parse_cdc

        tr = self.tracer
        dwd_p, dws_p = executed(s.dwd_q), executed(s.dws_q)

        def dsum(ps, *keys):
            return float(sum(p.durationMs.get(k, 0) for p in ps
                             for k in keys))

        def check(ok: bool) -> None:
            if not ok:
                result["failed"] += 1
                result["mismatched"] += 1

        tr.put("sources.offset_ms", dsum(dwd_p + dws_p, "latestOffset",
                                         "getBatch"))
        tr.put("sources.rows_in", float(sum(p.numInputRows for p in dwd_p)))
        with tr.span("dirty_recount", "sources"):
            ods = spark.read.text(str(s.ods))
            cdc = is_cdc(ods["value"])
            _, dirty_log = parse_log(ods.filter(~cdc))
            _, dirty_db = parse_cdc(ods.filter(cdc))
            n_dirty = dirty_log.count() + dirty_db.count()
        tr.put("sources.dirty_rows", float(n_dirty))
        check(n_dirty == sum(seg.n_dirty for seg in self.active.values()))
        out = (spark.read.parquet(str(s.dwd_dir)).groupBy("kind").count()
               .toPandas().set_index("kind")["count"])
        exp = self._expected_dwd["kind"].value_counts()
        for kind in ("page", "cart"):
            tr.put(f"jobs.rows_out.{kind}", float(out.get(kind, 0)))
            check(int(out.get(kind, 0)) == int(exp.get(kind, 0)))
        tr.put("jobs.batch_ms", common.median(
            [p.durationMs["triggerExecution"] for p in dwd_p]))
        tr.put("streaming.batches", float(len(dws_p)))
        tr.put("streaming.batch_ms_p50", common.median(
            [p.durationMs["triggerExecution"] for p in dws_p]))
        tr.put("streaming.add_batch_ms", dsum(dws_p, "addBatch"))
        tr.put("streaming.planning_ms", dsum(dws_p, "queryPlanning"))
        tr.put("streaming.commit_ms", dsum(dws_p, "walCommit",
                                           "commitOffsets"))
        ops_last = [op for ps in (dwd_p, dws_p) if ps
                    for op in ps[-1].stateOperators]
        ops_all = [op for p in dwd_p + dws_p for op in p.stateOperators]
        tr.put("streaming.state_rows",
               float(sum(op.numRowsTotal for op in ops_last)))
        tr.put("streaming.state_bytes",
               float(sum(op.memoryUsedBytes for op in ops_last)))
        tr.put("streaming.state_update_ms",
               float(sum(op.allUpdatesTimeMs + op.allRemovalsTimeMs
                         for op in ops_all)))
        tr.put("streaming.state_commit_ms",
               float(sum(op.commitTimeMs for op in ops_all)))
        rows_in = sum(p.numInputRows for p in dws_p)
        dropped = sum(op.numRowsDroppedByWatermark
                      for p in dws_p for op in p.stateOperators)
        tr.put("streaming.late_drop_ratio",
               dropped / rows_in if rows_in else 0.0)
        tr.put("streaming.backlog_files_max", float(s.backlog_max))
        tr.put("streaming.sink_rows", float(store_rows))
        tr.put("streaming.sink_write_ms", s.store.write_ms)
        tr.put("streaming.sink_epochs_skipped", float(s.store.skipped))
        tr.put("generator.lag_ms_max", result["lag_ms_max"])
        self._batch_spans(dwd_p, "jobs", "dwd")
        self._batch_spans(dws_p, "streaming", "dws")

    def _batch_spans(self, progress, layer: str, tag: str) -> None:
        """Micro-batch spans from query progress: the trigger, with its
        phases laid out in execution order as children."""
        shift = time.time() - time.perf_counter()
        order = (("latestOffset", "sources"), ("getBatch", "sources"),
                 ("walCommit", "streaming"), ("queryPlanning", layer),
                 ("addBatch", layer), ("commitOffsets", "streaming"))
        for p in progress:
            start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            t0 = start.replace(tzinfo=dt.timezone.utc).timestamp() - shift
            trace_id = f"{tag}-{p.batchId}"
            parent = self.tracer.record(
                f"{tag}.batch", layer, trace_id, None, t0,
                t0 + p.durationMs["triggerExecution"] / 1000)
            cur = t0
            for key, lay in order:
                d = p.durationMs.get(key, 0) / 1000
                if d:
                    sid = self.tracer.record(f"{tag}.{key}", lay, trace_id,
                                             parent, cur, cur + d)
                    if key == "addBatch":
                        self.tracer.adopt(trace_id, "sink.write_batch", sid)
                    cur += d
