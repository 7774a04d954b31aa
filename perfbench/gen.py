"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size arguments: the
same seed yields byte-identical inputs.  dws_stream's program sees only
the ODS files generated here; ads_dashboard reads the fixed sf0.1
tables under ``data/`` and takes only its request mix from the seed.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# dws_stream: ODS behaviour-log lines + cart_info CDC envelopes
# ---------------------------------------------------------------------------

# Event time starts at a fixed noon so a run (minutes long) never crosses
# a day boundary; the seed shifts it by whole minutes.
EVENT_DAY_MS = int(dt.datetime(2024, 6, 1, 12, 0,
                               tzinfo=dt.timezone.utc).timestamp() * 1000)
WINDOW_MS = 10_000          # DWS tumbling window (reference: 10 s)
WATERMARK_MS = 2_000        # DWS watermark delay (reference: 2 s)
LATE_MS = 300_000           # beyond-watermark events are this far behind

N_MID = 200_000             # device-id domain of the page log (Zipf)
N_USER = 40_000             # user-id domain of cart adds (Zipf)
ZIPF_S = 1.1

SHARE_CART = 0.25           # share of events that are cart_info CDC rows
SHARE_OOO = 0.10            # out of order, but within the watermark
SHARE_LATE = 0.01           # beyond the watermark (dropped at DWS)
SHARE_DIRTY = 0.005         # unparseable lines (dirty side outputs)
SHARE_NOISE = 0.10          # start/err logs and other CDC tables (filtered)

CHANNELS = ("xiaomi", "huawei", "oppo", "vivo", "appstore")
AREAS = ("110000", "310000", "440000", "330000",
         "510000", "420000", "320000", "370000")
SOURCE_TYPES = ("2401", "2402", "2403", "2404")
VERSIONS = ("v2.1.134", "v2.1.132", "v2.0.1", "v2.1.111")


@dataclass
class OdsFile:
    """One landed ODS file: behaviour-log and CDC lines in creation
    order (one topic, so a file's lines reach the same micro-batch)."""
    index: int
    due_s: float                 # wall offset from its phase start
    lines: list[str] = field(default_factory=list)


@dataclass
class Segment:
    """A run of ODS files plus the ground truth of what they carry.

    ``truth`` has one row per line that should reach the DWD union
    (page logs and positive-delta cart adds): ukey, kind, ch, ar,
    is_new, ts_ms, created_s (wall offset of creation from the phase
    start), late, seq.
    """
    name: str
    files: list[OdsFile]
    truth: pd.DataFrame
    n_events: int
    n_dirty: int


def _zipf_sampler(rng: np.random.Generator, n: int, s: float):
    ranks = np.arange(1, n + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -s)
    cdf /= cdf[-1]
    perm = rng.permutation(n)

    def draw(k: int) -> np.ndarray:
        return perm[np.searchsorted(cdf, rng.random(k))]
    return draw


def _attrs(key: np.ndarray) -> tuple[np.ndarray, ...]:
    """Per-key dimension attributes (stable for a key across events)."""
    h = (key.astype(np.int64) * 2654435761) % 1_000_003
    return (h % len(CHANNELS), (h // 7) % len(AREAS), (h // 61) % 2,
            (h // 127) % len(VERSIONS))


class StreamGenerator:
    """Builds the dws_stream segments on one continuous event timeline.

    Keys carry state across segments (a key's first event is the one
    the daily-unique dedup emits), so segments must be built in order.
    Event time advances ``speedup`` event-seconds per wall second.
    """

    def __init__(self, seed: int, speedup: float = 1.0):
        self.rng = np.random.default_rng(seed)
        self.speedup = speedup
        self.base_ms = EVENT_DAY_MS + int(seed % 60) * 60_000
        self.cursor_ms = self.base_ms        # next free event time
        self.seq = 0
        self.fresh_seq = 0
        self.first_ts: dict[str, int] = {}   # ukey -> ts of first arrival
        self._mid = _zipf_sampler(self.rng, N_MID, ZIPF_S)
        self._user = _zipf_sampler(self.rng, N_USER, ZIPF_S)
        self._cart_id = 0

    def _align(self) -> None:
        """Move the cursor to the next window boundary (segments never
        share a DWS window)."""
        off = (self.cursor_ms - self.base_ms) % WINDOW_MS
        if off:
            self.cursor_ms += WINDOW_MS - off

    def _log_line(self, mid: int, ts: int, created_ms: int, noise: bool,
                  extra: int) -> tuple[str, tuple[str, str, str]]:
        ch_i, ar_i, new_i, vc_i = (int(x[0]) for x in _attrs(np.array([mid])))
        ch, ar, is_new = CHANNELS[ch_i], AREAS[ar_i], str(new_i)
        common = ('{"ar": "%s", "ba": "Xiaomi", "ch": "%s", "is_new": "%s", '
                  '"md": "Xiaomi 9", "mid": "mid_%d", "os": "Android 11.0", '
                  '"uid": "%d", "vc": "%s"}'
                  % (ar, ch, is_new, mid, extra % 5000, VERSIONS[vc_i]))
        if noise and extra % 2:
            line = ('{"common": %s, "start": {"entry": "icon", '
                    '"loading_time": %d, "open_ad_id": "%d"}, "ts": %d, '
                    '"created": %d}' % (common, 500 + extra % 9000,
                                        extra % 20, ts, created_ms))
        else:
            err = (', "err": {"error_code": "%d", "msg": "Exception in '
                   'thread main"}' % (1000 + extra % 500)) if noise else ""
            n_disp = extra % 3
            displays = ", ".join(
                '{"display_type": "promotion", "item": "%d", "item_type": '
                '"sku_id", "pos_id": "%d", "order": "%d"}'
                % ((extra >> d) % 35, d, d + 1) for d in range(n_disp))
            line = ('{"common": %s, "page": {"during_time": %d, "item": "%d", '
                    '"item_type": "sku_id", "last_page_id": "home", '
                    '"page_id": "good_detail", "source_type": "promotion"}, '
                    '"displays": [%s], "actions": [], "ts": %d%s, '
                    '"created": %d}' % (common, 1000 + extra % 20000,
                                        extra % 35, displays, ts, err,
                                        created_ms))
        return line, (ch, ar, is_new)

    def _cart_line(self, user: int, ts: int, created_ms: int, noise: bool,
                   extra: int) -> tuple[str, tuple[str, str, str]]:
        self._cart_id += 1
        source = SOURCE_TYPES[extra % len(SOURCE_TYPES)]
        table, typ, num, old = "cart_info", "insert", 1 + extra % 3, "null"
        if noise:
            if extra % 2:
                table = "order_info"
            else:             # quantity decrease: not a cart add
                typ, old = "update", '{"sku_num": "%d"}' % (num + 2)
        elif extra % 4 == 0:  # quantity increase: a cart add of the delta
            typ, old = "update", '{"sku_num": "%d"}' % num
            num += 1 + extra % 2
        stamp = dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc)
        line = ('{"database": "gmall", "table": "%s", "type": "%s", '
                '"ts": %d, "data": {"id": "%d", "user_id": "%d", '
                '"sku_id": "%d", "cart_price": "%d.%02d", "sku_num": "%d", '
                '"source_type": "%s", "create_time": "%s"}, "old": %s, '
                '"created": %d}'
                % (table, typ, ts, self._cart_id, user, extra % 35,
                   10 + extra % 990, extra % 100, num, source,
                   stamp.strftime("%Y-%m-%d %H:%M:%S"), old, created_ms))
        return line, (source, "-", "-")

    def segment(self, name: str, n_files: int, events_per_file: int,
                interval_s: float, late: bool = True,
                ooo: bool = True, gap_ms: int = 0,
                fresh: bool = False) -> Segment:
        """``n_files`` files, one per ``interval_s`` of wall time; each
        holds the events created during its interval.  ``gap_ms`` of
        event time is skipped before the segment starts.  ``fresh``
        gives every event a never-seen key, so all of them pass the
        dedup (flush segments use it to move the watermark)."""
        self.cursor_ms += gap_ms
        self._align()
        rng = self.rng
        seg_start_ms = self.cursor_ms
        span_ms = interval_s * 1000 * self.speedup
        files: list[OdsFile] = []
        truth_parts: list[pd.DataFrame] = []
        n_dirty = 0
        for i in range(n_files):
            k = events_per_file
            # creation offsets inside the interval (wall seconds)
            created = np.sort(rng.random(k)) * interval_s + i * interval_s
            nominal_ts = seg_start_ms + np.round(
                created * 1000 * self.speedup).astype(np.int64)
            u = rng.random(k)
            is_cart = u < SHARE_CART
            r2 = rng.random(k)
            dirty = r2 < SHARE_DIRTY
            noise = (~dirty) & (r2 < SHARE_DIRTY + SHARE_NOISE)
            if fresh:
                dirty[:] = False
                noise[:] = False
            r3 = rng.random(k)
            is_late = late & (~dirty) & (~noise) & (r3 < SHARE_LATE)
            is_ooo = (ooo & (~dirty) & (~noise) & (~is_late)
                      & (r3 >= SHARE_LATE) & (r3 < SHARE_LATE + SHARE_OOO))
            delay = rng.integers(200, 1500, k)
            mids = self._mid(k)
            users = self._user(k)
            extra = rng.integers(0, 1_000_000, k)
            f = OdsFile(index=i, due_s=(i + 1) * interval_s)
            rows = []
            for j in range(k):
                seq = self.seq
                self.seq += 1
                ts = int(nominal_ts[j])
                created_ms = int(round(created[j] * 1000))
                if dirty[j]:
                    n_dirty += 1
                    line = ('{"common": {"mid": "mid_%d", "ch": ' % mids[j]
                            if extra[j] % 2 else "not json %d" % seq)
                    f.lines.append(line)
                    continue
                if is_late[j] or fresh:
                    # late events use fresh keys, so the dedup emits them
                    # and only the DWS watermark can drop them
                    self.fresh_seq += 1
                    key = N_MID + N_USER + self.fresh_seq
                    if is_late[j]:
                        ts -= LATE_MS
                else:
                    key = int(users[j] if is_cart[j] else mids[j])
                    if is_ooo[j]:
                        ts -= int(delay[j])
                kind = "cart" if is_cart[j] else "page"
                ukey = f"{kind}:{key}"
                if not noise[j]:
                    # the first arrival of a key must also be its earliest
                    # event time, so the dedup's pick does not depend on
                    # how arrivals are cut into micro-batches
                    first = self.first_ts.get(ukey)
                    if first is None:
                        self.first_ts[ukey] = ts
                    elif ts <= first:
                        ts = first + 1
                if is_cart[j]:
                    line, attrs = self._cart_line(key, ts, created_ms,
                                                  noise[j], int(extra[j]))
                    f.lines.append(line)
                else:
                    line, attrs = self._log_line(key, ts, created_ms,
                                                 noise[j], int(extra[j]))
                    f.lines.append(line)
                if not noise[j]:
                    rows.append((ukey, kind, *attrs, ts, float(created[j]),
                                 bool(is_late[j]), seq))
            files.append(f)
            if rows:
                truth_parts.append(pd.DataFrame(rows, columns=[
                    "ukey", "kind", "ch", "ar", "is_new", "ts_ms",
                    "created_s", "late", "seq"]))
        self.cursor_ms = seg_start_ms + int(round(n_files * span_ms))
        truth = (pd.concat(truth_parts, ignore_index=True) if truth_parts
                 else pd.DataFrame(columns=[
                     "ukey", "kind", "ch", "ar", "is_new", "ts_ms",
                     "created_s", "late", "seq"]))
        return Segment(name, files, truth, n_files * events_per_file, n_dirty)


# ---------------------------------------------------------------------------
# ads_dashboard: the request mix (the tables are the fixed sf0.1 set)
# ---------------------------------------------------------------------------

# Panels of the dashboard and their request weights.  The two slowest
# panels (commodity stats, large orders) weigh 2, so the slowest 36 % of
# requests is one cluster and the tail percentile (p77 of 44 requests)
# falls inside it rather than on the edge between two panels' times.
PANELS = {
    "ads_traffic_channel_stats": 2,
    "ads_user_stats_union": 1,
    "ads_keyword_score": 1,
    "ads_commodity_stats": 2,
    "dws_province_order_window": 2,
    "q5_local_supplier_volume": 1,
    "q18_large_orders": 2,
}
BLOCK = sum(PANELS.values())


def request_mix(seed: int, n: int) -> list[str]:
    """The dashboard's request sequence: seeded shuffles of blocks of
    ``BLOCK`` requests that hold each panel as many times as its weight,
    so every whole block has exactly the weighted mix."""
    rng = np.random.default_rng(seed + 17)
    block = [name for name, w in PANELS.items() for _ in range(w)]
    out: list[str] = []
    while len(out) < n:
        out += [block[i] for i in rng.permutation(len(block))]
    return out[:n]
