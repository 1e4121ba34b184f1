"""Percentiles and the file-timeline readings: when each 10 s event-time
window first arrived in a wire topic or became visible in a DWS table,
from file mtimes and contents, read after the run.

The computations are pure over (mtime, [event times]) lists, so the tests
drive them on a synthetic file timeline.
"""
import datetime
import json
import math
import os
import re

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile (0 < q < 1), or None unless at least
    `min_beyond` samples lie beyond it: p50 needs 20 samples, p90 100."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def stt_ms(s):
    """`yyyy-MM-dd HH:mm:ss` (UTC) → epoch ms."""
    return int(datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000)


WINDOW_MS = 10_000


def first_arrival(files, window_ms=WINDOW_MS):
    """files: [(mtime_ms, [event_ms, ...]), ...]. Returns {window start:
    earliest mtime of a file holding an event of that event-time window}.
    A DWS file's events are its window starts, so the same reading gives
    when each DWS window became visible."""
    first = {}
    for mtime, events in files:
        for w in {t - t % window_ms for t in events}:
            if w not in first or mtime < first[w]:
                first[w] = mtime
    return first


# ---------------------------------------------------------------------
# reading the warehouse's file topics and DWS dirs
# ---------------------------------------------------------------------

_TS = {
    "ts": lambda v: int(v["ts"]),
    "create_time": lambda v: stt_ms(v["create_time"]),
    "o_create_ts": lambda v: int(v["o_create_ts"]),
    "p_create_ts": lambda v: int(v["p_create_ts"]),
}

# label → (path under the layout root, how to read an event time)
TOPICS = {
    "dwd_page_log": ("topics/dwd_page_log", "ts"),
    "dwd_order_info": ("topics/db/sinkTable=dwd_order_info", "create_time"),
    "dwm_unique_visit": ("topics/dwm_unique_visit", "ts"),
    "dwm_user_jump_detail": ("topics/dwm_user_jump_detail", "ts"),
    "dwm_order_wide": ("topics/dwm_order_wide", "o_create_ts"),
    "dwm_payment_wide": ("topics/dwm_payment_wide", "p_create_ts"),
}
DWS = ("visitor", "province", "keyword", "product")
_SENTINEL = re.compile(r'"mid":"__sentinel"')


def _parquet_files(d):
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet") and not f.startswith("."))


def read_topic(root, label):
    """[(mtime_ms, [event_ms...]), ...] for one wire topic."""
    import pyarrow.parquet as pq
    sub, kind = TOPICS[label]
    get = _TS[kind]
    out = []
    for f in _parquet_files(os.path.join(root, sub)):
        vals = pq.read_table(f, columns=["value"]).column(0).to_pylist()
        evs = [get(json.loads(v)) for v in vals
               if v and not _SENTINEL.search(v)]
        out.append((os.stat(f).st_mtime_ns // 1_000_000, evs))
    return out


def read_dws(root, name):
    """[(mtime_ms, [window start ms...]), ...] for one DWS table dir."""
    import pyarrow.parquet as pq
    out = []
    for f in _parquet_files(os.path.join(root, "dws", name)):
        stts = pq.read_table(f, columns=["stt"]).column(0).to_pylist()
        out.append((os.stat(f).st_mtime_ns // 1_000_000,
                    [stt_ms(s) for s in set(stts)]))
    return out
