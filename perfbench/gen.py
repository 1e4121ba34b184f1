"""Seeded input generators for the three input families.

Every generator is a pure function of its seed and parameters: the same
seed writes byte-identical parquet files. All inputs are written before
any timing starts; the program under test only ever sees these files.

  * ODS backlog: page-log lines and CDC envelopes on ONE event-time
    timeline (one log file and one CDC file), plus a province-dimension
    file written first.
  * DWS history: the same ODS process at the events fixture's daily rate,
    aggregated into the sinks' 10 s windows for visitor / province /
    keyword / product, written in the sinks' `_ver` layout with replayed
    duplicates and superseded versions, plus the expected ADS answer for
    every (endpoint, day) after dedup to the latest `_ver`.
  * Open-vocabulary documents: the Zipf corpus process of
    tools/gen_scale_rehearsal.py (imported: its Zipf sampler, its corpus
    process and the duplicate rates it measured) over the documents
    fixture's length and language mix, with a closed core vocabulary
    mixed in.

Defaults come from the repository's own inputs: the sf0.1 test
fixtures (events, orders, customer, documents) and the fixture-to-wire
generators Warehouse.genBaseLog / genBaseDb. Each default names its
source; the ones marked "unverified" have none.
"""
import datetime
import json
import os
import random
import sys
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import gen_scale_rehearsal as rehearsal  # noqa: E402

# genBaseDb: base_province dims from the 25 nation rows
N_PROVINCES = 25
PROVINCES = [f"PROVINCE_{i:02d}" for i in range(N_PROVINCES)]
# genBaseLog: `ch` is events.event_type, five types in equal shares
CHANNELS = ("signup", "error", "click", "view", "purchase")


def write_values(path, values):
    """One parquet file with a single `value` string column (the wire
    shape of every file topic)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"value": pa.array(values, pa.string())}), path)


def fmt_ts(ms):
    """`yyyy-MM-dd HH:mm:ss` in UTC: CDC create_time and DWS stt/edt."""
    return datetime.datetime.fromtimestamp(
        ms // 1000, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


# ----------------------------------------------------------------------
# the ODS process: page events and orders
# ----------------------------------------------------------------------

ODS_DEFAULTS = dict(
    # sf0.1 events: 1500 users with 45-100 events each, a binomial spread,
    # so users are drawn uniformly (Zipf exponent 0)
    users=1500, user_zipf=0.0,
    # genBaseLog: page type by event_id % 3 (entry / search list / sku
    # detail), keyword kw(event_id % 7), sku (event_id % 20) + 1
    page_mix=(("home", 1), ("search", 1), ("detail", 1)),
    keywords=7, skus=20, sku_zipf=0.0,
    # genBaseLog: during_time = events.value * 100; value is exponential
    # with mean 49.87 at sf0.1 (p10 / p50 / p90 = 5.4 / 34.8 / 114)
    during_mean=4987,
    # genBaseDb: every 10th order (15 000 at sf0.1 beside 100 000 events),
    # each with info, detail, a payment 60 s later and one favor / cart /
    # comment / refund row; o_totalprice spans 1 000-500 000 with uniform
    # quantiles
    orders_per_event=0.15, payment_delay_ms=60_000,
    amount_cents=(100_000, 50_000_000),
    # unverified: the fixture has no start lines and no displays; small
    # shares keep BaseLog's start and display branches fed
    start_share=0.05, display_share=0.2,
    # unverified: the backlog's size and event-time span (one slice)
    events_per_slice=5000, slice_ms=180_000,
)


def _draws(rng, p):
    return (rehearsal.zipf_sampler(rng, p["users"], p["user_zipf"]),
            rehearsal.zipf_sampler(rng, p["skus"], p["sku_zipf"]),
            rehearsal.zipf_sampler(rng, p["keywords"], 0.0))


def page_events(rng, n, lo, span, p):
    """n log events in time order, each at its own millisecond of
    [lo, lo + span), so (mid, ts) is unique (the Bounce contract)."""
    user, sku, kw = _draws(rng, p)
    kinds = [k for k, _ in p["page_mix"]]
    weights = [w for _, w in p["page_mix"]]
    step = span // n
    assert step >= 2, "span too short for unique per-event times"
    out = []
    for i in range(n):
        e = {"ts": lo + i * step + rng.randrange(step), "uid": user(),
             "ch": CHANNELS[rng.randrange(len(CHANNELS))]}
        if rng.random() < p["start_share"]:
            e["kind"] = "start"
        else:
            kind = rng.choices(kinds, weights)[0]
            e["kind"] = kind
            e["dur"] = round(rng.expovariate(1 / p["during_mean"]))
            if kind == "search":
                e["item"] = f"kw{kw()}"
            elif kind == "detail":
                e["item"] = str(1 + sku())
            if kind != "search" and rng.random() < p["display_share"]:
                e["displays"] = [str(1 + sku())
                                 for _ in range(1 + rng.randrange(3))]
        out.append(e)
    return out


def orders(rng, n, lo, span, p, oid0):
    """n orders in time order whose payments fall inside [lo, lo + span)."""
    user, sku, _ = _draws(rng, p)
    step = max((span - p["payment_delay_ms"] - 5_000) // max(n, 1), 1)
    out = []
    for j in range(n):
        c_ms = lo + j * step + rng.randrange(step)
        out.append({"oid": oid0 + j, "uid": user(),
                    "prov": rng.randrange(N_PROVINCES), "sku": 1 + sku(),
                    "amt": rng.randrange(*p["amount_cents"]), "c_ms": c_ms,
                    "p_ms": c_ms + p["payment_delay_ms"]})
    return out


def _cents(c):
    return f"{c // 100}.{c % 100:02d}"


def log_line(e):
    """The page-log wire line of one event (genBaseLog's shape)."""
    uid = e["uid"]
    rec = {"common": {"ar": "1", "ba": "b", "ch": e["ch"], "is_new": "0",
                      "md": "md", "mid": f"u{uid}", "os": "os",
                      "uid": str(uid), "vc": "v1"}}
    if e["kind"] == "start":
        rec["start"] = {"entry": "icon", "open_ad_skip_ms": 0,
                        "open_ad_ms": 1000, "loading_time": 800,
                        "open_ad_id": 7}
    else:
        page = {"page_id": {"home": "home", "search": "good_list",
                            "detail": "good_detail"}[e["kind"]]}
        if e["kind"] == "search":
            page.update(last_page_id="search", item=e["item"])
        elif e["kind"] == "detail":
            page.update(item=e["item"], item_type="sku_id")
        page["during_time"] = e["dur"]
        rec["page"] = page
        if "displays" in e:
            rec["displays"] = [{"display_type": "query", "item": s,
                                "item_type": "sku_id", "pos_id": j,
                                "order": j + 1}
                               for j, s in enumerate(e["displays"])]
    rec["ts"] = e["ts"]
    return json.dumps(rec, separators=(",", ":"))


def _cdc(table, after):
    return json.dumps({"database": "gmall", "tableName": table,
                       "before": {}, "after": after, "type": "insert"},
                      separators=(",", ":"))


def cdc_lines(o):
    """The seven CDC envelopes of one order (genBaseDb's shape)."""
    oid, sku, amt = str(o["oid"]), str(o["sku"]), _cents(o["amt"])
    ct, ts = fmt_ts(o["c_ms"]), str(o["c_ms"])
    return [
        _cdc("order_info", {"id": oid, "province_id": str(o["prov"]),
                            "user_id": str(o["uid"]), "order_status": "1001",
                            "total_amount": amt, "create_time": ct}),
        _cdc("order_detail", {"id": oid, "order_id": oid, "sku_id": sku,
                              "sku_num": "1", "sku_name": f"sku-{sku}",
                              "order_price": amt, "split_total_amount": amt,
                              "create_time": ct}),
        _cdc("payment_info", {"id": oid, "order_id": oid,
                              "user_id": str(o["uid"]), "total_amount": amt,
                              "subject": "order", "payment_type": "1102",
                              "create_time": fmt_ts(o["p_ms"])}),
        _cdc("favor_info", {"id": oid, "sku_id": sku, "ts": ts}),
        _cdc("cart_info", {"id": oid, "sku_id": sku, "ts": ts}),
        _cdc("comment_info", {"id": oid, "sku_id": sku,
                              "appraise": ("1201", "1202")[o["oid"] % 2],
                              "ts": ts}),
        _cdc("refund_payment", {"id": oid, "order_id": oid, "sku_id": sku,
                                "refund_amount": amt, "ts": ts}),
    ]


def dims_lines():
    """base_province CDC rows (routed to the dimension store)."""
    return [_cdc("base_province", {"id": str(i), "name": PROVINCES[i],
                 "area_code": str(100 + i), "iso_code": f"ISO-{i}",
                 "ver": "1"}) for i in range(N_PROVINCES)]


def ods_backlog(seed, t0_ms, params=None):
    """(log lines, CDC lines, span end) of the backlog starting at t0_ms.
    Orders and their payments are spread over the whole span, so every
    product leg's watermark passes the first windows on the data itself."""
    p = dict(ODS_DEFAULTS, **(params or {}))
    span, n = p["slice_ms"], p["events_per_slice"]
    logs = [log_line(e) for e in page_events(
        random.Random(f"{seed}:ods:log"), n, t0_ms, span, p)]
    cdc = [line for o in orders(random.Random(f"{seed}:ods:db"),
                                round(n * p["orders_per_event"]), t0_ms,
                                span, p, 1_000_000)
           for line in cdc_lines(o)]
    return logs, cdc, t0_ms + span


def gen_ods(out_dir, seed, t0_ms, params=None):
    """Write `db/dims.parquet`, then `log/slice0000.parquet` and
    `db/slice0000.parquet`; return the manifest (bounds and row counts)."""
    write_values(f"{out_dir}/db/dims.parquet", dims_lines())
    logs, cdc, hi = ods_backlog(seed, t0_ms, params)
    write_values(f"{out_dir}/log/slice0000.parquet", logs)
    write_values(f"{out_dir}/db/slice0000.parquet", cdc)
    man = {"lo": t0_ms, "hi": hi, "log": len(logs), "db": len(cdc),
           "dims": N_PROVINCES}
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(man, f, sort_keys=True)
    return man


def write_horizon(sf_dir, max_ts_ms):
    """The one-row `events` table the warehouse drain reads its sentinel
    horizon from (max event time of the whole timeline)."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({"ts": pa.array(
        [max_ts_ms * 1000], pa.timestamp("us", tz="UTC"))}),
        f"{sf_dir}/events.parquet")


# ----------------------------------------------------------------------
# DWS history + expected ADS answers
# ----------------------------------------------------------------------

DWS_DEFAULTS = dict(
    days=3,                # unverified: a multi-day history
    events_per_day=3333,   # sf0.1 events: 100 000 over 30 days
    dup_share=0.25,        # unverified: share of rows also written as a
                           # replay or as a superseded version
    files_per_day=2,       # unverified: sink files per day and table
    top_n=5,               # unverified: rows per top-N answer
)
DAY0_MS = 1_700_006_400_000  # 2023-11-15 00:00:00 UTC, a day boundary
WINDOW_MS = 10_000
BOUNCE_MS = 10_000

DWS_SCHEMAS = {
    "visitor": pa.schema([
        ("stt", pa.string()), ("edt", pa.string()), ("vc", pa.string()),
        ("ch", pa.string()), ("ar", pa.string()), ("is_new", pa.string()),
        ("uv_ct", pa.int64()), ("pv_ct", pa.int64()), ("sv_ct", pa.int64()),
        ("uj_ct", pa.int64()), ("dur_sum", pa.int64()), ("_ver", pa.int64())]),
    "province": pa.schema([
        ("stt", pa.string()), ("edt", pa.string()),
        ("province_id", pa.int64()), ("province_name", pa.string()),
        ("province_area_code", pa.string()),
        ("province_iso_code", pa.string()), ("order_count", pa.int64()),
        ("order_amount", pa.decimal128(28, 2)), ("_ver", pa.int64())]),
    "keyword": pa.schema([
        ("stt", pa.string()), ("edt", pa.string()), ("word", pa.string()),
        ("source", pa.string()), ("ct", pa.int64()), ("_ver", pa.int64())]),
    "product": pa.schema([
        ("stt", pa.string()), ("edt", pa.string()), ("sku_id", pa.int64()),
        ("click_ct", pa.int64()), ("display_ct", pa.int64()),
        ("favor_ct", pa.int64()), ("cart_ct", pa.int64()),
        ("order_amount", pa.decimal128(38, 2)), ("order_ct", pa.int64()),
        ("payment_amount", pa.decimal128(38, 2)),
        ("paid_order_ct", pa.int64()), ("_ver", pa.int64())]),
}
DWS_KEYS = {
    "visitor": ("stt", "edt", "vc", "ch", "ar", "is_new"),
    "province": ("stt", "edt", "province_id", "province_name",
                 "province_area_code", "province_iso_code"),
    "keyword": ("stt", "edt", "word", "source"),
    "product": ("stt", "edt", "sku_id"),
}
AMOUNT_COLS = {"order_amount", "payment_amount"}


def dws_windows(events, order_rows):
    """Window rows {table: {key: measures}} of one day's ODS process, as
    the DWS layer aggregates it: a page is an entry when it has no last
    page (home and detail here), a unique visit when it is the mid's first
    entry of the day, a bounce (user jump) when the mid's next page comes
    more than 10 s later or never."""
    out = {t: {} for t in DWS_KEYS}

    def win(ms):
        s = ms - ms % WINDOW_MS
        return fmt_ts(s), fmt_ts(s + WINDOW_MS)

    def add(table, key, **m):
        r = out[table].setdefault(key, {})
        for c, v in m.items():
            r[c] = r.get(c, 0) + v

    pages = [e for e in events if e["kind"] != "start"]
    nxt, seen = {}, set()
    for e in reversed(pages):
        e["_next"] = nxt.get(e["uid"])
        nxt[e["uid"]] = e["ts"]
    for e in pages:
        w = win(e["ts"])
        entry = e["kind"] != "search"
        uv = entry and e["uid"] not in seen
        if uv:
            seen.add(e["uid"])
        jump = entry and (e["_next"] is None
                          or e["_next"] - e["ts"] > BOUNCE_MS)
        add("visitor", w + ("v1", e["ch"], "1", "0"), uv_ct=int(uv),
            pv_ct=1, sv_ct=int(entry), uj_ct=int(jump), dur_sum=e["dur"])
        if e["kind"] == "search":
            add("keyword", w + (e["item"], "search"), ct=1)
        elif e["kind"] == "detail":
            add("product", w + (int(e["item"]),), click_ct=1)
        for s in e.get("displays", ()):
            add("product", w + (int(s),), display_ct=1)
    for o in order_rows:
        w = win(o["c_ms"])
        i = o["prov"]
        add("province", w + (i, PROVINCES[i], str(100 + i), f"ISO-{i}"),
            order_count=1, order_amount=o["amt"])
        add("product", w + (o["sku"],), favor_ct=1, cart_ct=1,
            order_amount=o["amt"], order_ct=1)
        add("product", win(o["p_ms"]) + (o["sku"],),
            payment_amount=o["amt"], paid_order_ct=1)
    return out


def expected_answers(latest, top_n):
    """ADS answers per (endpoint, yyyyMMdd) from the deduplicated rows,
    in the canonical text form the JVM side prints: rows joined by ';',
    fields by '|', amounts with two decimals."""
    by_day = {}
    for table, rows in latest.items():
        for r in rows:
            day = r["stt"][:10].replace("-", "")
            by_day.setdefault((table, day), []).append(r)
    out = {}
    for (table, day), rows in by_day.items():
        if table == "product":
            out[f"gmv|{day}"] = _cents(sum(r["order_amount"] for r in rows))
            agg = {}
            for r in rows:
                agg[r["sku_id"]] = agg.get(r["sku_id"], 0) + r["order_amount"]
            top = sorted(((a, s) for s, a in agg.items() if a > 0),
                         key=lambda x: (-x[0], x[1]))[:top_n]
            out[f"product|{day}"] = ";".join(f"{s}|{_cents(a)}"
                                             for a, s in top)
        elif table == "visitor":
            agg = {}
            for r in rows:
                a = agg.setdefault(r["is_new"], [0, 0, 0, 0, 0])
                for i, c in enumerate(("uv_ct", "pv_ct", "sv_ct", "uj_ct",
                                       "dur_sum")):
                    a[i] += r[c]
            out[f"visitor|{day}"] = ";".join(
                "|".join([k] + [str(v) for v in agg[k]]) for k in sorted(agg))
        elif table == "province":
            agg = {}
            for r in rows:
                a = agg.setdefault((r["province_id"], r["province_name"]),
                                   [0, 0])
                a[0] += r["order_amount"]
                a[1] += r["order_count"]
            top = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0][0]))
            out[f"province|{day}"] = ";".join(
                f"{pid}|{name}|{_cents(a)}|{n}"
                for (pid, name), (a, n) in top[:top_n])
        else:
            agg = {}
            for r in rows:
                agg[r["word"]] = agg.get(r["word"], 0) + r["ct"]
            top = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))
            out[f"keyword|{day}"] = ";".join(f"{w}|{c}"
                                             for w, c in top[:top_n])
    return out


def gen_dws(out_dir, seed, params=None):
    """Write `<table>/part-%05d.parquet` sink files and `expected.json`.
    Each day's windows are split over `files_per_day` files in time order
    (file f carries `_ver` = day * files_per_day + f + 1). A `dup_share`
    of the rows is also written once more: half as an exact replay, half
    as a superseded lower `_ver` holding half of each measure (an earlier,
    partial firing of the window) in the file before."""
    p = dict(DWS_DEFAULTS, **(params or {}))
    ods = dict(ODS_DEFAULTS, **(params or {}))
    nf = p["files_per_day"]
    files = {t: [] for t in DWS_KEYS}
    latest = {t: [] for t in DWS_KEYS}
    days = []
    for d in range(p["days"]):
        day0 = DAY0_MS + d * 86_400_000
        days.append(fmt_ts(day0)[:10].replace("-", ""))
        n = p["events_per_day"]
        wins = dws_windows(
            page_events(random.Random(f"{seed}:dws:{d}:log"), n, day0,
                        86_400_000, ods),
            orders(random.Random(f"{seed}:dws:{d}:db"),
                   round(n * ods["orders_per_event"]), day0, 86_400_000,
                   ods, 1_000_000 + d * 100_000))
        for table, keyed in wins.items():
            rng = random.Random(f"{seed}:dws:{d}:{table}")
            cols = DWS_SCHEMAS[table].names
            per_file = [[] for _ in range(nf)]
            for key in sorted(keyed):
                r = dict(zip(DWS_KEYS[table], key))
                r.update({c: keyed[key].get(c, 0) for c in cols
                          if c not in r and c != "_ver"})
                hh, mm, ss = r["stt"][11:].split(":")
                f = ((int(hh) * 60 + int(mm)) * 60 + int(ss)) * nf // 86_400
                v = d * nf + f + 1
                if rng.random() < p["dup_share"]:
                    if rng.random() < 0.5:
                        per_file[f].append(dict(r, _ver=v))
                    else:
                        stale = {c: (x if c in DWS_KEYS[table] else x // 2)
                                 for c, x in r.items()}
                        per_file[max(f - 1, 0)].append(dict(stale, _ver=v - 1))
                per_file[f].append(dict(r, _ver=v))
                latest[table].append(r)
            files[table].extend(per_file)
    for table, table_files in files.items():
        schema = DWS_SCHEMAS[table]
        os.makedirs(f"{out_dir}/{table}", exist_ok=True)
        for i, rows in enumerate(table_files):
            cols = {}
            for field in schema:
                vals = [r[field.name] for r in rows]
                if field.name in AMOUNT_COLS:
                    vals = [Decimal(v).scaleb(-2) for v in vals]
                cols[field.name] = pa.array(vals, field.type)
            pq.write_table(pa.table(cols, schema=schema),
                           f"{out_dir}/{table}/part-{i:05d}.parquet")
    exp = {"days": days, "top_n": p["top_n"],
           "answers": expected_answers(latest, p["top_n"])}
    with open(f"{out_dir}/expected.json", "w") as f:
        json.dump(exp, f, sort_keys=True)
    return exp


# ----------------------------------------------------------------------
# open-vocabulary documents
# ----------------------------------------------------------------------

DOC_DEFAULTS = dict(
    docs=2500,                 # unverified: half of sf0.1's 5000 rows, to
                               # fit the run budget
    min_words=10, max_words=100,  # sf0.1 documents: 10-100, uniform
    # sf0.1 documents: documents per language; sources src0-src19 hold
    # 250 documents each
    lang_counts=(("de", 702), ("en", 2059), ("es", 744), ("fr", 742),
                 ("zh", 753)),
    sources=20,
    core_words=31,             # sf0.1 documents: a closed 31-word vocabulary
    # unverified: the share of words from the rehearsal's open-vocabulary
    # Zipf tail. It sets how many documents pass the LM filter (CE <= 3.45):
    # at 0.002 about 56-62 % do (0.005: ~48 %, 0.01: ~16 %, 0.015: < 1 %),
    # so dedup, mixing and packing work on over a thousand survivors, a
    # count that stays within 2 % from seed to seed
    tail_share=0.002,
)


def gen_docs(path, seed, params=None):
    """Write the `documents` table (doc_id, text, lang, source, n_chars)
    with the rehearsal's corpus process, whose word draw here is a core
    word with probability 1 - tail_share and a Zipf tail word otherwise."""
    p = dict(DOC_DEFAULTS, **(params or {}))
    rng = random.Random(f"{seed}:docs")
    tail = rehearsal.zipf_sampler(rng, rehearsal.VOCAB_POOL,
                                  rehearsal.ZIPF_S)
    core = p["core_words"]

    def draw():
        if rng.random() < p["tail_share"]:
            return core + tail()
        return rng.randrange(core)

    langsrc = [(lang, f"src{s}") for lang, c in p["lang_counts"]
               for s in range(p["sources"]) for _ in range(c)]
    texts, langs, sources = rehearsal.gen_corpus(
        rng, p["docs"], list(range(p["min_words"], p["max_words"] + 1)),
        langsrc, draw)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return {"docs": len(texts)}
