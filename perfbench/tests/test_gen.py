import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import stats  # noqa: E402


def tree(d):
    out = {}
    for dp, _, fns in os.walk(d):
        for f in fns:
            with open(os.path.join(dp, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dp, f), d)] = fh.read()
    return out


SMALL_ODS = dict(events_per_slice=200, slice_ms=120_000)


class DeterminismTest(unittest.TestCase):
    """The same seed writes byte-identical inputs; another seed does not."""

    def check(self, write):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            write(f"{d}/a", 7)
            write(f"{d}/b", 7)
            write(f"{d}/c", 8)
            a, b, c = tree(f"{d}/a"), tree(f"{d}/b"), tree(f"{d}/c")
            self.assertTrue(a)
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)

    def test_ods(self):
        self.check(lambda d, s: gen.gen_ods(d, s, 1_700_000_000_000,
                                            SMALL_ODS))

    def test_dws(self):
        self.check(lambda d, s: gen.gen_dws(d, s, dict(days=2,
                                                       events_per_day=300)))

    def test_docs(self):
        self.check(lambda d, s: gen.gen_docs(f"{d}/documents.parquet", s,
                                             dict(docs=80)))


class OdsContractTest(unittest.TestCase):

    def test_timeline(self):
        t0 = 1_700_000_000_000
        logs, cdc, hi = gen.ods_backlog(3, t0, SMALL_ODS)
        self.assertEqual(hi, t0 + 120_000)
        self.assertEqual(len(logs), 200)
        self.assertEqual(len(cdc), 7 * 30)  # 0.15 orders per log line
        tables = {json.loads(c)["tableName"] for c in cdc}
        self.assertEqual(tables, {"order_info", "order_detail",
                                  "payment_info", "favor_info", "cart_info",
                                  "comment_info", "refund_payment"})
        seen = set()
        for line in logs:
            rec = json.loads(line)
            self.assertTrue(t0 <= rec["ts"] < hi)
            key = (rec["common"]["mid"], rec["ts"])
            self.assertNotIn(key, seen)  # the Bounce contract
            seen.add(key)
        for c in cdc:
            env = json.loads(c)
            after = env["after"]
            t = (int(after["ts"]) if "ts" in after
                 else stats.stt_ms(after["create_time"]))
            self.assertTrue(t0 <= t < hi, env)


class DwsExpectedTest(unittest.TestCase):

    def test_windows_aggregate_the_ods_process(self):
        t0 = gen.DAY0_MS
        ev = [
            # u1: entry, search 5 s later, entry 60 s later (a bounce)
            {"ts": t0 + 1_000, "uid": 1, "ch": "view", "kind": "home",
             "dur": 10},
            {"ts": t0 + 6_000, "uid": 1, "ch": "view", "kind": "search",
             "item": "kw3", "dur": 20},
            {"ts": t0 + 66_000, "uid": 1, "ch": "view", "kind": "detail",
             "item": "4", "dur": 30, "displays": ["4", "5"]},
            {"ts": t0 + 67_000, "uid": 2, "ch": "view", "kind": "start"},
        ]
        orders = [{"oid": 1, "uid": 2, "prov": 3, "sku": 4, "amt": 1234,
                   "c_ms": t0 + 2_000, "p_ms": t0 + 62_000}]
        w = gen.dws_windows(ev, orders)
        w0 = (gen.fmt_ts(t0), gen.fmt_ts(t0 + 10_000))
        w60 = (gen.fmt_ts(t0 + 60_000), gen.fmt_ts(t0 + 70_000))
        self.assertEqual(w["visitor"][w0 + ("v1", "view", "1", "0")],
                         {"uv_ct": 1, "pv_ct": 2, "sv_ct": 1, "uj_ct": 0,
                          "dur_sum": 30})
        self.assertEqual(w["visitor"][w60 + ("v1", "view", "1", "0")],
                         {"uv_ct": 0, "pv_ct": 1, "sv_ct": 1, "uj_ct": 1,
                          "dur_sum": 30})
        self.assertEqual(w["keyword"], {w0 + ("kw3", "search"): {"ct": 1}})
        self.assertEqual(w["product"][w60 + (4,)],
                         {"click_ct": 1, "display_ct": 1,
                          "payment_amount": 1234, "paid_order_ct": 1})
        self.assertEqual(w["product"][w0 + (4,)],
                         {"favor_ct": 1, "cart_ct": 1, "order_amount": 1234,
                          "order_ct": 1})
        self.assertEqual(
            w["province"][w0 + (3, "PROVINCE_03", "103", "ISO-3")],
            {"order_count": 1, "order_amount": 1234})

    def test_answers_use_latest_version_only(self):
        latest = {
            "product": [
                {"stt": "2023-11-15 00:00:00", "sku_id": 1,
                 "order_amount": 1050},
                {"stt": "2023-11-15 00:00:10", "sku_id": 2,
                 "order_amount": 2000},
                {"stt": "2023-11-15 00:00:10", "sku_id": 1,
                 "order_amount": 0}],
            "keyword": [
                {"stt": "2023-11-15 00:00:00", "word": "kw1", "ct": 3},
                {"stt": "2023-11-15 00:00:10", "word": "kw2", "ct": 3}],
        }
        ans = gen.expected_answers(latest, top_n=5)
        self.assertEqual(ans["gmv|20231115"], "30.50")
        self.assertEqual(ans["product|20231115"], "2|20.00;1|10.50")
        self.assertEqual(ans["keyword|20231115"], "kw1|3;kw2|3")

    def test_files_hold_stale_and_replayed_rows(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            exp = gen.gen_dws(d, 5, dict(days=2, dup_share=0.5,
                                         events_per_day=300))
            self.assertEqual(len(exp["days"]), 2)
            rows = pq.read_table(f"{d}/product").to_pylist()
            keys = [(r["stt"], r["sku_id"]) for r in rows]
            self.assertGreater(len(keys), len(set(keys)))
            gmv = {}
            best = {}
            for r in rows:
                k = (r["stt"], r["sku_id"])
                if k not in best or r["_ver"] > best[k]["_ver"]:
                    best[k] = r
            for r in best.values():
                day = r["stt"][:10].replace("-", "")
                gmv[day] = gmv.get(day, 0) + r["order_amount"]
            for day, v in gmv.items():
                self.assertEqual(exp["answers"][f"gmv|{day}"], f"{v:.2f}")


if __name__ == "__main__":
    unittest.main()
