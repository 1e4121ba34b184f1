#!/usr/bin/env python3
"""graft workload benchmark.

Runs one seeded workload against graft's public entry points in one JVM
at local[$SPARK_GRAFT_CPUS] (default: nproc) and prints, as the last line
of standard output, one JSON object:

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the line before the
result gives the tracing overhead against an untraced run of the same
seed. Earlier lines give the workload's metrics under their own names and
the host weather of the run.

Usage (from the repository root):
  python3 perfbench/run.py --workload wh_catchup --seed 1 --seconds 10 --trace 0
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

GEN_REPEATS = 3
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)

# Generator parameters are the defaults in gen.py; the ADS run shape is
# in PerfBench.scala.
T0_MS = 1_700_000_000_000  # 2023-11-14 22:13:20 UTC: timeline origin

END_TO_END = ("setup_s", "items_per_s", "latency_ms", "heap_live_peak_mb")
UNITS = {"setup_s": "s", "items_per_s": "1/s", "latency_ms": "ms",
         "heap_live_peak_mb": "MB"}
LAYERS = ("dwd.base_log", "dwd.base_db", "dwm.unique_visit", "dwm.user_jump",
          "dwm.order_wide", "dwm.payment_wide", "dws.visitor",
          "dws.province", "dws.keyword", "dws.product")
LAYER_FIELDS = ("batches", "busy_s", "work_s", "fixed_s", "rows_in",
                "state_rows", "late_dropped")
LAG_TOPICS = ("dwd_page_log", "dwd_order_info", "dwm_unique_visit",
              "dwm_user_jump_detail", "dwm_order_wide", "dwm_payment_wide")
ENGINE = ("spark.jobs", "spark.stages", "spark.task_s", "spark.driver_s",
          "spark.util", "spark.shuffle_write_mb", "spark.spill_mb",
          "spark.gc_s", "spark.tasks_failed")


def per_layer_units():
    """Every per-layer metric name → unit, in BENCHMARK.json order."""
    u = {}
    for q in LAYERS:
        for f, unit in zip(LAYER_FIELDS, ("count", "s", "s", "s", "rows",
                                          "rows", "rows")):
            u[f"{q}.{f}"] = unit
    for t in LAG_TOPICS:
        u[f"lag.{t}_p50_s"] = "s"
    for t in stats.DWS:
        u[f"lag.dws_{t}_p50_s"] = "s"
    u.update({"wh.start_s": "s", "wh.drain_s": "s", "wh.gate_s": "s"})
    u.update(zip(ENGINE, ("count", "count", "s", "s", "ratio", "MB", "MB",
                          "s", "count")))
    for e in ("gmv", "visitor", "province", "keyword", "product"):
        u[f"ads.{e}_ms"] = "ms"
    u.update({"host.other_cores": "cores", "host.io_mbps": "MB/s"})
    return u


class HarnessError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def tree_bytes(d):
    """Relative path → bytes for every file under d (determinism check)."""
    out = {}
    for dp, _, fns in os.walk(d):
        for f in fns:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def generate(workload, seed, dst):
    """Write the workload's inputs under dst; returns generator facts."""
    if workload == "wh_catchup":
        man = gen.gen_ods(f"{dst}/backlog", seed, T0_MS)
        gen.write_horizon(f"{dst}/sf", man["hi"])
        return {"manifest": man}
    if workload == "ads_dashboard":
        exp = gen.gen_dws(f"{dst}/ads/dws", seed)
        with open(f"{dst}/expected.tsv", "w") as f:
            for k in sorted(exp["answers"]):
                f.write(f"{k}\t{exp['answers'][k]}\n")
        return {"expected": exp}
    if workload == "curate_batch":
        return gen.gen_docs(f"{dst}/corpus.parquet", seed)
    raise HarnessError(f"unknown workload {workload}")


def run_jvm(out, params, work, deadline):
    props = os.path.join(work, "params.properties")
    with open(props, "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(out, tmp, build.archive_flag(out)) + [props]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's local files in the work dir
    jlog = os.path.join(work, "jvm.log")
    with open(jlog, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=lf, env=env)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise HarnessError("JVM timed out")
    res_path = os.path.join(work, "jvm_result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(jlog, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise HarnessError(f"JVM exited {rc}:\n{tail}")
    with open(res_path) as f:
        return json.load(f)


def pct(samples, q, what):
    v = stats.percentile(samples, q)
    if v is None:
        raise HarnessError(f"{what}: {len(samples)} samples are too few "
                           f"for p{int(q * 100)}")
    return v


# ---------------------------------------------------------------------
# per-workload result reduction
# ---------------------------------------------------------------------

def reduce_catchup(res, facts, trace):
    """items: ODS records per second of catch-up. Every record is complete
    when drainAll returns, so the latency is the catch-up wall. One
    operation, the catch-up; it fails if a check of the chain failed or a
    DWS table holds no window of the backlog."""
    man = facts["manifest"]
    records = man["log"] + man["db"] + man["dims"]
    start = res["start_ms"]
    wall = (res["end_ms"] - start) / 1000.0
    problems = list(res["failed_checks"])

    def lags(files):
        """ms from Warehouse.start until each window of the backlog first
        arrived."""
        return [v - start for w, v in stats.first_arrival(files).items()
                if man["lo"] <= w < man["hi"]]

    arrivals = {t: lags(stats.read_dws(res["dir"], t)) for t in stats.DWS}
    problems += [f"dws {t}: no window of the backlog" for t in stats.DWS
                 if not arrivals[t]]
    for p in problems:
        log(f"catch-up check failed: {p}")
    m = {"items_per_s": records / wall, "latency_ms": wall * 1000}
    named = {"catchup_events_per_s": (m["items_per_s"], "1/s"),
             "catchup_s": (wall, "s")}
    visible = [x for t in stats.DWS for x in arrivals[t]]
    vis = stats.percentile(visible, 0.5)
    if vis is not None:
        named["window_visible_p50_s"] = (vis / 1000, "s")
        named["windows"] = (len(visible), "count")
    layer = {}
    if trace:
        layer["wh.start_s"] = (res["started_ms"] - start) / 1000
        layer["wh.drain_s"] = (res["end_ms"] - res["started_ms"]) / 1000
        layer["wh.gate_s"] = res["gate_s"]
        for label in LAG_TOPICS:
            xs = lags(stats.read_topic(res["dir"], label))
            layer[f"lag.{label}_p50_s"] = (stats.median(xs) or 0) / 1000
        for t in stats.DWS:
            layer[f"lag.dws_{t}_p50_s"] = (stats.median(arrivals[t])
                                           or 0) / 1000
    return m, named, 1, 1 if problems else 0, layer


def reduce_ads(res, facts, trace):
    lat = res["latencies_ms"]
    m = {"items_per_s": res["attempted"] / res["wall_s"],
         "latency_ms": pct(lat, 0.5, "ads latency")}
    named = {"ads_p50_ms": (m["latency_ms"], "ms"),
             "ads_rps": (m["items_per_s"], "1/s"),
             "requests": (len(lat), "count")}
    # the highest of these percentiles with ten samples beyond it
    for q in (0.9, 0.75):
        v = stats.percentile(lat, q)
        if v is not None:
            named[f"ads_p{round(q * 100)}_ms"] = (v, "ms")
            break
    for what in ("errors", "mismatches"):
        if res[what]:
            log(f"ads {what}: {res[what]}")
    layer = {}
    if trace:
        for e in ("gmv", "visitor", "province", "keyword", "product"):
            xs = [l for l, ep in zip(lat, res["endpoints"]) if ep == e]
            layer[f"ads.{e}_ms"] = stats.median(xs) or 0
    return m, named, res["attempted"], res["failed"], layer


def oracle_check(work, output):
    """The curate output equals the x_curation_e2e DuckDB oracle on the
    generated corpus; returns (problems, rows the oracle keeps)."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{work}/inputs/corpus.parquet'")
    with open(f"{work}/oracle.sql") as f:
        sql = f.read()
    # an evaluation hint only: without it DuckDB re-evaluates shared CTEs
    # (the component recursion among them) at every reference
    sql = re.sub(r"\n(\s+)(\w+) AS \(", r"\n\1\2 AS MATERIALIZED (", sql)
    want = con.sql(sql).arrow()
    cols = sorted(want.column_names)
    want = want.select(cols).sort_by("doc_id").to_pylist()
    problems = []
    if not want:
        problems.append("oracle kept no documents")
    got = pq.read_table(output)
    if sorted(got.column_names) != cols:
        problems.append(f"columns {got.column_names}")
    else:
        got = got.select(cols).sort_by("doc_id").to_pylist()
        if got != want:
            diff = next((i for i, (a, b) in enumerate(zip(got, want))
                         if a != b), min(len(got), len(want)))
            problems.append(f"{len(got)} vs {len(want)} rows, first "
                            f"difference at {diff}")
    return problems, len(want)


def reduce_curate(res, facts, trace, work):
    """items: input documents per second of the one curate call; the
    latency is the call's wall. One operation, checked by the oracle."""
    docs, wall = facts["docs"], res["wall_s"]
    m = {"items_per_s": docs / wall, "latency_ms": wall * 1000}
    named = {"curate_docs_per_s": (m["items_per_s"], "1/s"),
             "curate_s": (wall, "s")}
    problems, kept = oracle_check(work, res["output"])
    log(f"curate: {kept} documents kept by the oracle")
    for p in problems:
        log(f"curate oracle mismatch: {p}")
    return m, named, 1, 1 if problems else 0, {}


# ---------------------------------------------------------------------

def run(out, workload, seed, seconds, trace):
    deadline = time.time() + 170
    work = os.path.join(out, "work", f"{workload}-{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    failed_setup = []

    # generate the inputs several times: the set-up time takes the median,
    # and the copies must be byte-identical (determinism per seed)
    gen_s, first = [], None
    for i in range(GEN_REPEATS):
        dst = os.path.join(work, "inputs" if i == 0 else f"regen{i}")
        t = time.time()
        facts = generate(workload, seed, dst)
        gen_s.append(time.time() - t)
        if i == 0:
            first = tree_bytes(dst)
            continue
        if tree_bytes(dst) != first:
            failed_setup.append("generator output differs between passes")
        shutil.rmtree(dst)
    inputs = os.path.join(work, "inputs")

    params = {"workload": workload, "work": work, "seconds": seconds,
              "trace": trace, "cpus": CPUS, "seed": seed}
    if workload == "wh_catchup":
        params.update(backlog=f"{inputs}/backlog", sf=f"{inputs}/sf")
    elif workload == "ads_dashboard":
        params.update(dws_root=f"{inputs}/ads",
                      expected_tsv=f"{inputs}/expected.tsv",
                      days=",".join(facts["expected"]["days"]),
                      top_n=facts["expected"]["top_n"])
    else:
        params.update(corpus=f"{inputs}/corpus.parquet")

    launch = time.time()
    res = run_jvm(out, params, work, deadline)
    setup_s = (stats.median(gen_s) + (res["session_ready_ms"] / 1000 - launch)
               + res["warmup_s"])
    if workload == "wh_catchup":
        m, named, att, fail, layer = reduce_catchup(res, facts, trace)
    elif workload == "ads_dashboard":
        m, named, att, fail, layer = reduce_ads(res, facts, trace)
    else:
        m, named, att, fail, layer = reduce_curate(res, facts, trace, work)
    if failed_setup:
        log("; ".join(failed_setup))
        fail = att
    m["setup_s"] = setup_s
    m["heap_live_peak_mb"] = res["heap_live_peak_mb"]
    named.update(setup_s=(setup_s, "s"),
                 heap_live_peak_mb=(m["heap_live_peak_mb"], "MB"))
    log(f"{workload} seed={seed}: " + " ".join(
        f"{k}={v:.4f} {u}" for k, (v, u) in named.items()))
    log(f"host weather: other_cores={res['host_other_cores']:.3f} "
        f"io_mbps={res['host_io_mbps']:.1f}")
    if trace:
        layer.update(res.get("queries", {}))
        layer.update(res.get("engine", {}))
        layer["host.other_cores"] = res["host_other_cores"]
        layer["host.io_mbps"] = res["host_io_mbps"]
    shutil.rmtree(work, ignore_errors=True)
    return m, att, fail, layer


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["wh_catchup", "ads_dashboard", "curate_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    out, build_s = build.build()
    if build_s:
        log(f"built {out} in {build_s:.1f} s")
    try:
        m, att, fail, layer = run(out, a.workload, a.seed, a.seconds,
                                  a.trace)
    except HarnessError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    cache = os.path.join(out, "results")
    os.makedirs(cache, exist_ok=True)
    key = os.path.join(cache, f"{a.workload}-{a.seed}-{a.seconds:g}")
    if a.trace:
        base = None
        if os.path.exists(key + ".json"):
            with open(key + ".json") as f:
                base = json.load(f)
        if base is None:
            log("trace overhead: no untraced run of this seed and length "
                "with this build yet")
        else:
            log("trace overhead (traced - untraced, same seed): " + " ".join(
                f"{k}={m[k] - base[k]:+.4f} {UNITS[k]}" for k in END_TO_END))
        units = per_layer_units()
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        with open(key + ".json", "w") as f:
            json.dump(m, f)
        metrics = {k: {"value": float(m[k]), "unit": UNITS[k]}
                   for k in END_TO_END}
    print(json.dumps({"correct": fail == 0, "attempted": int(att),
                      "failed": int(fail), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
