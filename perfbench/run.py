"""Benchmark of the graft engine, end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs perfbench/scala/graftbench/Main.scala
in one JVM with local[nproc], checks every output against the DuckDB
oracle, and prints each metric as `name value unit`, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (a SparkListener and a QueryExecutionListener are attached). The
full result, with every failure named, is written to
`.bench_results/<workload>-seed<seed>-trace<t>.json`. A run exits 1 if
any operation threw or produced a wrong output. perfbench/README.md
describes the workloads and metrics.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = sorted(gen.SIZES)
JVM_TIMEOUT_S = 120
# set-up probes: JVMs that only start, load the tables and exit; the
# run's set-up time is the median over them and the measuring JVM. One
# probe keeps a run near a minute, so that ~50 runs fit in an hour.
SETUP_PROBES = 1
EVENTS_MARTS = ["stg_events", "dim_user", "dim_event_type", "fct_events",
                "rpt_user_counts", "rpt_type_counts", "rpt_discovery", "dq_checks"]
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# -------------------------------------------------------------------- jvm

def run_jvm(classpath, workload, data, work, seconds, trace, raw, probe=False):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", workload, "--data", data,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace), "--out", raw]
    if probe:
        cmd += ["--probe", "1"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; log: {log_path}")
    if code != 0 or not os.path.exists(raw):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(raw) as f:
        return json.load(f)


# ------------------------------------------------------------------ oracle

def _frames_differ(got, exp, ordered):
    """compare.py's rules: sorted column names, equal row counts and
    dtype kinds, floats within 1e-9 with the sign of zero exact; rows
    in stored order unless `ordered` is False."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns {gcols} vs {ecols}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    kinds = [(c, got[c].dtype.kind, exp[c].dtype.kind) for c in gcols
             if got[c].dtype.kind != exp[c].dtype.kind]
    if kinds:
        return f"dtype kinds {kinds}"
    got, exp = got[gcols], exp[gcols]
    if not ordered:
        got = got.sort_values(gcols, key=lambda s: s.astype(str))
        exp = exp.sort_values(gcols, key=lambda s: s.astype(str))
    got, exp = got.reset_index(drop=True), exp.reset_index(drop=True)
    for c in gcols:
        g, e = got[c], exp[c]
        if g.dtype.kind == "f":
            gv, ev = g.to_numpy(dtype="float64"), e.to_numpy(dtype="float64")
            gn, en = np.isnan(gv), np.isnan(ev)
            bad = (gn != en) | (~gn & ~en & ((np.abs(gv - ev) > 1e-9) |
                                             ((gv == 0) & (ev == 0) & (np.signbit(gv) != np.signbit(ev)))))
        else:
            bad = (g.isna() != e.isna()) | (~g.isna() & (g.astype(str) != e.astype(str)))
            bad = bad.to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"row {i} col {c}: got {g.iloc[i]!r} want {e.iloc[i]!r}"
    return None


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise RuntimeError(f"no parquet output under {path}")
    return f"read_parquet({files!r})"


def oracle_checks(workload, raw, data, timings):
    """Named failures of every output that differs from its oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"set threads to {cores()}")
    con.execute(f"set temp_directory = '{os.path.join(os.path.dirname(data), 'duckdb_tmp')}'")
    checks, failures, n = raw["checks"], [], 0

    def check(name, got_sql, exp_sql, ordered):
        nonlocal n
        n += 1
        t = time.time()
        try:
            bad = _frames_differ(con.sql(got_sql).df(), con.sql(exp_sql).df(), ordered)
        except Exception as e:  # a throw is a failure of the output, named
            bad = f"{type(e).__name__}: {e}"
        if bad:
            failures.append({"op": name, "pass": "final", "error": bad[:300]})
        timings[name] = time.time() - t

    if workload == "events_pipeline":
        horizon = int(checks["horizon_us"])
        con.execute(f"create view events as select * from read_parquet('{data}/events.parquet') "
                    f"where epoch_us(ts) <= {horizon}")
        check("oracle:ingest_store",
              f"select * exclude (__kb) from {_parquet(checks['ingest'])}",
              "select event_id, epoch_us(ts) as ts_us, user_id, event_type, value, props "
              "from events", ordered=False)
        for mart, sql in sorted(checks["marts"].items()):
            got = f"select * from {_parquet(os.path.join(checks['warehouse'], mart))}"
            if mart == "stg_events":  # a1 spells the staging timestamps as epoch micros
                got = (f"select * exclude (ts, ts_mtn), epoch_us(ts) as ts_us, "
                       f"epoch_us(ts_mtn) as ts_mtn_us from ({got})")
            check(f"oracle:{mart}", got, sql, ordered=False)
    else:
        for t in ("documents", "embeddings"):
            con.execute(f"create view {t} as select * from read_parquet('{data}/{t}.parquet')")
        for key, sql in sorted(checks["keyed"].items()):
            check(f"oracle:{key}", f"select * from {_parquet(os.path.join(checks['out'], key))}",
                  sql, ordered=True)
    return n, failures


# ----------------------------------------------------------------- metrics

def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _dur(s):
    return (s["end"] - s["start"]) / 1e9


def op_times(workload, raw, keep_failed=False):
    """{pass: {op: seconds}}: a mart's build and write, or a keyed
    query's build and drain. Failed operations are left out unless
    `keep_failed`: a failure is named, never timed."""
    failed = {(f["op"], f["pass"]) for f in raw["failures"]}
    ops = {}
    for s in raw["spans"]:
        if workload == "events_pipeline" and s["layer"] == "martrunner":
            op = "mart:" + s["name"].split(":", 1)[1]
        elif workload != "events_pipeline" and s["layer"] == "op":
            op = s["name"]
        else:
            continue
        if keep_failed or (op, s["pass"]) not in failed:
            ops.setdefault(s["pass"], {}).setdefault(op, 0.0)
            ops[s["pass"]][op] += _dur(s)
    return ops


def end_to_end(workload, raw):
    walls = {p["pass"]: (p["end"] - p["start"]) / 1e9 for p in raw["passes"]}
    steady = [walls[p] for p in walls if p >= 3]  # pass 2 is the JIT warm-up
    ops = op_times(workload, raw)
    warm_ops = sorted(t for p, o in ops.items() if p >= 3 for t in o.values())
    m = {
        "setup_s": (_med(raw["setup_s"]), "s"),
        "cold_s": (walls[1], "s"),
        "warm_s": (_med(steady), "s"),
        "op_p50_s": (_med(warm_ops), "s"),
        "retained_mb": (raw["retained_mb"], "MB"),
    }
    # a percentile is reported only with at least ten samples beyond it
    n = len(warm_ops)
    notes = {"samples": {"setup_s": len(raw["setup_s"]), "cold_s": 1, "warm_s": len(steady),
                         "op_p50_s": n, "retained_mb": 1},
             "peak_rss_mb": raw["peak_rss_mb"]}
    if n >= 100:
        notes["op_p90_s"] = f"{warm_ops[math.ceil(0.9 * n) - 1]:.6g} s"
    else:
        notes["op_p90_s"] = f"not reported: {n} warm operations, p90 needs 100"
    return m, notes


def self_times(spans, jobs, start, end):
    """Attribute each instant of a pass to one layer: `spark` while a job
    runs, else the layer of the innermost span on the calling thread, else
    `other`."""
    drv = [s for s in spans if s["parent"] >= 0
           and not (s["layer"] == "pipeline" and s["name"] in ("ingest", "dag", "export"))]
    cuts = sorted({start, end} | {t for s in drv for t in (s["start"], s["end"])}
                  | {t for j in jobs for t in j[1:]})
    cuts = [t for t in cuts if start <= t <= end]
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        if any(j[1] <= mid < j[2] for j in jobs):
            layer = "spark"
        else:
            inner = [s for s in drv if s["start"] <= mid < s["end"]]
            layer = max(inner, key=lambda s: s["start"])["layer"] if inner else "other"
            layer = "operators" if layer == "op" else layer
        out[layer] = out.get(layer, 0.0) + (b - a) / 1e9
    return out


def per_layer(workload, raw, ncores):
    passes = {p["pass"]: p for p in raw["passes"]}
    walls = {p: (v["end"] - v["start"]) / 1e9 for p, v in passes.items()}
    steady = [p for p in passes if p >= 3]
    last = max(passes)
    tr = raw["trace"]
    by_pass = {}
    for s in raw["spans"]:
        by_pass.setdefault(s["pass"], []).append(s)

    def span_sum(p, layer, prefix=""):
        return sum(_dur(s) for s in by_pass.get(p, [])
                   if s["layer"] == layer and s["name"].startswith(prefix))

    def warm(f):
        return _med([f(p) for p in steady])

    def counter(p, k):
        return tr["counters"].get(str(p), {}).get(k, 0.0)

    def jobs(p):
        return [j for j in tr["jobs"] if j[0] == p]

    def busy(p):
        """Wall time of pass p with at least one job running."""
        t, reach = 0, passes[p]["start"]
        for _, a, b in sorted(jobs(p), key=lambda j: j[1]):
            a, b = max(a, reach), min(b, passes[p]["end"])
            if b > a:
                t, reach = t + b - a, b
        return t / 1e9

    fetched = {f["pass"]: f["rows"] for f in raw.get("fetched", [])}
    store = {s["pass"]: s for s in raw.get("store", [])}
    storage = {s["pass"]: s for s in tr["storage"]}
    inserts = [s for s in by_pass.get(1, []) if s["name"].startswith("store.insert:")]
    ops = op_times(workload, raw)
    cold, warm_s = walls[1], _med([walls[p] for p in steady])
    m = {
        "pipeline.ingest_s": (warm(lambda p: span_sum(p, "pipeline", "ingest")), "s"),
        "pipeline.dag_s": (warm(lambda p: span_sum(p, "pipeline", "dag")), "s"),
        "pipeline.export_s": (span_sum(1, "pipeline", "export"), "s"),
        "pipeline.fetched_rows": (warm(lambda p: fetched.get(p, 0)), "count"),
        "pipeline.pages": (warm(lambda p: sum(1 for s in by_pass.get(p, []) if s["name"] == "fetch")),
                           "count"),
        "martrunner.build_s": (span_sum(1, "martrunner", "build:"), "s"),
        "martrunner.write_s": (span_sum(1, "martrunner", "write:"), "s"),
    }
    for mart in EVENTS_MARTS:
        m[f"martrunner.mart_s.{mart}"] = (warm(lambda p: ops.get(p, {}).get("mart:" + mart, 0.0)), "s")
    m.update({
        "sources.export_s": (sum(_dur(s) for s in inserts), "s"),
        "sources.export_rows": (sum(int(s["name"].rsplit(":", 1)[1]) for s in inserts), "count"),
        "streaming.store_files": (store.get(last, {}).get("files", 0), "count"),
        "streaming.store_bytes": (store.get(last, {}).get("bytes", 0), "bytes"),
        "operators.build_s": (span_sum(1, "operators", "build"), "s"),
        "operators.exec_s": (warm(lambda p: span_sum(p, "operators", "exec")), "s"),
        "memo.cold_extra_s": (cold - warm_s, "s"),
        "memo.cached_bytes": (storage.get(last, {}).get("cached_bytes", 0), "bytes"),
        "memo.cached_rdds": (storage.get(last, {}).get("cached_rdds", 0), "count"),
    })
    for k, unit in [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
                    ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
                    ("spark.input_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
                    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
                    ("spark.output_bytes", "bytes"), ("plans.queries", "count"),
                    ("plans.planning_s", "s"),
                    ("plans.exchanges", "count"), ("plans.smj", "count"), ("plans.bhj", "count"),
                    ("plans.bnlj", "count"), ("plans.graft_nodes", "count")]:
        m[k] = (warm(lambda p: counter(p, k)), unit)
    m["spark.driver_idle_s"] = (warm(lambda p: walls[p] - busy(p)), "s")
    m["spark.core_util"] = (warm(lambda p: counter(p, "spark.task_s") / (ncores * walls[p])), "ratio")
    selfs = {p: self_times(by_pass.get(p, []), jobs(p), passes[p]["start"], passes[p]["end"])
             for p in steady}
    for layer in ("pipeline", "martrunner", "sources", "operators", "spark", "other"):
        m[f"self_s.{layer}"] = (warm(lambda p: selfs[p].get(layer, 0.0)), "s")
    m["trace.cold_s"] = (cold, "s")
    m["trace.warm_s"] = (warm_s, "s")
    return m


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, stamp = build.build()
    base = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(base, ignore_errors=True)
    data, work = os.path.join(base, "data"), os.path.join(base, "run")
    os.makedirs(work)
    t = time.time()
    rows = gen.generate(a.workload, a.seed, data)
    inputs = {"rows": rows, "fingerprint": gen.fingerprint(data),
              "bytes": {f: os.path.getsize(os.path.join(data, f)) for f in sorted(os.listdir(data))}}
    phases = {"gen_s": time.time() - t, "oracle_s": {}}

    t = time.time()
    probes = [run_jvm(classpath, a.workload, data, work, a.seconds, 0,
                      os.path.join(work, f"probe{i}.json"), probe=True)["setup_s"]
              for i in range(SETUP_PROBES)]
    phases["probes_s"] = time.time() - t
    t = time.time()
    raw = run_jvm(classpath, a.workload, data, work, a.seconds, a.trace,
                  os.path.join(work, "raw.json"))
    raw["setup_s"] = [raw["setup_s"]] + probes
    phases.update(jvm_s=time.time() - t, jvm_check_s=raw["check_s"])
    n_oracle, oracle_failures = oracle_checks(a.workload, raw, data, phases["oracle_s"])
    failures = raw["failures"] + oracle_failures
    # timed operations plus the output checks run on them
    attempted = sum(len(o) for o in op_times(a.workload, raw, keep_failed=True).values()) + \
        raw["checks_run"] + n_oracle
    ncores = raw["cores"]
    e2e, notes = end_to_end(a.workload, raw)
    metrics = per_layer(a.workload, raw, ncores) if a.trace else e2e

    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    untraced_file = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
    overhead = None
    if a.trace and os.path.exists(untraced_file):
        # only an untraced run of the same build and inputs is comparable
        with open(untraced_file) as f:
            untraced = json.load(f)
        if untraced.get("build") == stamp and untraced["inputs"]["fingerprint"] == inputs["fingerprint"]:
            overhead = {k: e2e[k][0] - untraced["end_to_end"][k][0] for k in ("cold_s", "warm_s")}
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": ncores, "build": stamp,
        "inputs": inputs, "drain": "noop sink over all rows and columns",
        "end_to_end": e2e, "notes": notes, "per_layer": metrics if a.trace else None,
        "trace_overhead_s": overhead, "attempted": attempted, "failures": failures,
        "fail_share": len(failures) / max(1, attempted),
        "passes": [{"pass": p["pass"], "wall_s": (p["end"] - p["start"]) / 1e9}
                   for p in raw["passes"]],
        "setup_samples_s": raw["setup_s"],
        "ops_s": op_times(a.workload, raw),
        "phases_s": phases,
    }
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)

    for f in failures:
        print(f"FAILED {f['op']} (pass {f['pass']}): {f['error']}")
    print(f"fail_share {result['fail_share']:.4f} ratio ({len(failures)} of {attempted})")
    for k, (v, unit) in metrics.items():
        n = "" if a.trace else f" (n={notes['samples'][k]})"
        print(f"{k} {v:.6g} {unit}{n}")
    if not a.trace:
        print(f"op_p90_s {notes['op_p90_s']}")
        print(f"peak_rss_mb {notes['peak_rss_mb']:.6g} MB")
    elif overhead:
        for k, v in overhead.items():
            print(f"trace_overhead.{k} {v:.6g} s")
    else:
        print(f"trace_overhead not reported: no untraced result of this build and inputs (seed {a.seed})")
    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
