#!/usr/bin/env python3
"""graft benchmark: one named workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload eda_floor --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (perfbench/harness) when
they changed, prepares the workload's input under perfbench/.work, runs
the harness (a closed loop with one client on local[cores]) and checks
every query's output against perfbench/expected. With --trace 0 the last
line carries the end-to-end metrics, with --trace 1 the per-layer ones.
See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import stats

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
HARNESS = BENCH / "harness"
CLASSES = HARNESS / "target" / "scala-2.13" / "classes"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BASE_DATA = BENCH / "data" / "sf0.01"

# The reference's preprocessing outputs (processed_*/featured_* tables)
PREP = [
    "q08_outlier_clip", "q18_split", "q20_ordinal_encode", "q21_onehot",
    "q22_bool_map", "q23_bucket_map", "q24_impute", "q25_standard_scale",
    "q26_ratio_features", "q27_derive_categorical", "q28_feature_combine",
    "q29_rename_chain", "q30_minmax_scale", "q54_mahalanobis",
]
# EDA queries of distinct shapes: filter, broadcast join, describe,
# frequencies, contingency table, top-k
EDA = ["q02_filter_project", "q04_broadcast_join", "q06_describe",
       "q09_value_counts", "q11_crosstab", "q13_topk"]
HEADLINE = [
    "q01_agg", "q03_join_agg", "q05_window", "q10_corr", "dd_minhash",
    "sim_brute_topk", "tx_quality", "st_window_agg", "dd_winnow_pairs",
    "sim_ivfpq_topk",
]

# scale: copies of the committed sf0.01 tables, key-remapped; parquet: the
# queries written to parquet, the rest go to the noop sink; extra: probes
# that traced runs time after each traced pass, so that every workload
# reports the IVF index and sink layers
WORKLOADS = {
    "eda_floor": {"scale": 1, "queries": EDA + PREP, "parquet": PREP,
                  "extra": ["ivfpq_direct"]},
    "pipeline_x10": {"scale": 10, "queries": HEADLINE,
                     "parquet": ["q25_standard_scale"],
                     "extra": ["ivfpq_direct", "q25_standard_scale"]},
}

# A heap that cannot grow keeps peak_rss_mb steady from run to run.
HEAP = ["-Xms2g", "-Xmx2g"]
# Set-up is timed this many times per run and the median reported; each
# extra time costs a JVM start, and the runs of both workloads must fit
# the benchmark's total time.
SETUPS = 2
HARNESS_TIMEOUT = 150
BUILD_TIMEOUT = 840
LEFTOVER = re.compile(r"^(ivf_index_|ivf_sweep_|ivfpq_)")

JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[cores] and shuffle partitions (default: nproc)")
    p.add_argument("--write-expected", action="store_true",
                   help="record this run's output digests as the expected ones")
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error("--seed must be >= 0")
    if not 1 <= a.seconds <= 3600:
        p.error("--seconds must be within 1..3600")
    if not 1 <= a.cores <= 256:
        p.error("--cores must be within 1..256")
    return a


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not home or not any(jars.glob("spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            f for f in base.rglob("*") if f.is_file() and "target" not in f.parts)
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(jars):
    """Compile the program and the harness unless their sources are unchanged."""
    src = tree_hash([PROGRAM_SRC, HARNESS / "build.sbt",
                     HARNESS / "project" / "build.properties", HARNESS / "src"])
    stamp = WORK / "build.stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == src:
        return
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    env = dict(os.environ, PERFBENCH_SPARK_JARS=str(jars))
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                       BUILD_TIMEOUT, cwd=HARNESS, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 1)
    stamp.write_text(src)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def data_fp(d):
    """Content hash of the parquet tables in `d` (names and bytes)."""
    h = hashlib.sha256()
    for f in sorted(d.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


# Keys shift by copy * OFF, as in tools/gen_sf1.py; text gets a per-copy
# suffix so copies are near-duplicates, not exact ones.
OFF = 10_000_000
UPSAMPLE = {
    "region": None, "nation": None,
    "customer": "c_custkey + k*{o} AS c_custkey, c_name, c_nationkey, c_acctbal, "
                "c_mktsegment",
    "supplier": "s_suppkey + k*{o} AS s_suppkey, s_name, s_nationkey, s_acctbal",
    "part": "p_partkey + k*{o} AS p_partkey, p_name, p_brand, p_type, p_size, "
            "p_retailprice",
    "orders": "o_orderkey + k*{o} AS o_orderkey, o_custkey + k*{o} AS o_custkey, "
              "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey + k*{o} AS l_orderkey, l_partkey + k*{o} AS l_partkey, "
                "l_suppkey + k*{o} AS l_suppkey, l_linenumber, l_quantity, "
                "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
                "l_shipdate",
    "events": "event_id + k*{o} AS event_id, ts, user_id + k*{o} AS user_id, "
              "event_type, value, props",
    "documents": "doc_id + k*{o} AS doc_id, {t} AS text, lang, source, "
                 "CAST(LENGTH({t}) AS BIGINT) AS n_chars",
    "embeddings": "vec_id + k*{o} AS vec_id, embedding, label",
}


def prepare_data(scale):
    """The committed sf0.01 tables, or `scale` key-remapped copies of them."""
    if scale == 1:
        return BASE_DATA
    out = WORK / "data" / f"x{scale}"
    done = out / "READY"
    if done.is_file():
        return out
    import duckdb
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")  # one writer thread keeps the bytes stable
    con.execute(f"CREATE VIEW ks AS SELECT unnest(generate_series(0, {scale - 1})) AS k")
    text = "CASE WHEN k = 0 THEN text ELSE text || ' d' || k END"
    for table, cols in UPSAMPLE.items():
        src = f"'{BASE_DATA / table}.parquet'"
        sql = (f"SELECT * FROM {src}" if cols is None else
               f"SELECT {cols.format(o=OFF, t=text)} FROM {src}, ks ORDER BY k")
        con.execute(f"COPY ({sql}) TO '{out / table}.parquet' (FORMAT PARQUET)")
    con.close()
    done.write_text(data_fp(out))
    return out


def harness_cmd(jars, args):
    return (["java", *JAVA_OPENS, *HEAP, "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={WORK / 'tmp'}",
             "-cp", f"{CLASSES}{os.pathsep}{jars}/*", "perfbench.Harness"] +
            [f"{k}={v}" for k, v in args.items()])


def run_harness(jars, args, run_dir):
    """Start one harness process; returns (its JSON, seconds to ready)."""
    out = run_dir / "harness.json"
    args = dict(args, work=run_dir, out=out)
    with open(run_dir / "harness.log", "a") as log:
        t0 = time.time()
        rc = run_child(harness_cmd(jars, args), HARNESS_TIMEOUT, cwd=run_dir,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not out.is_file():
        sys.stderr.write((run_dir / "harness.log").read_text()[-4000:])
        fail(f"harness exited with {rc}", 1)
    res = json.loads(out.read_text())
    out.unlink()
    return res, res["ready_ms"] / 1000.0 - t0


def leftovers(run_dir):
    """Index and benchmark-output dirs still on disk after the process ended."""
    found = [d for base in (run_dir / "target", run_dir / "tmp", WORK / "tmp")
             if base.is_dir() for d in base.iterdir()
             if d.is_dir() and LEFTOVER.match(d.name)]
    found += [d for d in (run_dir / "out", run_dir / "ivfpq_direct") if d.exists()]
    return found


def check(workload, wanted, digests, fp, write):
    """{query: problem} for every wanted output that does not match the
    expected one. `write` records this run's digests as expected first."""
    path = BENCH / "expected" / f"{workload}.json"
    exp = json.loads(path.read_text()) if path.is_file() else None
    if write:
        kept = exp["digests"] if exp and exp["data_fp"] == fp else {}
        exp = {"data_fp": fp, "digests": {**kept, **digests}}
        path.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
    if exp is None:
        return {q: "no expected output recorded" for q in wanted}
    if exp["data_fp"] != fp:
        return {q: f"input {fp} is not the expected {exp['data_fp']}" for q in wanted}
    bad = {}
    for q in wanted:
        got = digests.get(q)
        if got is None:
            bad[q] = "no output"
        elif got != exp["digests"].get(q):
            bad[q] = f"got {got}, expected {exp['digests'].get(q)}"
    return bad


def pass_sum(p, f, extra=False):
    recs = p["queries"] + (p["extra"] if extra else [])
    return sum(f(r) for r in recs if r["status"] == "ok")


def layer_sum(p, phase, key):
    return pass_sum(p, lambda r: r.get(phase, {}).get(key, 0))


def declared(kind):
    """The metric names BENCHMARK.json declares under `kind`."""
    return [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]]


def end_to_end(res, setups, samples):
    steady = [p for p in res["passes"] if p["pass"] > 0]
    pct, tail_v = stats.tail(samples)
    return {
        "setup_s": (stats.median(setups), "s"),
        "first_pass_s": (res["passes"][0]["wall_s"], "s"),
        "pass_s": (stats.median([p["wall_s"] for p in steady]), "s"),
        "query_p50_s": (stats.median(samples), "s"),
        "query_tail_s": (tail_v, "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }, pct


def per_layer(res, cores, leftover_n):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    mb = 1024.0 * 1024.0

    def med(f):
        return stats.median([f(p) for p in traced])

    def both(key):
        return lambda p: layer_sum(p, "build", key) + layer_sum(p, "action", key)

    def gap(p):
        return pass_sum(p, lambda r: stats.driver_gap(
            r["action_span_ms"], r["action"]["job_spans_ms"]) / 1000.0)

    def ivf(key):
        return lambda p: sum(r.get(key, 0) for r in p["extra"]
                             if r["q"] == "ivfpq_direct" and r["status"] == "ok")

    run_s = med(both("task_run_s"))
    stages = med(both("stages"))
    tasks = med(both("tasks"))
    m = {
        "build_s": (med(lambda p: pass_sum(p, lambda r: r["build_s"])), "s"),
        "build_jobs": (med(lambda p: layer_sum(p, "build", "jobs")), "count"),
        "plan_s": (med(lambda p: layer_sum(p, "action", "plan_s")), "s"),
        "action_jobs": (med(lambda p: layer_sum(p, "action", "jobs")), "count"),
        "stages": (stages, "count"),
        "tasks": (tasks, "count"),
        "tasks_per_stage": (tasks / stages if stages else 0.0, "count"),
        "driver_gap_s": (med(gap), "s"),
        "sched_wait_s": (med(lambda p: layer_sum(p, "action", "sched_wait_s")), "s"),
        "task_run_s": (run_s, "s"),
        "task_cpu_s": (med(both("task_cpu_s")), "s"),
        "gc_s": (med(lambda p: p["gc_s"]), "s"),
        "deser_s": (med(both("deser_s")), "s"),
        "core_busy": (med(lambda p: both("task_run_s")(p) / (p["wall_s"] * cores)),
                      "ratio"),
        "input_mb": (med(both("input_bytes")) / mb, "MB"),
        "shuffle_write_mb": (med(both("shuffle_write_bytes")) / mb, "MB"),
        "shuffle_read_mb": (med(both("shuffle_read_bytes")) / mb, "MB"),
        "spill_mb": (med(both("spill_bytes")) / mb, "MB"),
        "ivfpq_build_s": (med(ivf("ivfpq_build_s")), "s"),
        "ivfpq_probe_s": (med(lambda p: ivf("action_s")(p) + ivf("ivfpq_probe_call_s")(p)),
                          "s"),
        "output_mb": (med(lambda p: pass_sum(
            p, lambda r: r.get("output_bytes", 0), extra=True)) / mb, "MB"),
        "output_files": (med(lambda p: pass_sum(
            p, lambda r: r.get("output_files", 0), extra=True)), "count"),
        "sink_s": (med(lambda p: pass_sum(
            p, lambda r: r["action_s"] - r.get("noop_action_s", r["action_s"]),
            extra=True)), "s"),
        "trace_overhead": (med(lambda p: p["wall_s"] / stats.median(
            [u["wall_s"] for u in untraced if abs(u["pass"] - p["pass"]) == 1])), "ratio"),
        "accounted_share": (med(lambda p: pass_sum(
            p, lambda r: r["build_s"] + r["action_s"]) / p["wall_s"]), "ratio"),
        "leftover_dirs": (leftover_n, "count"),
    }
    return m


def counts_by_query(res):
    """(build_jobs, action_jobs, stages) per query, per traced pass."""
    out = {}
    for p in res["passes"]:
        if not p["traced"]:
            continue
        for r in p["queries"]:
            if r["status"] == "ok":
                out.setdefault(r["q"], []).append([
                    r["build"]["jobs"], r["action"]["jobs"],
                    r["build"]["stages"] + r["action"]["stages"]])
    return out


def main(argv):
    a = parse_args(argv)
    # a terminated run still stops its child processes (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (PROGRAM_SRC / "graft" / "SparkEntry.scala").is_file():
        fail(f"program source not found under {PROGRAM_SRC}")
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")
    jars = spark_jars()
    wl = WORKLOADS[a.workload]

    build(jars)
    data = prepare_data(wl["scale"])
    fp = data_fp(data)

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "target").mkdir(parents=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    common = {"data": data, "seed": a.seed, "seconds": a.seconds,
              "cores": a.cores, "trace": a.trace,
              "queries": ",".join(wl["queries"]), "parquet": ",".join(wl["parquet"]),
              "extra": ",".join(wl["extra"])}
    setups = [run_harness(jars, dict(common, setup_only=1), run_dir)[1]
              for _ in range(SETUPS - 1)]
    res, setup = run_harness(jars, common, run_dir)
    setups.append(setup)
    left = leftovers(run_dir)
    for d in left:
        shutil.rmtree(d, ignore_errors=True)

    records = [r for p in res["passes"] for r in p["queries"] + p["extra"]]
    wanted = wl["queries"] + (wl["extra"] if a.trace else [])
    wrong = check(a.workload, wanted, res["digests"], fp, a.write_expected)
    errors = [r for r in records if r["status"] != "ok"]
    attempted = len(records)
    failed = len(errors) + len(wrong)
    samples = [r["build_s"] + r["action_s"] for p in res["passes"] if p["pass"] > 0
               for r in p["queries"] if r["status"] == "ok"]
    if not samples:
        fail("no query completed", 1)

    e2e, tail_pct = end_to_end(res, setups, samples)
    metrics = per_layer(res, a.cores, len(left)) if a.trace else e2e
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": a.cores,
        "data_fp": fp, "samples": len(samples), "query_tail_pct": tail_pct,
        "failed_share": failed / attempted, "setup_samples_s": setups,
        "check_s": res["check_s"], "measured_s": res["measured_s"],
        "leftover_dirs": [str(d.relative_to(WORK)) for d in left],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "wrong": wrong,
        "queries": [{k: r.get(k) for k in
                     ("q", "pass", "status", "message", "build_s", "action_s")}
                    for r in records],
        "counts": counts_by_query(res) if a.trace else {},
    }
    if a.trace:
        prev = WORK / "results" / f"{a.workload}-last-traced.json"
        old = json.loads(prev.read_text())["counts"] if prev.is_file() else {}
        summary["count_drift"] = sorted(
            q for q, c in summary["counts"].items()
            if len({json.dumps(x) for x in c}) > 1 or (q in old and old[q][0] != c[0]))
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    artifact = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    artifact.write_text(json.dumps(summary, indent=1) + "\n")
    if a.trace:
        (results / f"{a.workload}-last-traced.json").write_text(artifact.read_text())
    shutil.rmtree(run_dir, ignore_errors=True)

    for r in errors:
        print(f"{r['q']} pass {r['pass']}: {r['status']}: {r.get('message')}")
    for q, why in sorted(wrong.items()):
        print(f"{q}: wrong: {why}")
    for k, (v, unit) in {**e2e, **metrics}.items():
        extra = f" (p{tail_pct}, {len(samples)} samples)" if k == "query_tail_s" else ""
        print(f"{k} = {v:.6g} {unit}{extra}")
    print(f"failed_share = {failed / attempted:.6g} share ({failed} of {attempted}); "
          f"data_fp {fp}; artifact {artifact.relative_to(ROOT)}")
    names = declared("per_layer" if a.trace else "end_to_end")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names},
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
