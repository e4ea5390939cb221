#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 28 --trace 0

Run from the root of a checkout. It builds the library and the driver from
source (perfbench/build.sbt, output under .bench_build/), generates the
fixture tables (perfbench/gen.py), runs perfbench.Driver in one JVM at
local[SPARK_GRAFT_CPUS], compares every entry's output with its DuckDB
oracle, and prints one JSON object as the last line of stdout. See
perfbench/README.md for the metrics and how to read a traced run.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TIME_LIMIT_S = 170  # whole run, build excluded
MAX_PASSES = 64
SETUP_ROUNDS = 3  # setup_s is the median round
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(p[len(ROOT):].encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """Compile library + driver once per source state; returns the classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        got = json.load(open(stamp))
        if got["digest"] == digest:
            return got["classpath"]
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=880)
    lines = [ln for ln in r.stdout.splitlines() if ".bench_build" in ln and ":" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    json.dump({"digest": digest, "classpath": lines[-1]}, open(stamp, "w"))
    return lines[-1]


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    return os.environ.get("SPARK_DRIVER_MEM", "4g")


def run_driver(classpath, plan_path, run_dir, cpus, deadline):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Driver", plan_path])
    with open(os.path.join(run_dir, "driver.log"), "w") as logf:
        p = subprocess.Popen(cmd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "driver.log")).read()[-4000:])
        die(f"driver exited with {rc}")


def load_check():
    """scripts/check.py's normalization (norm/canon/datelike_cols), so the
    benchmark compares outputs exactly the way the correctness gate does."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(res, data_dir, check_dir, threads):
    """{name: failure reason} for every check-pass entry that threw or whose
    output differs from its DuckDB oracle."""
    import duckdb
    import pyarrow.parquet as pq
    chk = load_check()
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in chk.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for c in res["check"]:
        name = c["name"]
        if c["error"]:
            bad[name] = f"threw: {c['error'][:300]}"
            continue
        osql = res["oracle"].get(name)
        if osql is None:
            bad[name] = "no oracle SQL"
            continue
        try:
            sdf = pq.read_table(os.path.join(check_dir, name)).to_pandas()
            odf = con.sql(osql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            bad[name] = f"unreadable: {str(e)[:300]}"
            continue
        dcols = chk.datelike_cols(sdf)
        s = chk.canon(list(sdf.columns), list(sdf.itertuples(index=False, name=None)), dcols)
        o = chk.canon(list(odf.columns), list(odf.itertuples(index=False, name=None)), dcols)
        if s != o:
            bad[name] = f"mismatch: spark {len(s[1])} rows vs oracle {len(o[1])}"
        elif not s[1]:
            log(f"WARN {name}: empty result set (weak check)")
    return bad


def entry_s(e):
    """An entry's build + write seconds, net of steal."""
    return M.net_of_steal(e["build_s"] + e["write_s"], M.steal_share(e["busy_j"], e["steal_j"]))


def end_to_end(res):
    """The end-to-end metrics, all net of steal, and the raw readings
    behind them for the context line."""
    untraced = [[e for e in p["entries"] if "error" not in e]
                for p in res["passes"] if not p["traced"]]
    samples = [entry_s(e) for es in untraced for e in es]
    setup = [s["start_s"] + s["register_s"] + s["warm_s"] for s in res["setup"]]
    mets = {
        "pass_s": (M.median([sum(entry_s(e) for e in es) for es in untraced]), "s"),
        "query_p50_s": (M.median(samples), "s"),
        "setup_s": (M.median([M.net_of_steal(t, M.steal_share(s["busy_j"], s["steal_j"]))
                              for t, s in zip(setup, res["setup"])]), "s"),
    }
    ents = [e for es in untraced for e in es]
    raw = {
        "pass_wall_s": M.median([sum(e["build_s"] + e["write_s"] for e in es)
                                 for es in untraced]),
        "query_p50_wall_s": M.median([e["build_s"] + e["write_s"] for e in ents]),
        "setup_wall_s": M.median(setup),
        "steal_share": M.steal_share(sum(e["busy_j"] for e in ents),
                                     sum(e["steal_j"] for e in ents)),
    }
    return mets, samples, raw


def storage_peak(res):
    """Peak block-manager MB over every sample taken at entry boundaries."""
    return max([max(e.get("pinned_mb", 0.0), e["post_mb"], e["retained_mb"])
                for p in res["passes"] for e in p["entries"]] or [0.0])


def per_layer(res):
    spans = res["spans"]
    cores = int(res["spark_graft_cpus"])
    by_pass = M.rollup(spans, cores)
    passes = {s["attrs"]["index"]: s["id"] for s in spans if s["name"] == "pass"}
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    rolled = [by_pass[passes[p["index"]]] for p in traced]
    vals = {k: M.median([r[k] for r in rolled]) for k in rolled[0]}
    pass_wall = M.median([p["wall_s"] for p in traced])
    vals["queries.build_share"] = vals["queries.build_s"] / pass_wall if pass_wall else 0.0
    ents = [e for p in traced for e in p["entries"]]
    vals["queries.pinned_mb"] = max([e.get("pinned_mb", 0.0) for e in ents] or [0.0])
    vals["queries.retained_mb"] = M.median(
        [sum(e["retained_mb"] for e in p["entries"]) for p in traced])
    vals["queries.hygiene_s"] = M.median(
        [sum(e["hygiene_s"] for e in p["entries"]) for p in traced])
    vals["storage_peak_mb"] = storage_peak(res)
    for k in ("start_s", "register_s", "warm_s"):
        vals[f"session.{k}"] = M.median([s[k] for s in res["setup"]])
    vals["trace.overhead_s"] = pass_wall - statistics.mean([p["wall_s"] for p in plain])
    missing = set(units) - set(vals)
    if missing:
        die(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: (vals[k], units[k]) for k in units}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no library sources under src/main/scala: run from a full checkout")
    n = nproc()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", n))
    if cpus > n:
        die(f"SPARK_GRAFT_CPUS={cpus} exceeds nproc={n}: readings would be oversubscribed")
    w = WORKLOADS[a.workload]
    classpath = build()
    started = time.time()  # the build is outside the run's time limit

    import gen
    data_dir = gen.generate(os.path.join(BUILD, "data", f"sf{w['scale']}"), w["scale"])
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        orders = M.pass_orders(w["entries"], a.workload, a.seed, MAX_PASSES + 1)
        plan = [("data", data_dir), ("out", os.path.join(run_dir, "result.json")),
                ("check_dir", os.path.join(run_dir, "check")),
                ("workload", a.workload), ("seed", a.seed), ("seconds", a.seconds),
                ("trace", a.trace), ("setups", SETUP_ROUNDS),
                ("check_threads", min(w["check_threads"], cpus)),
                ("min_passes", max(3, w["min_passes"]) if a.trace else w["min_passes"]),
                ("check", ",".join(orders[0]))]
        plan += [("pass", ",".join(o)) for o in orders[1:]]
        plan_path = os.path.join(run_dir, "plan.txt")
        with open(plan_path, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in plan)
        run_driver(classpath, plan_path, run_dir, cpus, started + TIME_LIMIT_S)
        res = json.load(open(os.path.join(run_dir, "result.json")))
        t_jvm = time.time() - started
        bad = oracle_check(res, data_dir, os.path.join(run_dir, "check"), cpus)
        t_oracle = time.time() - started - t_jvm
        for p in res["passes"]:
            for e in p["entries"]:
                if "error" in e:
                    bad.setdefault(e["name"], f"threw in pass {p['index']}: {e['error'][:300]}")
        attempted = len(res["check"]) + sum(len(p["entries"]) for p in res["passes"])
        failed = sum(1 for c in res["check"] if c["name"] in bad) + sum(
            1 for p in res["passes"] for e in p["entries"] if "error" in e)
        e2e, samples, raw = end_to_end(res)
        for name, why in sorted(bad.items()):
            log(f"FAILED {name}: {why}")
        untraced = [p for p in res["passes"] if not p["traced"]]
        info = {"workload": a.workload, "seed": a.seed, "nproc": n,
                "SPARK_GRAFT_CPUS": cpus, "driver_mem": driver_mem(),
                "untraced_passes": len(untraced), "entry_samples": len(samples),
                "failed_frac": failed / attempted,
                "run_s": time.time() - started, "jvm_s": t_jvm, "oracle_s": t_oracle,
                "query_p90_s": M.p90_or_none(samples), **raw,
                "storage_peak_mb": storage_peak(res)}
        mets = per_layer(res) if a.trace else e2e
        # the driver's raw record (spans included on a traced run), kept
        keep = os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-trace{a.trace}.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        with open(keep, "w") as f:
            json.dump({"info": info, **res}, f)
        info["record"] = os.path.relpath(keep, ROOT)
        print("# " + json.dumps(info))
        print(json.dumps({
            "correct": not bad, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in mets.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
