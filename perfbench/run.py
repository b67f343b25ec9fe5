#!/usr/bin/env python3
"""Benchmark of the graft engine's ETL load, sales queries and index
lifecycle, run end to end from one command (see README.md):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) and caches the launch line; later runs
start the JVM directly. Inputs are made from the seed, the JVM measures,
and the outputs are checked here against DuckDB. The last line of stdout
is one JSON object: correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["etl", "queries_lifecycle"]
RUN_LIMIT_S = 170  # a run (after any build) must end well inside 180 s
BUILD_LIMIT_S = 840


def _read(path):
    with open(path) as f:
        return f.read()


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_stamp():
    """Size and mtime of every file the build reads: a rebuild is due
    when any of them changes."""
    files = []
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]:
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        project = os.path.join(base, "project")
        files += [os.path.join(project, n) for n in sorted(os.listdir(project))
                  if n.endswith((".sbt", ".scala", ".properties"))]
    parts = []
    for p in files:
        st = os.stat(p)
        parts.append(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def ensure_built():
    """Returns (classpath, jvm options) of the built benchmark."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = launch + ".stamp"
    stamp = _source_stamp()
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) and _read(stamp_file) == stamp
    if not fresh:
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_LIMIT_S)
        if r.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed", 1)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = _read(launch).splitlines()
    return lines[0], lines[1:]


# ---------------------------------------------------------------- host stamp

def _cpu_times():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def host_stamp(seed, res, steal_frac):
    """The host and the inputs, stamped into every result record, with
    the share of CPU time the hypervisor took from this VM during the run
    (a run that lost much of it reads slow for reasons outside the code)."""
    mem = ""
    with open("/proc/meminfo") as f:
        mem = next((line.split(":", 1)[1].strip() for line in f if line.startswith("MemTotal")), "")
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    return {"nproc": os.cpu_count(), "mem_total": mem, "kernel": platform.release(),
            "jvm": res.get("jvm", ""), "spark": res.get("spark", ""),
            "commit": commit or "unknown (not a git checkout)", "seed": seed,
            "sf": "0.01 (seeded derivation of the bundled tables)", "steal_frac": steal_frac}


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, work):
    """Writes the seeded inputs under `work` and returns the ETL
    expectations: {input: gen.expect_batch summary}."""
    import gen
    sf = os.path.join(work, "sf")
    gen.derive_sf(sf, seed)
    base = os.path.join(work, "etl", "base")
    sizes = {"base": gen.make_base(sf, base, seed)}
    exp = {}
    if workload != "etl":
        return exp
    for v in ("a", "b"):
        sizes[v] = gen.make_delta(sf, os.path.join(work, "etl", f"delta_{v}"), seed, v)
    for key in ("base", "a", "b"):
        csv_dir = base if key == "base" else os.path.join(work, "etl", f"delta_{key}")
        summary = gen.expect_batch(csv_dir, None if key == "base" else base)
        summary["rows_in_total"] = sum(summary["rows_in"].values())
        summary["csv_bytes"] = sum(sizes[key].values())
        exp[key] = summary
    return exp


# ---------------------------------------------------------------- checks

def _read_parquet_dir(d):
    import pandas as pd
    import pyarrow.parquet as pq
    files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    tabs = [pq.read_table(f).to_pandas() for f in files]
    return pd.concat(tabs, ignore_index=True) if tabs else pd.DataFrame()


def _oracle_frame(work, sql):
    """DuckDB's result for `sql` over the run's sf tables. A query that
    reads only gen.FIXED_TABLES (which every seed copies unchanged) has
    the same result in every run, so that result is cached in the
    checkout, keyed by the SQL and the tables' bytes. Queries over the
    seeded sales tables are computed afresh: no other seed would reuse
    them."""
    import duckdb
    import pandas as pd
    import gen
    sf = os.path.join(work, "sf")
    tables = sorted(f[:-len(".parquet")] for f in os.listdir(sf))
    used = [t for t in tables if re.search(rf"\b{t}\b", sql)]
    cache = None
    if set(used) <= set(gen.FIXED_TABLES):
        h = hashlib.sha256(sql.encode())
        for t in used:
            with open(os.path.join(sf, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        cache = os.path.join(ROOT, ".bench_cache", "oracle", h.hexdigest() + ".pkl")
        if os.path.exists(cache):
            return pd.read_pickle(cache)
    con = duckdb.connect()
    for t in used:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
    df = con.execute(sql).df()
    if cache:
        gen.check_out_path(cache)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        df.to_pickle(cache + ".tmp")
        os.replace(cache + ".tmp", cache)
    return df


def check_ops(workload, res, exp, work):
    """Marks every op ok or not, and returns the problems found. An op is
    correct when it raised nothing and: (ETL) its Result counts and reject
    counts equal the generator's expectations and every exported warehouse
    table has the expected content hash; (queries) its exported result
    equals DuckDB's run of the query's oracle SQL, or, for a query already
    checked that way in this run, its fingerprint equals that run's."""
    import duckdb
    import gen
    problems = []
    ref_fp = {}
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for op in res["ops"]:
        c, why = op.get("check"), None
        if "error" in op:
            why = op["error"]
        elif workload == "etl":
            e = exp[c["input"]]
            if c["counts"] != e["counts"] or c["rejects"] != e["rejects"]:
                why = (f"counts {c['counts']} rejects {c['rejects']}, "
                       f"expected {e['counts']} {e['rejects']}")
            for t in sorted(e["hashes"]):
                got = gen.table_hash(con, f"SELECT * FROM '{c['exported']}/{t}/*.parquet'")
                if got != e["hashes"][t] and not why:
                    why = f"warehouse table {t}: content hash {got} != expected {e['hashes'][t]}"
        elif c["exported"]:
            ref_fp[c["ref"]] = c["fingerprint"]
            sql = res["oracle_sql"].get(c["ref"])
            why = (f"no oracle SQL for {c['ref']}" if sql is None else
                   gen.frames_match(_read_parquet_dir(c["exported"]), _oracle_frame(work, sql)))
            if why:
                ref_fp[c["ref"]] = None
        elif ref_fp.get(c["ref"]) != c["fingerprint"]:
            why = "result differs from this query's checked run"
        op["ok"] = why is None
        if why:
            problems.append(f"{op['name']}: {why}")
    up = res.get("isolated", {}).get("upsert")
    if up:  # the traced run's isolated MERGE of delta a into the base load
        want = {k: sum(m[k] for m in exp["a"]["merge"].values()) for k in ("inserted", "updated")}
        if {k: up[k] for k in want} != want:
            problems.append(f"isolated upsert: {up} != expected {want}")
    return problems


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {os.path.basename(HERE)}/: run from a full checkout")

    cp, jvm_opts = ensure_built()
    started = time.monotonic()  # a build may take longer; the run itself may not
    import metrics

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        t0 = time.monotonic()
        exp = make_inputs(a.workload, a.seed, work)
        t1 = time.monotonic()
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/tmp", "-Dspark.driver.host=localhost"]
               + jvm_opts + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                             "--work", work, "--seconds", str(a.seconds),
                             "--trace", str(a.trace), "--cpus", str(os.cpu_count())])
        steal0, total0 = _cpu_times()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("the JVM did not finish in time", 1)
        if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
            sys.stderr.write(_read(os.path.join(work, "jvm.log"))[-4000:])
            fail(f"the JVM exited with code {code}", 1)
        steal1, total1 = _cpu_times()
        res = json.loads(_read(os.path.join(work, "result.json")))
        t2 = time.monotonic()
        problems = check_ops(a.workload, res, exp, work)
        print(f"perfbench: inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
              f"checks {time.monotonic() - t2:.1f} s", file=sys.stderr)
        for p in problems[:20]:
            print(f"perfbench: FAILED {p}", file=sys.stderr)
        summary = metrics.summarize(a.workload, res, exp, bool(a.trace), os.cpu_count())
        stamp = host_stamp(a.seed, res, (steal1 - steal0) / max(1, total1 - total0))
        if a.trace:
            spans_dir = os.path.join(ROOT, ".bench_runs")
            os.makedirs(spans_dir, exist_ok=True)
            with open(os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.spans.json"), "w") as f:
                json.dump({"host": stamp, "spans": res.get("spans", []),
                           "ops": [{k: op.get(k) for k in ("name", "s", "trace")} for op in res["ops"]],
                           "isolated": res.get("isolated", {})}, f)
        print(json.dumps({"host": stamp, "latency": metrics.latency_summary(res["ops"])}))
        attempted = len(res["ops"])
        failed = sum(1 for op in res["ops"] if not op["ok"])
        correct = not problems
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": summary}))
        return 0 if correct else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
