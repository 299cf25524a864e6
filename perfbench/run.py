"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload er_core --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (`perfbench/build.py`),
generates the workload's inputs from the seed (`perfbench/gen.py`), runs
the harness JVM (`perfbench/harness`) under `local[<cores>]` as a
single-client closed loop, checks every output, and prints as its last
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of `BENCHMARK.json` with `--trace 0`, its per-layer
metrics with `--trace 1`.

Output checks: each query and serve with oracle SQL is compared, on the
cold pass, with DuckDB's result over the same generated tables, using
`dev/oracle_check.py`'s normalisation; every operation's digest must
repeat on every pass, so each warm pass is checked against the cold one; and the lifecycle's named checks
(restore equals source, serve after incremental ingest plus compaction
equals a one-shot build, snapshot verify and fsck clean) must hold. A
thrown operation and a failed check both count in `failed`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
JVM_HEAP = "2g"           # fixed and pre-touched
SETUPS = 3                # set-ups per run: the fresh JVM's, then two more
CORES = len(os.sched_getaffinity(0))  # local[nproc]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def file_hash(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def inputs_for(workload, seed):
    """The generated input directory, made once per (workload, seed, generator
    and fixture)."""
    key = file_hash(os.path.join(HERE, "gen.py"),
                    *sorted(glob.glob(os.path.join(gen.FIXTURE, "*.parquet"))))
    d = os.path.join(build.build_dir(), "inputs", f"{workload}-{seed}-{key}")
    if not os.path.exists(os.path.join(d, "sizes.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d + ".tmp")
        os.replace(d + ".tmp", d)
    return d


def run_harness(cp, args, inputs, work, deadline):
    """Run the harness JVM; return its result dict."""
    out = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES), "--setups", str(SETUPS), "--out", out]
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("harness exceeded the run deadline")
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def duckdb_sql(sql):
    """The oracle SQL with the edge CTE of the engine's connected-components
    oracle (`GraftQuery.componentsOverSql`) marked MATERIALIZED. DuckDB 1.0
    otherwise inlines it into every step of the recursion and recomputes
    the fuzzy pairs each time (about 7x slower on er_core); the hint does
    not change the result."""
    return re.sub(r"\bcc_pairs AS \(", "cc_pairs AS MATERIALIZED (", sql)


def oracle_check(res, inputs):
    """(name, pass) -> whether the Spark output equals DuckDB's result."""
    checked = [o for o in res["ops"] if o.get("out")]
    if not checked:
        return {}
    sys.path.insert(0, os.path.join(ROOT, "dev"))
    import duckdb
    import pyarrow.parquet as pq
    import oracle_check as oc

    sqls = res["oracle_sql"]
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:12]
    cache = os.path.join(build.build_dir(), "oracle", f"{os.path.basename(inputs)}-{key}.json")
    expected = {}
    if os.path.exists(cache):
        with open(cache) as f:
            expected = json.load(f)
    missing = sorted({o["name"] for o in checked} - set(expected))
    if missing:
        con = duckdb.connect()
        for t in oc.TABLES:
            p = os.path.join(inputs, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in missing:
            try:
                exp = con.execute(duckdb_sql(sqls[name])).arrow().to_pandas()
                cols, _, n, h, _, _ = oc.fingerprint(exp)
                expected[name] = {"order": list(exp.columns), "cols": cols, "rows": n, "hash": h}
            except Exception as e:  # an oracle that cannot run fails the op
                expected[name] = {"error": str(e)}
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(expected, f)
    ok = {}
    for o in checked:
        exp = expected[o["name"]]
        files = sorted(f for f in os.listdir(o["out"]) if f.endswith(".parquet"))
        got = pq.read_table(os.path.join(o["out"], files[0]) if len(files) == 1
                            else o["out"]).to_pandas()
        cols, _, n, h, _, _ = oc.fingerprint(got)
        why = None
        if "error" in exp:
            why = "oracle error: " + exp["error"]
        elif list(got.columns) != exp["order"] or cols != exp["cols"]:
            why = f"columns {list(got.columns)} != {exp['order']}"
        elif n != exp["rows"]:
            why = f"rows {n} != {exp['rows']}"
        elif h != exp["hash"]:
            why = "values differ"
        elif n == 0:
            why = "empty result on both sides checks nothing"
        if why:
            log(f"oracle: {o['name']} pass {o['pass']}: {why}")
        ok[(o["name"], o["pass"])] = why is None
    return ok


def emit(names_units, computed):
    """The metrics named in BENCHMARK.json, in its order, with its units."""
    out = {}
    for name, unit in names_units:
        value, got_unit = computed[name]
        if got_unit != unit:
            raise RuntimeError(f"metric {name}: unit {got_unit} != {unit} in BENCHMARK.json")
        out[name] = {"value": value, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        cp = build.build()
    except build.BuildError as e:
        log(str(e))
        return 2
    t0 = time.monotonic()
    deadline = t0 + DEADLINE_S
    inputs = inputs_for(args.workload, args.seed)
    log(f"inputs ready at {time.monotonic() - t0:.1f} s")
    work = os.path.join(build.build_dir(), "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_harness(cp, args, inputs, work, deadline)
        log(f"harness done at {time.monotonic() - t0:.1f} s")
        if args.trace:  # keep the spans and Spark events for inspection
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "result.json"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.json"))
        oracle_ok = oracle_check(res, inputs)
        log(f"oracle checked at {time.monotonic() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    by_op = {}
    for o in res["ops"]:
        by_op.setdefault(o["name"], []).append(o["dur"])
    for name, ds in by_op.items():
        log(f"{name}: cold {ds[0]:.3f} s, warm " + " ".join(f"{d:.3f}" for d in ds[1:]))
    log("pass wall times: " + " ".join(f"{p['wall']:.2f}" for p in res["passes"]))
    attempted, failed, reasons = metrics.count_failures(res["ops"], oracle_ok)
    for r in reasons:
        log(f"failed: {r}")
    for m in res.get("drift", []):
        log(m)
    if args.trace:
        table = metrics.per_layer(res, CORES)
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    else:
        table, note = metrics.end_to_end(res)
        print(note)
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    out = emit(wanted, table)
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and not res.get("drift"), "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
