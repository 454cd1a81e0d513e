#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one run.

    python3 benchv2/run.py --workload train_rw --seed 1 --seconds 8 --trace 0

Builds the program from source (`build.py`), then starts one JVM running
`benchv2.Harness` on a `local[nproc]` Spark session. The harness

1. runs an untimed check pass over the keys, which also pays the JVM's
   first-use costs;
2. sets up the workload three times, each time on a fresh, cold replay
   root: it opens the input tables and stages the fixtures the keys read
   (`setup_s` is the median);
3. runs one untimed warm-up pass, then timed passes for `--seconds` (at
   least three), each key built with `SparkEntry.queries(key)(spark, sf)`
   and forced with a noop-source write; the seed fixes the key order of
   every pass. One client runs the keys one after another (closed loop);
4. checksums the keys without an oracle again.

Outputs are checked here: keys with a DuckDB oracle are compared with it
(the compare rules of `tools/check_oracle.py`), the others must give the
same row-count/xxhash64 checksum in both check passes.

With `--trace 0` the metrics are the `end_to_end` ones of BENCHMARK.json;
with `--trace 1` the timed passes alternate untraced and traced (listeners
on), the metrics are the `per_layer` ones from the traced passes, and the
spans go to `.bench_out/trace-<workload>.jsonl`.

The last stdout line is the result JSON; the line before it holds the
stamp (cores, heap, versions, commit, seed, key-list hash) and the detail
(quartiles, sample counts, the tail percentile used, named failures).
Extra options: `--sf <dir>` and `--keys a,b` replace the workload's scale
factor directory and key list (used by the self-test).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from build import ROOT, BuildError, build, spark_jars  # noqa: E402

HERE = Path(__file__).resolve().parent
RUN_LIMIT_S = 170          # a run must end within 180 s
KEY_TIMEOUT_S = 60
SETUP_REPS = 3
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


HEAP = "3g"
# C1 only: a run is too short for C2 to reach its steady state, and C2's
# compiler threads, competing with the tasks for the cores, doubled the
# run-to-run spread of every timing (measured on a 4-core host).
JIT = ["-XX:TieredStopAtLevel=1"]


def harness(classes: Path, work: Path, args: list, timeout: float) -> None:
    cp = ":".join([str(classes)] + [str(j) for j in spark_jars()])
    cmd = ["java", f"-Xmx{HEAP}", "-Xss16m", *JIT, "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "benchv2.Harness", *args]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness did not finish within {timeout:.0f} s")
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-25:]
        raise RuntimeError(f"harness exited with {rc}:\n" + "\n".join(tail))


# ---- output checks ----

def canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df


def vals_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple)) or "ndarray" in str(type(a)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(vals_equal(x, y) for x, y in zip(la, lb))
    return a == b


def compare(got, exp) -> str:
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if got.shape != exp.shape:
        return f"shape {got.shape} != oracle {exp.shape}"
    for c in got.columns:
        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not vals_equal(g, e):
                return f"column {c} row {i}: {g!r} != oracle {e!r}"
    return ""


def oracle_check(sf: str, work: Path, sql: dict, skip: set) -> dict:
    """Compares each oracle key's parquet dump with DuckDB; returns failures."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{work / 'duckdb'}'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = {}
    for key in sorted(sql):
        if key in skip:
            continue
        try:
            diff = compare(pd.read_parquet(work / "check" / key), con.execute(sql[key]).df())
        except Exception as e:  # a missing dump or a broken oracle both fail the key
            diff = f"{type(e).__name__}: {e}"
        if diff:
            bad[key] = f"oracle: {diff}"[:300]
    con.close()
    return bad


# ---- metrics ----

def quantile(xs: list, q: float) -> float:
    s = sorted(xs)
    i = q * (len(s) - 1)
    lo, hi = math.floor(i), math.ceil(i)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def summary(xs: list) -> dict:
    return {"median": statistics.median(xs), "p25": quantile(xs, 0.25),
            "p75": quantile(xs, 0.75), "n": len(xs)}


def end_to_end(res: dict, detail: dict) -> dict:
    passes = [p for p in res["passes"] if not p["traced"]]
    walls = [k["wall"] for p in passes for k in p["keys"]]
    tail_q = max(0.5, 1 - 10 / len(walls))
    detail.update(pass_s=summary([p["wall"] for p in passes]), key_s=summary(walls),
                  key_tail_percentile=round(100 * tail_q, 2),
                  setup_s=summary(res["setup"]["samples"]), setup_call_s=res["setup"]["call_s"],
                  pass_walls=[p["wall"] for p in passes], pass_cpu=[p["cpu"] for p in passes])
    return {
        "pass_s": statistics.median(p["wall"] for p in passes),
        "key_p50_s": statistics.median(walls),
        "key_tail_s": quantile(walls, tail_q),
        "cpu_core_s": statistics.median(p["cpu"] for p in passes),
        "setup_s": statistics.median(res["setup"]["samples"]),
    }


def per_layer(res: dict, n_cores: int, names: list, detail: dict) -> dict:
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]

    def per_pass(p: dict) -> dict:
        c = dict(p["layers"])
        ks = p["keys"]
        timed = sum(k["build"] + k["action"] + k["release"] for k in ks)
        c["queries.build_s"] = sum(k["build"] for k in ks)
        c["exec.action_s"] = sum(k["action"] for k in ks) - c.get("planning.action_plan_s", 0.0)
        c["sched.core_busy_ratio"] = c.get("compute.run_s", 0.0) / (p["wall"] * n_cores)
        c["memory.cached_mb"] = statistics.mean(k["cached_mb"] for k in ks)
        c["memory.peak_cached_mb"] = max(k["cached_mb"] for k in ks)
        c["scaleops.cached_rdds"] = sum(k["cached_rdds"] for k in ks)
        c["scaleops.release_s"] = sum(k["release"] for k in ks)
        c["trace.drain_s"] = sum(k["drain"] for k in ks)
        c["unattributed_s"] = p["wall"] - timed - c["trace.drain_s"]
        return c

    rows = [per_pass(p) for p in traced]
    m = {n: statistics.median(r.get(n, 0.0) for r in rows) for n in set(names).union(*rows)}
    s = res["setup"]
    calls = s["calls"]
    m.update({
        "tables.stage_calls": calls,
        "tables.stage_builds": statistics.median(s["builds"]),
        "tables.hit_ratio": (calls - s["check_rebuilt"]) / calls if calls else 0.0,
        "tables.build_s": statistics.median(s["staging"]),
        "tables.check_s": s["check_s"],
        "tables.pass_builds": s["pass_builds"],
        "trace.overhead_s": statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in plain),
    })
    detail.update(traced_passes=len(traced), untraced_passes=len(plain),
                  traced_pass_s=summary([p["wall"] for p in traced]),
                  untraced_pass_s=summary([p["wall"] for p in plain]))
    return m


def stamp(args, res: dict, keys: list, classes: Path) -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": res["cores"], "heap_mb": round(res["heap_mb"]),
            "spark": res["spark"], "scala": res["scala"], "jdk": res["jdk"],
            "commit": commit, "source_hash": classes.name.split("-", 1)[1],
            "keys_sha256": hashlib.sha256(",".join(keys).encode()).hexdigest()[:16],
            "n_keys": len(keys), "sf": args.sf}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf")
    ap.add_argument("--keys")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = json.loads((HERE / "workloads.json").read_text())
    wl = workloads["workloads"][args.workload]
    keys = args.keys.split(",") if args.keys else wl["keys"]
    args.sf = str(Path(args.sf or workloads["sf"]).expanduser())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    try:
        classes = build()
    except (BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"[benchv2] build failed: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    n_cores = cores()
    try:
        harness(classes, work, [
            "--mode", "run", "--workload", args.workload, "--keys", ",".join(keys),
            "--stage", ",".join(wl["stage"]), "--sf", args.sf, "--seconds", str(args.seconds),
            "--seed", str(args.seed), "--trace", str(args.trace), "--cores", str(n_cores),
            "--setup-reps", str(SETUP_REPS), "--key-timeout", str(KEY_TIMEOUT_S),
            "--work", str(work), "--out", str(work / "result.json"),
            "--trace-out", str(ROOT / ".bench_out" / f"trace-{args.workload}.jsonl"),
        ], timeout=RUN_LIMIT_S - 15)
        res = json.loads((work / "result.json").read_text())
        check_errors = dict(res["check_errors"])
        check_errors.update(oracle_check(args.sf, work, res["checks"]["oracle_sql"], set(check_errors)))
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"[benchv2] run failed: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = {**res["pass_errors"], **check_errors}
    detail = {"errors": errors, "run_phases_s": res["run_phases_s"]}
    values = (per_layer(res, n_cores, [m["name"] for m in wanted], detail) if args.trace
              else end_to_end(res, detail))
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"[benchv2] metrics not produced: {missing}", file=sys.stderr)
        return 4
    timed = [k for p in res["passes"] for k in p["keys"]]
    attempted = len(timed) + len(keys)  # every key is checked once
    failed = sum(not k["ok"] for k in timed) + len(check_errors)
    detail["fail_ratio"] = failed / attempted
    print(json.dumps({"stamp": stamp(args, res, keys, classes), "detail": detail}))
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
