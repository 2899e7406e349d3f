#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the library and
the harness (sbt, offline) into perfbench/target and records the
classpath under .bench_build/; later runs reuse the build while the
sources are unchanged. Each run starts one JVM (perfbench.Main) with a
local[nproc] Spark session, sets the workload up, checks every
operation's output and times the whole passes of operations that fill
--seconds on a 4-core box (workloads.json: pass_s). The last line of
stdout is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Query results are checked here, after the JVM exits,
against the stored DuckDB oracle results in perfbench/expected/.

Other modes:
    --selftest            tests of the harness itself on tiny inputs
    --make-expected       regenerate perfbench/expected/ with DuckDB
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
SPEC = json.loads((BENCH / "workloads.json").read_text())
JVM_TIMEOUT_S = 170
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted(
        (BENCH / "src").rglob("*")) + [BENCH / "build.sbt",
                                       BENCH / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: src/main/scala/graft is missing")
    OUT.mkdir(exist_ok=True)
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        # resolve only from the local artifact caches, never the network
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log = OUT / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=800)
    lines = log.read_text().strip().splitlines()
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed, see {log}", 1)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip()


# ---------------------------------------------------------------- JVM

def run_jvm(cp: str, args: list, work: Path) -> str:
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
              "-cp", cp, "perfbench.Main"] + args)
    log = open(work / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM did not finish within {JVM_TIMEOUT_S} s", 1)
    finally:
        log.close()
    if p.returncode != 0:
        tail = (work / "jvm.log").read_text()[-3000:]
        fail(f"JVM exited with {p.returncode}:\n{tail}", 1)
    return out


# ---------------------------------------------------------------- checks

def plain(v):
    """A result cell as plain JSON-able Python, the same for both sides."""
    import numpy as np
    import pandas as pd
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return {str(k): plain(x) for k, x in v.items()}
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    return str(v)


def kind(dtype: str) -> str:
    if dtype.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if dtype.startswith(("float", "Float")):
        return "float"
    return dtype


def table(con, sql: str) -> dict:
    df = con.execute(sql).df()
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    return {"columns": list(df.columns),
            "kinds": [kind(str(t)) for t in df.dtypes],
            "rows": [[plain(v) for v in row]
                     for row in df.itertuples(index=False, name=None)]}


def cells_equal(a, b) -> bool:
    """Float tolerance of scripts/check_correctness.py; lists elementwise."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(cells_equal, a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def compare(got: dict, want: dict):
    """None when equal, else the first difference."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["kinds"] != want["kinds"]:
        return f"column kinds {got['kinds']} != {want['kinds']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for i, (g, w) in enumerate(zip(got["rows"], want["rows"])):
        for c, x, y in zip(got["columns"], g, w):
            if not cells_equal(x, y):
                return f"row {i} column {c}: {x!r} != {y!r}"
    return None


def check_queries(queries, out_dir: Path, expected_dir: Path):
    """(query, cause) for every query whose output differs from the oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    bad = []
    for q in queries:
        want_file = expected_dir / f"{q}.json"
        if not want_file.exists():
            bad.append((q, "no stored expected result"))
            continue
        if not (out_dir / q).is_dir():
            continue  # the JVM already counted it as failed
        got = table(con, f"SELECT * FROM read_parquet('{out_dir / q}/*.parquet')")
        diff = compare(got, json.loads(want_file.read_text()))
        if diff:
            bad.append((q, f"wrong result: {diff}"))
    return bad


def make_expected(cp: str):
    """Runs SparkEntry.oracleSql through DuckDB once over each query
    workload's tables and stores the results."""
    import duckdb
    work = OUT / "work" / "expected"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    for name, w in SPEC["workloads"].items():
        if "queries" not in w:
            continue
        sql_file = work / f"{name}.json"
        run_jvm(cp, ["--oracle-out", str(sql_file),
                     "--queries", ",".join(w["queries"])], work)
        sqls = json.loads(sql_file.read_text())
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        data = ROOT / w["data"]
        for t in sorted(data.glob("*.parquet")):
            con.execute(f"CREATE VIEW {t.stem} AS "
                        f"SELECT * FROM read_parquet('{t}')")
        exp = ROOT / w["expected"]
        exp.mkdir(parents=True, exist_ok=True)
        for q in w["queries"]:
            res = table(con, sqls[q])
            (exp / f"{q}.json").write_text(json.dumps(res) + "\n")
            print(f"{name} {q}: {len(res['rows'])} rows")
    shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args()
    cp = classpath()
    if a.make_expected:
        return make_expected(cp)
    if a.selftest:
        return selftest(cp)
    if a.workload not in SPEC["workloads"]:
        fail(f"unknown workload {a.workload!r}; "
             f"one of {', '.join(SPEC['workloads'])}")
    w = SPEC["workloads"][a.workload]
    work = OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_file = work / "result.json"
    # whole passes, as many as fit the run length on the reference box;
    # a fixed count keeps every run of a workload timing the same ops
    passes = max(1, round(a.seconds / w["pass_s"]))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--passes", str(passes), "--trace", str(a.trace),
            "--work", str(work), "--out", str(result_file)]
    if "queries" in w:
        args += ["--data", str(ROOT / w["data"]),
                 "--queries", ",".join(w["queries"])]
    try:
        out = run_jvm(cp, args, work)
        res = json.loads(result_file.read_text())
        failures = [tuple(f) for f in res["failures"]]
        if "queries" in w:
            failures += check_queries(w["queries"], work / "check",
                                      ROOT / w["expected"])
        if a.trace:
            traces = OUT / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "trace.json",
                        traces / f"{a.workload}-seed{a.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        print(line)
    attempted, failed = res["attempted"], len(failures)
    print(json.dumps({"env": res["env"], "fail_rate": failed / attempted,
                      "failures": failures}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}))


def selftest(cp: str):
    work = OUT / "work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    w = SPEC["workloads"]["small_queries"]
    probe = w["queries"][:3]
    try:
        out = run_jvm(cp, ["--selftest", "1", "--workload", "selftest",
                           "--seed", "7", "--work", str(work),
                           "--out", str(work / "result.json"),
                           "--data", str(ROOT / w["data"]),
                           "--queries", ",".join(probe)], work)
        print(out, end="")
        bad = out.count("[selftest] FAIL")
        # the query check passes on the real output and fails on a
        # deliberately wrong expected result
        exp = ROOT / w["expected"]
        ok = not check_queries(probe, work / "check", exp)
        print(f"[selftest] {'ok  ' if ok else 'FAIL'} queries: stored oracle "
              "results match")
        bad += not ok
        wrong = work / "wrong"
        wrong.mkdir()
        want = json.loads((exp / f"{probe[0]}.json").read_text())
        want["rows"][0][0] = "not the oracle's value"
        (wrong / f"{probe[0]}.json").write_text(json.dumps(want))
        caught = check_queries(probe[:1], work / "check", wrong)
        print(f"[selftest] {'ok  ' if caught else 'FAIL'} queries: a wrong "
              "expected result fails")
        bad += not caught
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[selftest] {bad} failed")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
