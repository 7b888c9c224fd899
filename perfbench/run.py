#!/usr/bin/env python3
"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload live|queries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. Tables and the DuckDB oracle's answers are
cached per seed and table generator under `.bench_build/`.

The JVM harness (perfbench.Main) runs the workload and writes its metrics;
this script checks every query result against the DuckDB oracle with the
comparison of tools/check_oracle.py, prints a readable summary, and prints
as its last line one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A failed output check makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(ROOT / "tools"))  # check_oracle.py: the oracle comparison
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def tables_key(seed):
    """Cache key of one seed's tables and oracle answers: the seed and the
    table generator's source, so a changed generator makes new tables."""
    gen = (ROOT / "src/main/scala/graft/tools/GenSf.scala").read_bytes()
    return f"seed-{seed}-{hashlib.sha256(gen).hexdigest()[:16]}"


def steal_seconds():
    """CPU time the host took from this machine so far (Linux), to judge a run."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def build(deadline):
    """Compiles the engine and the harness unless the sources are unchanged
    since the last build; returns (runtime classpath, whether it built)."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=out, deadline=deadline)
    lines = log.read_text().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp_file.write_text(cps[-1])
    stamp.write_text(want)
    return cps[-1], True


CHILDREN = []


def stop_children(signum, _frame):
    """Kills every child process group and exits, so none outlives the run."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_child(cmd, cwd, env, stdout, deadline, stderr=subprocess.STDOUT):
    """Runs a child in its own process group; kills the group at the deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_answers(tables, seed, sqls, failed):
    """DuckDB's answer to each query's oracle SQL, computed once per seed;
    queries whose oracle SQL fails are put in `failed` with the error."""
    import check_oracle as co
    cache = BUILD / "oracle" / f"{tables_key(seed)}.pkl"
    answers = pickle.loads(cache.read_bytes()) if cache.exists() else {}
    missing = {n: s for n, s in sqls.items()
               if hashlib.sha256(s.encode()).hexdigest() not in answers}
    if missing:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute(f"SET temp_directory = '{BUILD / 'duckdb-tmp'}'")
        for t in co.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
        for name, sql in missing.items():
            try:
                rel = con.sql(sql)
                answers[hashlib.sha256(sql.encode()).hexdigest()] = (
                    [c.lower() for c in rel.columns], [co.norm_type(t) for t in rel.types],
                    [tuple(co.norm(v) for v in r) for r in rel.fetchall()])
            except duckdb.Error as e:
                failed[name] = f"oracle SQL failed: {e}"
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_bytes(pickle.dumps(answers))
    return {n: answers[hashlib.sha256(s.encode()).hexdigest()] for n, s in sqls.items()
            if n not in failed}


def check_results(tables, seed, results, sqls):
    """Compares each written result with the oracle as check_oracle.py does:
    column names, column types, row count and every value. Returns a list of
    (query, problem)."""
    import check_oracle as co
    import duckdb
    failed = {n: "no oracle SQL" for n in results if n not in sqls}
    want = oracle_answers(tables, seed, {n: sqls[n] for n in results if n in sqls}, failed)
    problems = list(failed.items())
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{BUILD / 'duckdb-tmp'}'")
    for name, (wcols, wtypes, wrows) in want.items():
        rel = con.sql(f"SELECT * FROM '{results[name]}/*.parquet'")
        gcols = [c.lower() for c in rel.columns]
        gtypes = dict(zip(gcols, (co.norm_type(t) for t in rel.types)))
        grows = [tuple(co.norm(v) for v in r) for r in rel.fetchall()]
        if sorted(gcols) != sorted(wcols):
            problems.append((name, f"columns differ: {sorted(gcols)} vs oracle {sorted(wcols)}"))
            continue
        drift = [f"{c}: {t} vs {gtypes[c]}" for c, t in zip(wcols, wtypes) if gtypes[c] != t]
        if drift:
            problems.append((name, "type drift (oracle vs spark): " + ", ".join(drift)))
            continue
        gperm = [gcols.index(c) for c in sorted(gcols)]
        wperm = [wcols.index(c) for c in sorted(wcols)]
        g = sorted((tuple(r[i] for i in gperm) for r in grows), key=repr)
        w = sorted((tuple(r[i] for i in wperm) for r in wrows), key=repr)
        if len(g) != len(w):
            problems.append((name, f"row count {len(g)} vs oracle {len(w)}"))
            continue
        bad = [(a, b) for a, b in zip(g, w) if a != b]
        if bad:
            problems.append((name, f"{len(bad)}/{len(g)} rows differ; first: "
                                   f"{bad[0][0]} vs oracle {bad[0][1]}"))
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["live", "queries"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)
    start = time.monotonic()
    for need in ("build.sbt", "src/main/scala/graft", "tools/check_oracle.py"):
        if not (ROOT / need).exists():
            fail(f"{need} not found under {ROOT}: run from a checkout of the engine")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")
    BUILD.mkdir(exist_ok=True)
    cp, built = build(start + BUILD_LIMIT_S)
    # a run that had to build gets the build allowance, others the run limit
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    work = BUILD / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "out.json"
    tables = BUILD / "tables" / tables_key(a.seed)
    tables.parent.mkdir(exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--tables", str(tables),
           "--work", str(work), "--out", str(out)]
    try:
        jvm_start, steal0 = time.monotonic(), steal_seconds()
        with open(work / "jvm.log", "w") as log:
            code = run_child(cmd, cwd=ROOT, env=os.environ, stdout=log, deadline=deadline)
        jvm_s, steal_s = time.monotonic() - jvm_start, steal_seconds() - steal0
        if code != 0 or not out.exists():
            lines = (work / "jvm.log").read_text(errors="replace").splitlines()
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            fail(f"harness exited with {code}")
        r = json.loads(out.read_text())
        failed, errors = r["failed"], list(r["errors"])
        if r["results"]:
            runs = {q: v.get("runs", 1) for q, v in r["info"].get("queries", {}).items()}
            for q, msg in check_results(tables, a.seed, r["results"], r["oracle_sql"]):
                errors.append(f"{q}: oracle mismatch: {msg}")
                failed += runs.get(q, 1)
        if a.trace == "1" and (work / "spans.jsonl").exists():
            (BUILD / "traces").mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl",
                        BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and not errors
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}  "
          f"jvm {jvm_s:.1f} s  wall {time.monotonic() - start:.1f} s  cpu steal {steal_s:.1f} s")
    for k, v in sorted(r["metrics"].items()):
        print(f"  {k:48s} {v['value']:>14.4f} {v['unit']}")
    for k, v in r["info"].items():
        if k != "queries":
            print(f"  info {k}: {v}")
    for q, v in sorted(r["info"].get("queries", {}).items()):
        print(f"  query {q}: {v}")
    for e in errors:
        print(f"  ERROR {e}")
    print(f"  attempted {r['attempted']}  failed {failed}  "
          f"error_rate {failed / max(1, r['attempted']):.4f}  correct {correct}")
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": failed,
                      "metrics": r["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
