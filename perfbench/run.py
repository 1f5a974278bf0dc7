#!/usr/bin/env python3
"""Production-shaped benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <kg_dense|catalog_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from the checkout's sources together with the
benchmark's JVM program (perfbench/build.sbt; the first run compiles),
sets the workload up from the seed, runs it closed-loop for about
`--seconds`, checks every run's output, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones. perfbench/DESIGN.md describes the
workloads, the metrics and how they relate.

Everything it writes goes under <checkout>/.bench_build/perfbench; each
run's inputs and outputs live in a fresh directory there that is removed
when the run ends (the span and stage records of traced runs are kept
under traces/).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

WORKLOADS = ("kg_dense", "catalog_mix")
# catalog_mix's tables: the catalog's sf0.01 reference test tables, as
# they are (a run's seed sets the order of the mix); their oracle results
# are made by the build step
CATALOG_DATA = HERE / "catalog"
ORACLE = BUILD / "oracle"
DEADLINE_S = 170  # a run must end within 180 s; the build is not counted

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp() -> str:
    """Hash of every file the build step reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties",
             HERE / "run.py"]
    for d in (ROOT / "src" / "main", HERE / "src", CATALOG_DATA):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.is_file() else b"-")
    return h.hexdigest()


def build() -> Path:
    """Compiles engine + benchmark program once per source state; returns the java
    argument file holding the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources next to the benchmark (looked in {ROOT})")
    argfile, stamp_file = BUILD / "classpath.args", BUILD / "stamp"
    stamp = source_stamp()
    if argfile.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return argfile
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building the engine and the benchmark program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    argfile.write_text("-cp\n" + lines[-1].strip() + "\n")
    if java(argfile, ["perfbench.OracleSql", str(BUILD / "oracle_sql.json")], heap="1g") != 0:
        die("could not read the oracle SQL")
    prepare_oracle()
    stamp_file.write_text(stamp)
    return argfile


def heap_size() -> str:
    """MemTotal/2, clamped to [2, 8] GiB: the tier-1 test command's rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(argfile: Path, args, heap: str, extra=(), cwd=None, timeout=120) -> int:
    """Runs a JVM with the benchmark's classpath; returns its exit code. On
    timeout the JVM is killed and subprocess.TimeoutExpired raised."""
    cmd = ["java", f"@{argfile}", f"-Xmx{heap}", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += list(extra) + list(args)
    return subprocess.run(cmd, cwd=cwd, timeout=timeout).returncode


# ---------------------------------------------------------------- catalog

def canon(df):
    """tools/oracle_check.py's comparison form: columns by name, cells as
    exact strings (Decimal via str, floats via repr), rows sorted."""
    df = df[sorted(df.columns)]

    def norm(v):
        if isinstance(v, Decimal):
            return str(v)
        if isinstance(v, float):
            return repr(v)
        return str(v)
    df = df.apply(lambda c: c.map(norm))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def dtype_kind(col) -> str:
    k = col.dtype.kind
    if k in "iu":
        return "int"
    if k in "fbM":
        return {"f": "float", "b": "bool", "M": "timestamp"}[k]
    nn = col.dropna()
    if len(nn) == 0:
        return "empty"
    v = nn.iloc[0]
    for t, name in ((Decimal, "decimal"), (bool, "bool"), (int, "int"),
                    (float, "float"), (str, "string")):
        if isinstance(v, t):
            return name
    return type(v).__name__


def prepare_oracle() -> None:
    """Writes each catalog_mix entry's oracle result, as DuckDB evaluates
    the engine's oracle SQL over the catalog tables. Part of the build: the
    SQL comes from the engine's sources."""
    import duckdb
    shutil.rmtree(ORACLE, ignore_errors=True)
    ORACLE.mkdir()
    con = duckdb.connect()
    for name in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{CATALOG_DATA / (name + '.parquet')}')")
    for name, q in json.loads((BUILD / "oracle_sql.json").read_text()).items():
        con.execute(q).df().to_pickle(ORACLE / f"{name}.pkl")


def check_result(path: str, name: str) -> str:
    """'' when the Spark result at `path` equals entry `name`'s oracle
    result, else why not."""
    import pandas as pd
    want_raw = pd.read_pickle(ORACLE / f"{name}.pkl")
    got_raw = pd.read_parquet(path)
    got_c, want_c = canon(got_raw), canon(want_raw)
    if list(got_c.columns) != list(want_c.columns):
        return f"schema {list(got_c.columns)} vs {list(want_c.columns)}"
    for c in got_c.columns:
        g, w = dtype_kind(got_raw[c]), dtype_kind(want_raw[c])
        if g != w and "empty" not in (g, w):
            return f"dtype of {c}: {g} vs {w}"
    if len(got_c) != len(want_c):
        return f"rows {len(got_c)} vs {len(want_c)}"
    if not got_c.equals(want_c):
        return f"{(got_c != want_c).any(axis=1).sum()} rows differ"
    return ""


# ------------------------------------------------------------------- main

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "BENCHMARK.json").is_file():
        die(f"no BENCHMARK.json in {ROOT}")
    argfile = build()
    t_start = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    heap = heap_size()
    loadavg = " ".join(f"{x:.2f}" for x in os.getloadavg())
    print(f"HOST nproc={cpus} loadavg={loadavg} heap={heap}", flush=True)

    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--work", str(work)]
        extra = [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}"]
        if a.trace:
            # lets the listener see which stage's tasks cached the KG pass
            extra.append("-Dspark.taskMetrics.trackUpdatedBlockStatuses=true")
            args += ["--trace-out", str(BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl")]
        if a.workload == "catalog_mix":
            args += ["--data", str(CATALOG_DATA)]
        try:
            rc = java(argfile, args, heap, extra, cwd=work,
                      timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            rc = f"killed after {DEADLINE_S} s"
        if rc == 0:
            res = json.loads((work / "result.json").read_text())
        else:
            # the run counts as one failed operation, with nothing measured
            res = {"metrics": {}, "attempted": 1, "failed": 1,
                   "failures": [f"the JVM exited: {rc}"], "results": []}
        log(f"JVM done at {time.monotonic() - t_start:.2f}s")

        failed, attempted = res["failed"], res["attempted"]
        for msg in res["failures"]:
            log(f"failed: {msg}")
        for tag, name, path in res["results"]:
            why = check_result(path, name)
            if why:
                failed += 1
                log(f"failed: {tag} {name} does not match the oracle: {why}")
        metrics = res["metrics"]
        log(f"checked at {time.monotonic() - t_start:.2f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        # a layer the workload does not run reads 0 (DESIGN.md lists which)
        value = metrics.get(m["name"], 0.0 if metrics else None)
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    missing = [n for n in out if n not in metrics]
    if missing:
        log(f"not measured on {a.workload}: {', '.join(missing)}")
    # every end-to-end metric must be measured; a layer may not run
    correct = (failed == 0 and not (missing and not a.trace)
               and all(v["value"] is not None for v in out.values()))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
