#!/usr/bin/env python3
"""graft benchmark: daemon path, gRPC sink acks and a catalog slice.

Run from the root of a checkout:

    python3 perfbench/run.py --workload push_json --seed 1 --seconds 5 --trace 0

Builds the repository and the benchmark JVM with sbt on first use (again
whenever a source changes), runs one workload in one JVM, checks its
outputs, prints a table of every metric by name and unit, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer
metrics. Exits 1 when an output check fails, 2 when the checkout cannot be
built or run.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = HERE / "workloads.json"
FIXTURES = HERE / "fixtures"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """Hash of every input of the build: the repository's and the benchmark's."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    for p in sorted(files):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """sbt build of the repository plus the benchmark; returns launch settings."""
    launch = build_dir / "launch.properties"
    stamp_file = build_dir / "build.stamp"
    stamp = source_stamp()
    if not (launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        log = build_dir / "build.log"
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                       HERE, log, BUILD_TIMEOUT_S)
        if rc != 0:
            fail(2, f"build failed (exit {rc}):\n{tail(log)}")
        shutil.copyfile(HERE / "target" / "launch.properties", launch)
        stamp_file.write_text(stamp)
    props = dict(line.rstrip("\n").split("=", 1)
                 for line in launch.read_text().splitlines() if "=" in line)
    return props["classpath"], [o for o in props["java_options"].split("\x1f") if o]


def replay_file(params, build_dir):
    """The replay fixture as JSON lines (events, then documents), exported
    once per checkout from its parquet so the benchmark JVM reads it
    without starting a Spark job."""
    name = params.get("replay_fixture")
    if name is None:
        return "-"
    out = build_dir / f"replay-{name}.jsonl"
    if not out.exists():
        import duckdb
        d = FIXTURES / name
        con = duckdb.connect()
        ev = con.sql("SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)), user_id, props "
                     f"FROM '{d}/events.parquet' ORDER BY event_id").fetchall()
        docs = con.sql(f"SELECT doc_id, text FROM '{d}/documents.parquet' ORDER BY doc_id").fetchall()
        tmp = out.with_suffix(".tmp")
        with open(tmp, "w") as f:
            for r in ev:
                f.write(json.dumps({"e": list(r)}) + "\n")
            for r in docs:
                f.write(json.dumps({"d": list(r)}) + "\n")
        tmp.rename(out)
    return str(out)


# ---- catalog oracle check (canonicalised the way tools/check.py does) ------

def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def type_class(t):
    t = str(t)
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    return t


def canon(rel):
    cols, types = rel.columns, [type_class(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(norm(r[i]) for i in order) for r in rel.fetchall())
    return [[cols[i] for i in order], [types[i] for i in order], [list(r) for r in rows]]


def oracle_check(result, fixture_dir, cache_dir):
    """Compare each catalog entry's rows with its DuckDB oracle. Oracle
    results are cached by the hash of their SQL and the fixture."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    fx = hashlib.sha256()
    for f in sorted(fixture_dir.glob("*.parquet")):
        fx.update(f.read_bytes())
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    cache_dir.mkdir(parents=True, exist_ok=True)
    sqls = result["extra"].get("oracle_sql", {})
    failures = []
    for entry, path in sorted(result["extra"].get("entry_outputs", {}).items()):
        try:
            got = canon(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
            sql = sqls.get(entry)
            if sql is None:  # approximate entries carry no oracle: rows only
                if not got[2]:
                    failures.append(f"{entry}: no rows")
                continue
            key = hashlib.sha256(sql.encode() + fx.digest()).hexdigest()
            cached = cache_dir / f"{key}.json"
            if cached.exists():
                want = json.loads(cached.read_text())
            else:
                want = canon(con.sql(sql))
                cached.write_text(json.dumps(want))
            if got != want:
                what = "columns" if got[0] != want[0] else "types" if got[1] != want[1] else "rows"
                failures.append(f"{entry}: {what} differ from the oracle")
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failures.append(f"{entry}: {str(e)[:200]}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_json = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(2, f"no graft sources next to {HERE.name}/ (build.sbt, src/main/scala)")
    if not bench_json.exists():
        fail(2, "BENCHMARK.json not found at the checkout root")
    bench = json.loads(bench_json.read_text())
    spec = json.loads(SPEC.read_text())
    if a.workload not in spec["workloads"]:
        fail(2, f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    classpath, java_options = build(build_dir)

    cpus = len(os.sched_getaffinity(0))
    work = build_dir / "runs" / f"{a.workload}-seed{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_path = work / "result.json"
    heap = spec["sizing"]["jvm_heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + java_options + ["-cp", classpath, "graftbench.Main",
                             a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cpus),
                             str(SPEC), str(FIXTURES),
                             replay_file(spec["workloads"][a.workload], build_dir),
                             str(work), str(result_path)])
    log = work / "jvm.log"
    rc = run_group(cmd, ROOT, log, JVM_TIMEOUT_S)
    logs = build_dir / "logs"
    logs.mkdir(exist_ok=True)
    shutil.copyfile(log, logs / f"{a.workload}.log")
    if rc != 0 or not result_path.exists():
        fail(2, f"benchmark JVM failed (exit {rc}):\n{tail(log)}")
    result = json.loads(result_path.read_text())
    if (work / "spans.jsonl").exists():
        traces = build_dir / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copyfile(work / "spans.jsonl", traces / f"{work.name}.jsonl")

    attempted, failed = int(result["attempted"]), int(result["failed"])
    notes = list(result["notes"])
    if a.workload == "catalog_slice":
        fixture = FIXTURES / spec["workloads"]["catalog_slice"]["fixture"]
        bad = oracle_check(result, fixture, build_dir / "oracle")
        failed_entries = {n.split(" ")[0] for n in notes}
        failed += len([b for b in bad if b.split(":")[0] not in failed_entries])
        notes += bad
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        wanted, source = bench["per_layer"], result["layers"]
    else:
        wanted, source = bench["end_to_end"], result["metrics"]
    metrics, absent = {}, []
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise did no work in it
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            absent.append(m["name"])
        else:
            fail(2, f"workload {a.workload} did not report {m['name']}")

    print(f"== {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} local[{cpus}]")
    print("-- end-to-end (untraced figures are the ones compared)")
    for name, value, unit in result["table"]:
        print(f"  {name:<40} {value:>14.4f} {unit}")
    if a.trace:
        print("-- per-layer")
        for name, m in metrics.items():
            if name not in absent:
                print(f"  {name:<52} {m['value']:>14.4f} {m['unit']}")
        print(f"  ({len(absent)} per-layer metrics belong to layers this workload does not run; reported as 0)")
        print("-- span self time (ms)")
        for name, ms in sorted(result["span_self_ms"].items(), key=lambda kv: -kv[1])[:15]:
            print(f"  {name:<52} {ms:>14.1f}")
    print(f"-- checks: attempted={attempted} failed={failed} error_rate={failed / max(1, attempted):.6f}")
    for n in notes[:10]:
        print(f"  ! {n}")
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
