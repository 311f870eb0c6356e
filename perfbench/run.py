"""Benchmark of the rule engine: rule_request and heavy_rows.

    python3 perfbench/run.py --workload rule_request --seed 1 --seconds 20 --trace 0

Builds the engine from this checkout (perfbench/build.py), writes the
seeded inputs into a fresh run directory, runs the harness JVM on them,
checks every output against DuckDB, and prints one JSON line: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` its per-layer metrics). Everything it
writes stays under perfbench/.build and perfbench/.work.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import corpus  # noqa: E402
import workloads  # noqa: E402
from oracle import Twin, ident, same_rows  # noqa: E402

ROOT = BENCH.parent
WORK = BENCH / ".work"
HEAP = "4g"
RUN_TIMEOUT_S = 140     # one run must end within 180 s, DuckDB check included
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def java(classpath, run_dir, args):
    """The harness JVM: pinned heap, UTC, the build's --add-opens, and
    temp files inside the run directory (no hsperfdata file in /tmp)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.add_opens() + ["-cp", ":".join(classpath), "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"), TZ="UTC")
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also when this process is told to stop
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")


def connect():
    con = duckdb.connect()
    for setting in ("TimeZone = 'UTC'", "threads = 4", "memory_limit = '3GB'",
                    "enable_progress_bar = false", f"temp_directory = '{WORK / 'duckdb'}'"):
        con.execute(f"SET {setting}")
    return con


def check_request(run_dir, spec, result):
    """Each distinct (payload, rule) reply against the rule's DuckDB twin."""
    con = connect()
    cols = ", ".join(f"'{n}': '{'BOOLEAN' if k == 'bool' else 'VARCHAR'}'" for n, k in workloads.USER_COLUMNS)
    for p, meta in enumerate(spec["payloads"]):
        con.execute(f"CREATE TABLE p{p} AS SELECT * FROM "
                    f"read_json('{run_dir / meta['file']}', format='array', columns={{{cols}}})")
    failed, rows_out = 0, 0
    rules = [json.loads(r) for r in spec["rules"]]
    for c in result["checks"]:
        p, r = c["payload"], c["rule"]
        twin = Twin(f"p{p}", workloads.USER_COLUMNS).rule(rules[r])
        body = json.loads((run_dir / c["file"]).read_text()) if c["status"] == 200 else None
        if body is None or not same_rows(body, con.sql(twin)):
            failed += 1
            print(f"perfbench: mismatch payload {p} rule {spec['shapes'][r]}", file=sys.stderr)
        else:
            rows_out += len(body)
    return failed, rows_out


def view(con, name, source):
    """A view over parquet with every timestamp as a UTC TIMESTAMP, as the
    engine's session time zone renders it."""
    rel = con.sql(f"SELECT * FROM {source} LIMIT 0")
    cols = ", ".join(f"CAST({n} AS TIMESTAMP) AS {n}" for n, ty in zip(rel.columns, rel.types)
                     if str(ty).startswith("TIMESTAMP"))
    replace = f" REPLACE ({cols})" if cols else ""
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT *{replace} FROM {source}")


def check_heavy(run_dir, tables, result):
    """Each row's output against `SparkEntry.oracleSql` over the same
    tables: equal as multisets, columns matched by name."""
    con = connect()
    for t in ("orders", "events"):
        view(con, t, f"read_parquet('{tables / t}.parquet')")
    failed, rows_out = 0, 0
    for c in result["checks"]:
        ok = "error" not in c
        if ok:
            view(con, "got", f"read_parquet('{run_dir / c['dir']}/*.parquet')")
            con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {c['oracle']}")
            got = {n.lower(): n for n in con.sql("SELECT * FROM got LIMIT 0").columns}
            want = con.sql("SELECT * FROM want LIMIT 0").columns
            ok = sorted(got) == sorted(n.lower() for n in want)
        if ok:
            cols = ", ".join(ident(got[n.lower()]) for n in want)
            n_got, extra, missing = con.sql(
                f"SELECT (SELECT count(*) FROM got), "
                f"(SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT * FROM want)), "
                f"(SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT {cols} FROM got))").fetchone()
            ok = extra == 0 and missing == 0
            rows_out += n_got
        if not ok:
            failed += 1
            print(f"perfbench: mismatch in {c['row']}", file=sys.stderr)
    return failed, rows_out


def self_times(spans_path):
    """Per span name: count, total ms and self ms (minus time its children cover)."""
    spans = [json.loads(line) for line in spans_path.read_text().splitlines()]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        agg["self_ms"] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the harness JVM and the run
    # directory are cleaned up on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    run_dir = WORK / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        if a.workload == "rule_request":
            spec = workloads.request_inputs(a.seed, a.seconds, run_dir)
        else:
            tables = workloads.heavy_inputs(a.seed, a.seconds, run_dir)
        java(classpath, run_dir, [a.workload, str(run_dir), str(a.trace)])
        result = json.loads((run_dir / "result.json").read_text())
        if a.workload == "rule_request":
            failed, rows_out = check_request(run_dir, spec, result)
        else:
            failed, rows_out = check_heavy(run_dir, tables, result)
        if a.trace:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            spans = traces / f"{a.workload}-seed{a.seed}.spans.jsonl"
            shutil.copy(run_dir / "spans.jsonl", spans)
            summary = self_times(spans)
            spans.with_suffix("").with_suffix(".self.json").write_text(json.dumps(summary, indent=1))
            for name, s in sorted(summary.items(), key=lambda kv: -kv[1]["self_ms"]):
                print(f"perfbench span {name:32s} n={s['count']:5d} total={s['total_ms']:10.1f} ms "
                      f"self={s['self_ms']:10.1f} ms", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    env = dict(result["env"], seed=a.seed, workload=a.workload, seconds=a.seconds, trace=a.trace,
               heap=HEAP, host_nproc=os.cpu_count(),
               corpus_rows=corpus.ROWS.get(a.workload, {}))
    print("perfbench env " + json.dumps(env, sort_keys=True))
    if a.trace:
        layers = dict(result["layers"], **{"rules.rows_out": rows_out})
        names = [m["name"] for m in SPEC["per_layer"]]
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        # a layer the workload does not exercise reads 0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": float(result["metrics"][m["name"]]), "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    failed_ops = int(result["failed"]) + failed
    print(json.dumps({"correct": failed_ops == 0, "attempted": int(result["attempted"]),
                      "failed": failed_ops, "metrics": metrics}))


if __name__ == "__main__":
    main()
