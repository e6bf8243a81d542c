#!/usr/bin/env python3
"""Benchmark of the incremental pipeline and a query mix. Run from the
repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline-steady, query-mix (see README.md).
It builds the program from source (perfbench/build.py), makes the
workload's inputs from the seed under a per-run directory in
`.bench_build/perfbench/`, runs one JVM, checks the outputs, deletes the
run directory, and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`. It exits non-zero if any output is wrong or any operation
failed.
"""
import argparse
import json
import math
import os
import shutil
import signal
import struct
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("pipeline-steady", "query-mix")
# query-mix input size, on the scale of TESTDATA.md's sf
QUERY_SF = 0.001
# the JVM's heap, fixed at start: with a heap that grew on demand, query
# rows kept speeding up from pass to pass as it grew, and varied more
HEAP = "3g"
# a run, after any build, ends within this or fails
DEADLINE_S = 170.0

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms",
             "latency_p90_ms": "ms", "cycle_ms": "ms"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("coverage"):
        return "fraction"
    return "count"


def canon(v):
    """Bit-level value form used by tools/check_oracle.py: floats compare by
    their IEEE-754 bytes, NaN collapsed to one payload."""
    if isinstance(v, float):
        return struct.pack("<d", float("nan") if math.isnan(v) else v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def oracle_check(tables, results):
    """Compare each query-mix result with its DuckDB oracle SQL over the
    same tables: column names, then every value, order-independently.
    Returns the failure messages."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(tables).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((results / "oracle_sql.json").read_text())
    bad = []
    for name, sql in oracle.items():
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{results / name}/*.parquet')")
            duck_rel = con.sql(sql)
            sc, dc = sorted(spark_rel.columns), sorted(duck_rel.columns)
            if sc != dc:
                bad.append(f"{name}: columns {sc} != oracle {dc}")
                continue
            cols = ", ".join(f'"{c}"' for c in sc)
            sv = con.sql(f"SELECT {cols} FROM spark_rel ORDER BY ALL").fetchall()
            dv = con.sql(f"SELECT {cols} FROM duck_rel ORDER BY ALL").fetchall()
            if not sv or [canon(r) for r in sv] != [canon(r) for r in dv]:
                bad.append(f"{name}: {len(sv)} rows differ from the oracle's {len(dv)}")
        except Exception as e:  # a missing result counts as wrong
            bad.append(f"{name}: {type(e).__name__}: {e}")
    return bad


def git_commit(root):
    """The checked-out commit, when the tree is a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def kill_tree(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd()

    cp, src_digest = build.build(root)
    t_start = time.monotonic()
    work = root / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    proc = None
    try:
        cores = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores), "--work", str(work),
                "--out", str(work / "result.json")]
        gen_s = 0.0
        if a.workload == "query-mix":
            gen_tables.write(work / "tables", a.seed, QUERY_SF)
            gen_s = time.monotonic() - t_start
            args += ["--tables", str(work / "tables")]
        jvm = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args)
        log_path = work / "jvm.log"
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                kill_tree(proc)
                sys.stderr.write(log_path.read_text()[-4000:])
                raise SystemExit("perfbench: run timed out")
        proc = None
        if code != 0 or not (work / "result.json").is_file():
            sys.stderr.write(log_path.read_text()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {code}")
        res = json.loads((work / "result.json").read_text())
        res["end_to_end"]["setup_s"] += gen_s
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if a.workload == "query-mix":
            bad = oracle_check(work / "tables", work / "results")
            attempted += len(json.loads((work / "results" / "oracle_sql.json").read_text()))
            failed += len(bad)
            failures += bad
        if a.trace:
            spans = work / "spans.jsonl"
            if spans.is_file():
                keep = root / ".bench_build" / "perfbench" / "traces"
                keep.mkdir(parents=True, exist_ok=True)
                shutil.copy(spans, keep / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        if proc is not None:
            kill_tree(proc)
        shutil.rmtree(work, ignore_errors=True)

    layer = res["per_layer"]
    if a.trace:
        # here, because the oracle checks above add to the JVM's counts
        layer["ops.failed_frac"] = failed / max(1, attempted)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["end_to_end"].items()}
    env = dict(res["env"], workload=a.workload, trace=a.trace, heap=HEAP,
               source_sha256=src_digest[:16], git_commit=git_commit(root),
               query_sf=QUERY_SF)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print("env " + json.dumps(env, sort_keys=True))
    print("; ".join(f"{k}={m['value']:.6g} {m['unit']}" for k, m in metrics.items()))
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
