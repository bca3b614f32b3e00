#!/usr/bin/env python3
"""Benchmark of the crawl, index, search and dedup engine.

Runs one workload in one JVM (local Spark, at most 4 cores), checks every
result against the engine's reference oracle (and, for the dedup family,
against the gated queries' DuckDB oracle SQL), prints every metric by name
with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <crawl_mem|crawl_governed|search|dedup_ops>
      --seed <n> --seconds <s> --trace <0|1>

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 its
per-layer metrics (and writes the spans to .bench_build/perfbench/traces).
The first run compiles the engine and the benchmark (perfbench/build.py).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_LIMIT_S = 170  # the workload JVM and the checks; the compile is bounded apart
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------- metrics

def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        raise BenchError("BENCHMARK.json not found in the working directory")
    with open(path) as f:
        return json.load(f)


def end_to_end(raw):
    """End-to-end metric values of one untraced run."""
    if not raw["setup_s"] or not raw["batch_s"] or not raw["op_ms"]:
        raise BenchError("no completed operation to measure")
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "throughput_per_s": raw["items"] / statistics.median(raw["batch_s"]),
        "op_p50_ms": statistics.median(raw["op_ms"]),
    }


def per_layer(raw):
    """Per-layer values of one traced run: the median of each metric's
    samples. A layer the workload does not use reports 0. The tracing
    overhead compares the median latency of the traced operations with
    that of the untraced ones."""
    values = {k: statistics.median(v) for k, v in raw["layers"].items() if v}
    if raw["traced_op_ms"] and raw["op_ms"]:
        t = statistics.median(raw["traced_op_ms"])
        u = statistics.median(raw["op_ms"])
        values["trace.overhead_pct"] = 100.0 * (t - u) / u
    return values


def assemble(spec, trace, values):
    """Metrics object of the result line: exactly the metrics BENCHMARK.json
    declares for this mode, each with its unit."""
    declared = spec["per_layer" if trace else "end_to_end"]
    out = {}
    for m in declared:
        name = m["name"]
        if name not in values:
            if not trace:
                raise BenchError(f"metric {name} was not measured")
            v = 0.0
        else:
            v = values[name]
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            raise BenchError(f"metric {name} is not a number")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


# --------------------------------------------------------------- dedup check

def _vals_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 + 1e-9 * max(abs(fa), abs(fb))
    return a == b


def _norm(v):
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def oracle_check(check):
    """Compares the engine's answer (parquet) with the gated query's oracle
    SQL run by DuckDB over the same documents table. Rows compare as
    sorted multisets; floats within 1e-9."""
    import duckdb
    con = duckdb.connect()
    for table, path in check["tables"].items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
    want = con.execute(check["sql"]).fetchall()
    got = con.execute(f"SELECT * FROM read_parquet('{check['engine']}/*.parquet')").fetchall()
    con.close()
    if len(want) != len(got):
        return f"{len(got)} rows, oracle {len(want)}"
    key = lambda r: tuple((x is None, "" if x is None else repr(_norm(x))) for x in r)  # noqa: E731
    for w, g in zip(sorted(want, key=key), sorted(got, key=key)):
        if len(w) != len(g) or not all(_vals_equal(_norm(a), _norm(b)) for a, b in zip(w, g)):
            return f"row {g} != oracle {w}"
    return None


# ---------------------------------------------------------------------- run

def run_jvm(cp, args, work, deadline):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise BenchError("workload run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    raw = [line for line in out.splitlines() if line.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        raise BenchError(f"workload JVM exited with code {proc.returncode}")
    return json.loads(raw[-1][len("PERFBENCH_RAW "):])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args(argv)
    root = os.getcwd()
    spec = load_spec(root)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise BenchError(f"unknown workload {args.workload}")
    cp = build.build(root)
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(root, build.OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(cp, args, work, deadline - 15)
        wrong = raw["wrong"]
        notes = list(raw["notes"])
        for check in raw["checks"]:
            problem = oracle_check(check)
            if problem:
                wrong += check["calls"]
                notes.append(f"{check['query']}: {problem}")
        if args.trace:
            traces = os.path.join(root, build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = per_layer(raw) if args.trace else end_to_end(raw)
    metrics = assemble(spec, args.trace, values)
    failed = raw["threw"] + wrong
    attempted = raw["attempted"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"local[{raw['cpus']}] ({len(raw['op_ms']) + len(raw['traced_op_ms'])} timed operations, "
          f"{len(raw['setup_s'])} set-ups)")
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_ratio':34s} {failed / max(attempted, 1):>16.6g} ratio "
          f"({failed} of {attempted} operations)")
    for n in notes:
        print(f"  note: {n}")
    print(f"correctness: {'PASS' if wrong == 0 else 'FAIL'} "
          f"({wrong} wrong answers, {raw['threw']} operations threw)")
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, build.BuildError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
