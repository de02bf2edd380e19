#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repo root. Builds the program and the harness from source
(see build.py), runs workload W in one JVM on `local[nproc]` with one
client, checks every result against the harness's own ground truth,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run also records spans and Spark jobs/stages and the metrics are the
per-layer ones. The full record (host stamps, sample counts, gate
failures, tail percentiles, the raw trace) goes to
`.bench_build/runs/<run>/result.json`.

`--workload all` runs every workload untraced and traced, prints a
table of every metric with its unit and sample count plus the tracing
overhead, and ends with one JSON line over all of them.

Exit status: 0 when every gate passed, 1 when a gate failed or an
operation errored (the JSON line is still printed), 2 when the run
could not happen (build failure, crash, timeout; no JSON line).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import host  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("batch-search", "vector-sql")
RUN_LIMIT_S = 170  # one run must finish well inside three minutes


class RunError(Exception):
    pass


def run_jvm(jvm, workload, seed, seconds, trace, run_dir, deadline):
    classpath, archive = jvm
    work = run_dir / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    out = run_dir / "record.json"
    cmd = build.harness_command(classpath, tmp, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cores", str(host.nproc()),
        "--work", str(work), "--out", str(out)], archive=archive)
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=build.jvm_env(trace), start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RunError(f"{workload}: timed out; see {run_dir / 'jvm.log'}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        raise RunError(f"{workload}: JVM exited {code}; see {run_dir / 'jvm.log'}")
    with open(out) as f:
        record = json.load(f)
    out.unlink()
    return record


def run_one(root, jvm, workload, seed, seconds, trace, deadline):
    """One run: returns the result dict written to result.json."""
    run_dir = root / ".bench_build" / "runs" / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    start = host.stamp()
    with host.LoadWatch() as watch:
        record = run_jvm(jvm, workload, seed, seconds, trace, run_dir, deadline)
    end = host.stamp()
    values = record["values"]
    hostinfo = host.contention(start, end, watch.peak)
    hostinfo["max_heap_bytes"] = values.get("max_heap_bytes")

    failed_ops, failures, rec, rec_n = metrics.evaluate_checks(record)
    ops = record["ops"]
    for o in ops:
        if not o["ok"]:
            failed_ops.add(o["id"])
            failures.append(f"op {o['id']} ({o['kind']}): {o.get('error')}")
    if "aborted" in values:
        failures.append(f"aborted: {values['aborted']}")
    attempted = max(1, len(ops))
    failed = len(failed_ops) + (1 if "aborted" in values else 0)
    e2e = metrics.end_to_end(workload, record, rec, rec_n) if "aborted" not in values else {}
    lat = record["samples"].get(metrics.LATENCY_SAMPLE[workload], [])
    q, tail, n = metrics.tail_percentile([x * 1000.0 for x in lat])
    result = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host": hostinfo,
        "attempted": attempted, "failed": failed,
        "error_rate": metrics.error_rate(attempted, failed),
        "failures": failures[:40],
        "end_to_end": {k: {"value": v, "unit": u, "n": c} for k, (v, u, c) in e2e.items()},
        "latency_tail": {"percentile": q, "value_ms": tail, "n": n},
        "samples": record["samples"],
        "ops": ops,
        "values": {k: v for k, v in values.items() if k not in ("spans", "jobs", "stages")},
    }
    if trace and e2e:
        layers = metrics.per_layer(record, e2e)
        result["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        result["trace"] = {k: values.get(k, []) for k in ("spans", "jobs", "stages")}
    ok = not failures and bool(e2e) and all(
        v == v for v, _, _ in e2e.values())  # no NaN: every metric measured
    result["correct"] = ok
    with open(run_dir / "result.json", "w") as f:
        json.dump(result, f, indent=1, default=str)
    return result


def metric_line(result):
    """The metrics of the result line; a value that could not be
    measured (the run is then not correct) prints as null."""
    key = "per_layer" if result["trace"] else "end_to_end"
    return {k: {"value": m["value"] if m["value"] == m["value"] else None, "unit": m["unit"]}
            for k, m in result.get(key, {}).items()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = Path.cwd()
    try:
        jvm = build.ensure(root)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    try:
        if args.workload == "all":
            return run_all(root, jvm, args)
        res = run_one(root, jvm, args.workload, args.seed, args.seconds,
                      bool(args.trace), time.monotonic() + RUN_LIMIT_S)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for f in res["failures"][:10]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metric_line(res)}))
    return 0 if res["correct"] else 1


def run_all(root, jvm, args):
    """Every workload untraced then traced; a table, then one JSON line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain = run_one(root, jvm, w, args.seed, args.seconds, False,
                        time.monotonic() + RUN_LIMIT_S)
        traced = run_one(root, jvm, w, args.seed, args.seconds, True,
                         time.monotonic() + RUN_LIMIT_S)
        print(f"== {w} (seed {args.seed}, {args.seconds:g} s, "
              f"error_rate {plain['error_rate']:.4f} of {plain['attempted']} ops, "
              f"host load {plain['host']['start']['load1']:.2f} -> "
              f"{plain['host']['end']['load1']:.2f}, peak {plain['host']['peak_load1']:.2f}"
              f"{', CONTENDED' if plain['host']['load_rose_past_nproc'] else ''})")
        for k, m in plain["end_to_end"].items():
            t = traced["end_to_end"].get(k, {}).get("value", float("nan"))
            over = (t - m["value"]) / m["value"] * 100 if m["value"] else float("nan")
            print(f"  {k:<28} {m['value']:>14.4f} {m['unit']:<6} n={m['n']:<5} "
                  f"traced {t:.4f} ({over:+.1f}%)")
        tl = plain["latency_tail"]
        if tl["percentile"] is not None:
            print(f"  latency_p{tl['percentile']}_ms{'':<18} {tl['value_ms']:>14.4f} ms     "
                  f"n={tl['n']}")
        for k, m in traced.get("per_layer", {}).items():
            print(f"  {k:<40} {m['value']:>14.4f} {m['unit']}")
        for f in plain["failures"] + traced["failures"]:
            print(f"  FAILED {f}")
        for r in (plain, traced):
            total["correct"] = total["correct"] and r["correct"]
            total["attempted"] += r["attempted"]
            total["failed"] += r["failed"]
        for k, m in metric_line(plain).items():
            total["metrics"][f"{w}.{k}"] = m
    print(json.dumps(total))
    return 0 if total["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
