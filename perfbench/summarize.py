#!/usr/bin/env python3
"""Per-layer summary of traced benchmark runs.

    python3 perfbench/summarize.py record --workload wide --seed 7 --seconds 24
        Runs the workload once untraced and once traced with the same seed
        and writes perfbench/artifacts/<workload>.json (both results plus
        the traced run's spans).

    python3 perfbench/summarize.py [artifact.json ...]
        For each artifact (default: every file in perfbench/artifacts/),
        prints each operation's per-layer self time (span time minus the
        time its child spans cover) and share of the operation's wall
        time, and the tracing overhead: traced wall time minus the
        untraced end-to-end metric. Then prints the cross-workload
        numbers: sink share of the backfill, plan and job fan-out at
        equal city-days, and dashboard load and panel latency.
"""
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ARTIFACTS = os.path.join(HERE, "artifacts")

# untraced timing samples each operation kind is compared with
OP_SAMPLES = {"backfill": "backfill_s", "refresh": "refresh_s", "load": "load_s"}


def run_once(workload, seed, seconds, trace):
    """One run; returns its result object with the run's timing samples."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    with open(os.path.join(ROOT, ".perfbench_work", f"{workload}.result.json")) as fh:
        return json.load(fh)


def record(argv):
    import argparse
    ap = argparse.ArgumentParser(prog="summarize.py record")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args(argv)
    untraced = run_once(a.workload, a.seed, a.seconds, 0)
    traced = run_once(a.workload, a.seed, a.seconds, 1)
    with open(os.path.join(ROOT, ".perfbench_work", "traces", f"{a.workload}-seed{a.seed}.json")) as fh:
        trace = json.load(fh)
    doc = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "host": {"cores": os.cpu_count(), "spark_master": "local[4]"},
           "untraced": untraced, "traced": traced, "trace": trace}
    os.makedirs(ARTIFACTS, exist_ok=True)
    path = os.path.join(ARTIFACTS, f"{a.workload}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"wrote {os.path.relpath(path, ROOT)}")


def ops_by_kind(spans):
    """{kind: [[spans of one op], ...]} where kind is the root span's name."""
    ops = {}
    for s in spans:
        if s["op"] > 0:
            ops.setdefault(s["op"], []).append(s)
    out = {}
    for ss in ops.values():
        roots = [s for s in ss if s["parent"] == 0 and s["kind"] == "call"]
        if roots:
            out.setdefault(roots[0]["name"], []).append(ss)
    return out


def wall_s(ss):
    r = next(s for s in ss if s["parent"] == 0 and s["kind"] == "call")
    return (r["end_us"] - r["start_us"]) / 1e6


def layer_table(ops):
    """Mean self seconds per layer over the ops. The root's own self time
    is the benchmark's time between its calls."""
    acc = {}
    for ss in ops:
        for s in ss:
            name = "(benchmark)" if s["parent"] == 0 else s["name"]
            acc[name] = acc.get(name, 0.0) + s["self_us"] / 1e6
    return {k: v / len(ops) for k, v in sorted(acc.items(), key=lambda kv: -kv[1])}


def counter(ops, key):
    """Median over the ops of a listener counter summed over their jobs."""
    vals = [sum(s["counters"].get(key, 0) for s in ss if s["kind"] == "job") for ss in ops]
    return statistics.median(vals) if vals else 0


def metric(result, name):
    m = result["metrics"].get(name)
    return m["value"] if m else None


def summarize(paths):
    docs = []
    for p in paths:
        with open(p) as fh:
            docs.append(json.load(fh))
    for d in docs:
        t = d["trace"]
        print(f"== {d['workload']}  seed {d['seed']}  cities {', '.join(t['cities'])}  "
              f"window {t['window'][0]} .. {t['window'][1]}  "
              f"correct={d['untraced']['correct'] and d['traced']['correct']}")
        kinds = ops_by_kind(t["spans"])
        for kind in ("backfill", "refresh", "load"):
            ops = kinds.get(kind, [])
            if not ops:
                continue
            wall = statistics.mean(wall_s(ss) for ss in ops)
            untraced = statistics.mean(d["untraced"]["samples"][OP_SAMPLES[kind]])
            table = layer_table(ops)
            print(f"  {kind}: {len(ops)} ops, traced wall {wall:.3f} s, untraced wall {untraced:.3f} s, "
                  f"tracing overhead {wall - untraced:+.3f} s")
            for name, sec in table.items():
                print(f"    {name:24s} {sec:8.3f} s  {100 * sec / wall:5.1f} %")
            total = sum(table.values())
            print(f"    {'sum of self times':24s} {total:8.3f} s  vs untraced {untraced:.3f} s: "
                  f"{'within' if abs(total - untraced) <= abs(wall - untraced) + 1e-3 else 'OUTSIDE'} "
                  f"the tracing overhead")
        panels = sorted(k for k in kinds if k.startswith("query."))
        if panels:
            print("  panels (traced, mean ms):  " + "  ".join(
                f"{k[6:]} {1000 * statistics.mean(wall_s(ss) for ss in kinds[k]):.0f}" for k in panels))
        print()

    print("== across workloads (untraced medians; jobs and stages per traced backfill)")
    print(f"  {'workload':10s} {'backfill':>9s} {'cpu':>7s} {'sink share':>10s} {'jobs':>5s} {'stages':>6s} "
          f"{'exchanges':>9s} {'plan nodes':>10s} {'serve':>7s} {'cpu':>7s} {'refresh':>7s} {'load':>6s} "
          f"{'panel p50':>9s}")
    for d in docs:
        ops = ops_by_kind(d["trace"]["spans"]).get("backfill", [])
        wall = statistics.mean(wall_s(ss) for ss in ops) if ops else float("nan")
        sink = layer_table(ops).get("sink.parquet", 0.0) if ops else 0.0
        tr = d["traced"]
        u = d["untraced"]["samples"]
        med = lambda k: statistics.median(u[k])
        print(f"  {d['workload']:10s} {med('backfill_s'):8.3f}s {med('backfill_cpu_s'):6.2f}s "
              f"{100 * sink / wall:9.1f}% {counter(ops, 'jobs'):5.0f} {counter(ops, 'stages'):6.0f} "
              f"{metric(tr, 'pipeline.plan_exchanges'):9.0f} {metric(tr, 'pipeline.plan_nodes'):10.0f} "
              f"{med('serve_s'):6.2f}s {med('serve_cpu_s'):6.2f}s {med('refresh_s'):6.2f}s "
              f"{med('load_s'):5.2f}s {med('query_ms'):7.0f}ms")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "record":
        record(sys.argv[2:])
    else:
        paths = sys.argv[1:] or sorted(glob.glob(os.path.join(ARTIFACTS, "*.json")))
        if not paths:
            sys.exit("no artifacts: run `summarize.py record ...` first")
        summarize(paths)


if __name__ == "__main__":
    main()
