#!/usr/bin/env python3
"""Steadiness runs, the traced per-layer table, and run comparison.

    python3 perfbench/report.py steady --workload search --seeds 1-10
    python3 perfbench/report.py layers --workload search --seed 1
    python3 perfbench/report.py compare --a A1.json A2.json --b B1.json B2.json

`steady` runs a workload once per seed, untraced, and reports each
end-to-end metric's median and quartile spread (IQR / median) beside its
bound. `layers` runs one seed untraced and twice traced: it prints the
per-layer table, checks that the count metrics repeat exactly, and reports
the tracing overhead (traced minus untraced end-to-end numbers). `compare`
reads result records written by run.py and prints per-metric medians of
two sets; it refuses sets whose contexts differ. Records are JSON files
under perfbench/.work/results/; `--out` saves a summary as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RESULTS = BENCH / ".work" / "results"
# a run's context must match for its numbers to be compared
CONTEXT_KEYS = ("cores", "master", "data", "jvm", "max_heap_mb")
COUNTS = ("jobs", "stages", "tasks", "build_jobs", "relation_load_jobs")


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, trace):
    """One run.py run; returns its full result record."""
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec()["run_seconds"]),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    if proc.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {proc.returncode}: {proc.stderr.strip()}")
    print(line, flush=True)
    return json.loads((RESULTS / f"{workload}-s{seed}-t{trace}.json").read_text())


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def steady(args):
    records = [run(args.workload, s, 0) for s in seeds(args.seeds)]
    rows = {}
    print(f"\n{args.workload}: {len(records)} runs")
    for m in spec()["end_to_end"]:
        values = [r["end_to_end"][m["name"]] for r in records]
        med, sp = spread(values)
        rows[m["name"]] = {"unit": m["unit"], "bound": m["bound"], "median": med,
                           "spread": sp, "values": values}
        print(f"  {m['name']:14s} median {med:12.4f} {m['unit']:4s} "
              f"spread {sp:6.3f}  bound {m['bound']}")
    return {"workload": args.workload, "seeds": seeds(args.seeds),
            "context": records[0]["context"], "metrics": rows}


def layers(args):
    plain = run(args.workload, args.seed, 0)
    traced = [run(args.workload, args.seed, 1) for _ in range(2)]
    a, b = (t["per_layer"] for t in traced)
    repeat = {k: a[k] == b[k] for k in COUNTS}
    overhead = {k: traced[0]["end_to_end"][k] - plain["end_to_end"][k]
                for k in plain["end_to_end"]}
    print(f"\n{args.workload}, seed {args.seed}: per pass "
          f"({traced[0]['passes']} and {traced[1]['passes']} passes)")
    for m in spec()["per_layer"]:
        print(f"  {m['name']:28s} {a[m['name']]:16.3f} {b[m['name']]:16.3f} {m['unit']}")
    print("  counts repeat: " + ", ".join(f"{k} {v}" for k, v in repeat.items()))
    print("  tracing overhead (traced - untraced): " +
          ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()))
    return {"workload": args.workload, "seed": args.seed,
            "context": traced[0]["context"], "per_layer": [a, b],
            "counts_repeat": repeat, "untraced": plain["end_to_end"],
            "traced": [t["end_to_end"] for t in traced],
            "tracing_overhead": overhead}


def compare(args):
    sides = {s: [json.loads(Path(p).read_text()) for p in getattr(args, s)]
             for s in ("a", "b")}
    ctx = {s: [(r["workload"], r["seconds"], r["trace"]) +
              tuple(r["context"].get(k) for k in CONTEXT_KEYS) for r in recs]
           for s, recs in sides.items()}
    distinct = set(ctx["a"]) | set(ctx["b"])
    if len(distinct) != 1:
        sys.exit("refusing to compare runs from different contexts:\n  " +
                 "\n  ".join(str(c) for c in sorted(distinct, key=str)))
    for s, recs in sides.items():
        builds = sorted({(r["context"].get("commit"), r["context"].get("dirty"),
                          r["context"].get("classes")) for r in recs}, key=str)
        print(f"{s}: {len(recs)} runs of commit/dirty/classes {builds}")
    key = "per_layer" if sides["a"][0]["trace"] else "end_to_end"
    out = {}
    for m in spec()[key]:
        n = m["name"]
        ma = statistics.median(r[key][n] for r in sides["a"])
        mb = statistics.median(r[key][n] for r in sides["b"])
        change = (mb - ma) / ma if ma else float("nan")
        out[n] = {"a": ma, "b": mb, "change": change}
        print(f"  {n:28s} a {ma:14.4f}  b {mb:14.4f}  {change:+.3f}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("steady")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p = sub.add_parser("layers")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p = sub.add_parser("compare")
    p.add_argument("--a", nargs="+", required=True)
    p.add_argument("--b", nargs="+", required=True)
    for p in sub.choices.values():
        p.add_argument("--out")
    args = ap.parse_args()
    result = {"steady": steady, "layers": layers, "compare": compare}[args.cmd](args)
    if args.out:
        Path(args.out).write_text(json.dumps(result, indent=1) + "\n")


if __name__ == "__main__":
    main()
