#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
then runs the harness JVM at local[N] with N = the cores this process may
use (nproc). `--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` the per-layer ones. The full record, with its context stamp
(cores, data, commit, compiled-class fingerprint, JVM, heap), is written
under perfbench/.work/results/. Exits 1 when any output check failed and 2
when the engine sources or the build are missing.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170
# After the root build's javaOptions (so these win): a heap of fixed size
# with a fixed young generation, so peak RSS follows what the program keeps
# rather than how the collector chose to grow the heap.
JVM_OPTIONS = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change calls for a rebuild."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def digest(files, base):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(base)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    return env


def launch_spec():
    """Classpath and JVM options of the harness, building when stale."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {BENCH.name}/ (build.sbt, src/main)")
    stamp = digest(build_inputs(), ROOT)
    spec_file = WORK / "launch.json"
    if spec_file.is_file():
        spec = json.loads(spec_file.read_text())
        if spec.get("stamp") == stamp:
            return spec
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath", "print perfbench/javaOptions"]
    try:
        with open(log, "w") as out:
            proc = subprocess.run(cmd, cwd=BENCH, env=sbt_env(), stdout=out,
                                  stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = log.read_text().splitlines()
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = [l for l in lines if not l.startswith(("[", "*")) and "classes" in l]
    opts = [l[2:] for l in lines if l.startswith("* ")]
    if len(cp) != 1 or not opts:
        fail(f"could not read the classpath and JVM options from {log}")
    spec = {"stamp": stamp, "classpath": cp[0], "java_options": opts}
    spec_file.write_text(json.dumps(spec))
    return spec


def class_fingerprint(spec):
    """Digest of the compiled engine and harness classes."""
    h = hashlib.sha256()
    for entry in spec["classpath"].split(":"):
        d = Path(entry)
        if d.is_dir() and d.resolve().is_relative_to(ROOT):
            h.update(digest(sorted(p for p in d.rglob("*") if p.is_file()), d).encode())
    return h.hexdigest()[:16]


def git_stamp():
    try:
        head = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=30)
        if head.returncode != 0:
            return {"commit": None, "dirty": None}
        status = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain"],
                                capture_output=True, text=True, timeout=30)
        return {"commit": head.stdout.strip(), "dirty": bool(status.stdout.strip())}
    except (OSError, subprocess.TimeoutExpired):
        return {"commit": None, "dirty": None}


def cpu_steal():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return fields[7], sum(fields)


def metric_specs(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "suite", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json missing at the repository root")

    spec = launch_spec()
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = WORK / "run"
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    out = results / f"{tag}.json"
    out.unlink(missing_ok=True)
    cmd = (["java"] + spec["java_options"] + JVM_OPTIONS +
           [f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", spec["classpath"], "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(run_dir), "--bench", str(BENCH),
            "--out", str(out)])
    log = WORK / f"{tag}.log"
    t0 = time.time()
    steal0 = cpu_steal()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 1)
    for line in log.read_text(errors="replace").splitlines():
        if "[perfbench] FAILED" in line:
            print(line, file=sys.stderr)
    if code != 0 or not out.is_file():
        fail(f"harness exited {code} after {time.time() - t0:.0f} s; see {log}", 1)

    steal1 = cpu_steal()
    record = json.loads(out.read_text())
    record["context"].update(git_stamp())
    record["context"]["classes"] = class_fingerprint(spec)
    record["context"]["java_options"] = spec["java_options"] + JVM_OPTIONS
    # CPU time the host took from this machine during the run
    record["context"]["cpu_steal_frac"] = (
        (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
    out.write_text(json.dumps(record, indent=1) + "\n")

    values = record["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in metric_specs(args.trace):
        if m["name"] not in values:
            fail(f"harness did not report {m['name']}", 1)
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    correct = record["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
