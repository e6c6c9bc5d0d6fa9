"""graft benchmark: one workload per invocation, one closed-loop client.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  qc_session       an analyst's GraftQC session on generated series JSON
  qc_batch         Selection queries, gated series operators on their large branch

Steps: build graft plus the runner (perfbench/build.py), generate the
inputs from --seed (perfbench/gen.py; not timed), run the JVM runner
(graft.bench.Main) for about --seconds of timed passes, check every
operation's output (the runner checks qc_session against its selection
model; batch outputs go through tools/check_oracle.py's DuckDB compare),
then print a record line and, last, the result line:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes the spans file. Everything is written under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LIMIT_S = 170  # the whole invocation, build excluded

WORKLOADS = ("qc_session", "qc_batch")
# A run makes round(seconds / PASS_S) timed passes, so the work done is
# fixed by --seconds (at 20 s: three qc_session sessions or qc_batch passes).
PASS_S = {"qc_session": 6.5, "qc_batch": 6.5}
SERIES = {"compounds": 6, "samples": 600}
CORPUS_SF = 0.01
XMX = "2g"

E2E_UNITS = {"setup_s": "s", "makespan_s": "s", "p50_ms": "ms", "p90_ms": "ms",
             "peak_heap_mb": "MB"}


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count"


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(classes, tmp, main, args):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + JVM_OPENS + ["-cp", cp, main] + args)


def run_proc(cmd, log_path, deadline):
    """Run to completion or kill at the deadline; returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def oracle_failures(input_dir, out_dir, deadline):
    """Names failing tools/check_oracle.py's DuckDB compare."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    p = subprocess.run([sys.executable, tool, input_dir, out_dir], cwd=ROOT,
                       capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.monotonic()))
    failed = {}
    for line in p.stdout.splitlines():
        if line.startswith(" FAIL "):
            name, _, why = line[6:].partition(": ")
            failed[name] = why[:300]
    if p.returncode != 0 and not failed:
        failed["<oracle>"] = (p.stderr or p.stdout)[-300:]
    return failed


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"  # a source checkout without history
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def source_stamp():
    return build.stamp(build.sources())[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    start = time.monotonic()
    deadline = start + LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    out_dir = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)

    t = time.monotonic()
    if a.workload == "qc_session":
        inputs = gen.series(input_dir, a.seed, SERIES["compounds"], SERIES["samples"])
    else:
        inputs = gen.corpus(input_dir, a.seed, CORPUS_SF)
    inputs["generate_s"] = time.monotonic() - t

    passes = max(1, round(a.seconds / PASS_S[a.workload]))  # traced runs make >= 4
    cmd = java_cmd(classes, tmp, "graft.bench.Main", [
        "--workload", a.workload, "--input", input_dir, "--seed", str(a.seed),
        "--passes", str(passes), "--trace", str(a.trace), "--out", out_dir])
    log_path = os.path.join(run_dir, "jvm.log")
    t = time.monotonic()
    rc = run_proc(cmd, log_path, deadline)
    jvm_s = time.monotonic() - t
    result_path = os.path.join(out_dir, "jvm_result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"runner failed (exit {rc}); log: {log_path}")
    with open(result_path) as f:
        rec = json.load(f)

    # output checks, outside the timed region
    t = time.monotonic()
    ops = rec["ops"]
    failed_ops = {o["name"]: o["error"] for o in ops if not o["ok"]}
    if a.workload != "qc_session":
        bad = oracle_failures(input_dir, os.path.join(out_dir, "outputs"), deadline)
        for o in ops:
            if o["ok"] and o["name"] in bad:
                o["ok"] = False
        failed_ops.update({k: f"oracle: {v}" for k, v in bad.items()})
    elif rec.get("write_check"):
        # the last pass's written files were read back and miscounted
        last = max(o["pass"] for o in ops)
        for o in ops:
            if o["kind"] == "write" and o["pass"] == last:
                o["ok"] = False
        failed_ops["writeFiltered"] = rec["write_check"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    check_s = time.monotonic() - t

    if a.trace:
        spans_dir = os.path.join(BUILD, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.jsonl")
        shutil.copyfile(os.path.join(out_dir, "spans.jsonl"), spans)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in rec["per_layer"].items()}
    else:
        spans = None
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in rec["end_to_end"].items()}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "box": {"nproc": os.cpu_count(), "cores_used": rec["cores"], "xmx": rec["xmx"],
                "jdk": rec["jdk"], "spark": rec["spark"]},
        "commit": git_commit(), "source_stamp": source_stamp(),
        "input": {**inputs, **rec["input"]},
        "passes": passes, "pass_makespans_s": rec["pass_makespans_s"],
        "pass_traced": rec["pass_traced"], "setup_runs_s": rec["setup_runs_s"],
        "cold_setup_s": rec["cold_setup_s"],
        "samples": sum(1 for o in ops if o["pass"] > 0),
        "failed_frac": failed / attempted if attempted else 1.0,
        "failed_ops": failed_ops,
        "wall_s": {"generate": inputs["generate_s"], "jvm": jvm_s, "check": check_s},
        "contention": {"steal_pct": rec["steal_pct"], "other_cpu_pct": rec["other_cpu_pct"]},
        "spans_file": spans and os.path.relpath(spans, ROOT),
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump({"record": record, "jvm": rec}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if failed_ops:
        for k, v in sorted(failed_ops.items()):
            print(f"FAILED {k}: {v}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0 and not failed_ops, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
