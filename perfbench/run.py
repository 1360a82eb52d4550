"""End-to-end benchmark of the diff job: YAML config -> DiffRunner ->
journal -> ResultsApi, on seeded inputs, with per-module tracing.

Usage (from the repository root):
  python3 perfbench/run.py --workload dirty_full --seed 1 --seconds 20 --trace 0

Builds the engine and the harness (perfbench/build.py), runs one workload
in one JVM, checks every output, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones. The full report, spans included, is written to
.bench_build/reports/.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def start_jvm(classes, args, work, log):
    jars = build.spark_jars()
    cmd = [build.java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched 1 GB heap (Spark's default driver memory):
    # peak RSS then does not depend on when the collector grows the heap
    cmd += ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)


def stop(proc, timeout):
    """Wait for the JVM; kill it past the timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None


def check_pipeline(root, in_dir, out_dir):
    """Compare each pipeline query's Spark output with the DuckDB oracle
    SQL the engine carries for it, with the repository's oracle checker.
    Returns the failure lines."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    checker = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(checker)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = checker.main(in_dir, out_dir)
    failures = [line for line in out.getvalue().splitlines() if line.startswith("FAIL")]
    return failures or ([] if rc == 0 else [f"oracle checker exit {rc}"])


def tracing_overhead(reports, workload, traced_p50):
    """Traced job_p50_s minus the median job_p50_s of this checkout's
    untraced runs of the workload; None before any untraced run."""
    untraced = []
    for name in os.listdir(reports):
        if name.startswith(f"{workload}-") and "-t0-" in name and name.endswith(".json"):
            try:
                with open(os.path.join(reports, name)) as f:
                    r = json.load(f)
                if r.get("correct"):
                    untraced.append(r["end_to_end"]["job_p50_s"]["value"])
            except (OSError, ValueError, KeyError):
                continue
    return traced_p50 - statistics.median(untraced) if untraced else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opts = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        if opts.workload not in {w["name"] for w in spec["workloads"]}:
            fail(f"unknown workload {opts.workload}")
        classes = build.build(root)
    except (OSError, RuntimeError, ValueError) as e:
        fail(str(e))

    tag = f"{opts.workload}-s{opts.seed}-t{opts.trace}-{os.getpid()}"
    out = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(out, "run", tag)
    reports = os.path.join(out, "reports")
    os.makedirs(reports, exist_ok=True)
    report_path = os.path.join(reports, f"{tag}.json")
    log_path = os.path.join(reports, f"{tag}.log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the JVM starts its session while the inputs are generated
        with open(log_path, "w") as log:
            proc = start_jvm(classes, [
                "--workload", opts.workload, "--seed", str(opts.seed),
                "--seconds", str(opts.seconds), "--trace", str(opts.trace),
                "--work", work, "--report", report_path], work, log)
            try:
                gen.main([opts.workload, str(opts.seed), work]
                         + (["--pipeline"] if opts.trace else []))
                rc = stop(proc, JVM_TIMEOUT_S)
            finally:
                # also on an error or a SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc is None:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s; log {log_path}")
        if not os.path.exists(report_path):
            fail(f"JVM exited {rc} without a report; log {log_path}")
        with open(report_path) as f:
            report = json.load(f)
        errors = list(report.get("errors", []))
        if rc != 0:
            errors.append(f"JVM exit code {rc}")
        if opts.trace and "per_layer" in report:
            try:
                errors += [f"oracle {e}" for e in check_pipeline(
                    root, os.path.join(work, "pipeline", "input"),
                    os.path.join(work, "pipeline", "output"))]
            except Exception as e:  # noqa: BLE001 - any oracle failure fails the run
                errors.append(f"oracle check: {e!r}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if opts.trace and "per_layer" in report:
        overhead = tracing_overhead(reports, opts.workload,
                                    report["per_layer"]["trace.job_p50_s"]["value"])
        if overhead is not None:
            report["per_layer"]["trace.overhead_s"] = {"value": overhead, "unit": "s"}

    key = "per_layer" if opts.trace else "end_to_end"
    measured = report.get(key, {})
    metrics = {}
    for m in spec[key]:
        v = measured.get(m["name"])
        if v is None or v["value"] is None:
            errors.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    report["errors"] = errors
    report["correct"] = not errors
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1)

    # stdout stays under 2000 characters: the full report is the file
    for e in errors[:2]:
        print(f"error: {e[:150]}")
    if not opts.trace:
        for name, v in metrics.items():
            print(f"{name} = {v['value']:.6g} {v['unit']}")
    print(f"report: {os.path.relpath(report_path, root)}")
    attempted = max(int(report.get("attempted", 0)), 1)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": int(report.get("failed", attempted)),
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
