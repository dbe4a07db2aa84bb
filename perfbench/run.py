"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. It builds the program and the benchmark
from source (once per source tree), generates the workload's inputs from the
seed, runs the workload in one JVM, checks the outputs against computations
made apart from the program, and prints one JSON line as the last line of its
standard output: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Inputs and outputs live under .bench_build/ and are removed at the
end of the run.
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
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("service_steady", "llm_dedup_linkage")
END_TO_END = {"setup_s": "s", "peak_heap_mb": "MB", "throughput_per_s": "1/s",
              "latency_ms": "ms"}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def per_layer_spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    base = os.path.join(root, build.BUILD_DIR, "runs",
                        "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(base, ignore_errors=True)
    indir, rundir = os.path.join(base, "input"), os.path.join(base, "run")
    os.makedirs(os.path.join(rundir, "tmp"))
    try:
        manifest = gen.GENERATORS[a.workload](indir, a.seed)
        cp = classes + os.pathsep + os.path.join(build.SPARK_JARS, "*")
        cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:+UseG1GC"] +
               [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
                "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.BenchMain",
                a.workload, indir, rundir, repr(a.seconds), str(a.trace)])
        with open(os.path.join(base, "jvm.log"), "wb") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: workload did not finish in %d s" % JVM_TIMEOUT_S)
        with open(os.path.join(base, "jvm.log"), errors="replace") as f:
            log = f.read()
        if rc != 0:
            sys.stderr.write(log[-6000:])
            raise SystemExit("perfbench: workload exited with %d" % rc)
        sys.stderr.write("".join(l + "\n" for l in log.splitlines() if l.startswith("perfbench:")))
        with open(os.path.join(rundir, "result.json")) as f:
            result = json.load(f)

        t = time.time()
        bad_ops, failures, extra = checks.CHECKS[a.workload](manifest, result, rundir)
        sys.stderr.write("perfbench: checks took %.1f s\n" % (time.time() - t))
        failed = int(result["failed"]) + bad_ops
        if a.trace:
            spec = per_layer_spec()
            values = dict(result["layer"])
            values.update(extra)
            missing = [k for k in spec if k not in values]
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in spec.items()}
            if missing:
                sys.stderr.write("perfbench: not measured by %s (reported as 0): %s\n"
                                 % (a.workload, ", ".join(missing)))
        else:
            values = dict(result["metrics"])
            values["setup_s"] = result["setup_s"]
            values["peak_heap_mb"] = result["peak_heap_mb"]
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        details = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "setup_s": result["setup_s"], "staging_s": result["staging_s"],
                   "rounds": result["rounds"], "round_s": result["round_s"],
                   "cpu_stolen_share": result["cpu_stolen_share"],
                   "detail": result.get("detail", {}), "layer": result.get("layer", {}),
                   "check_failures": failures}
        results = os.path.join(root, build.BUILD_DIR, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
        with open(stem + ".json", "w") as f:
            json.dump(details, f, indent=1, sort_keys=True)
        if a.trace:
            shutil.copy(os.path.join(rundir, "spans.json"), stem + "-spans.json")
        for name in failures:
            sys.stderr.write("perfbench: CHECK FAILED: %s\n" % name)
        print(json.dumps({"correct": not failures, "attempted": int(result["attempted"]),
                          "failed": failed, "metrics": metrics}))
        sys.exit(1 if failures else 0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
