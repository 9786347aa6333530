"""Interlinking benchmark: GIA.nt over generated polygon and point corpora.

    python3 perfbench/run.py --workload giant_polygons --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source (see build.py), generates
the seeded corpus and its oracle truth, then runs closed-loop link jobs
through the public API (``SpatialIO.readDelimitedWkt`` ->
``SpatialLink``) on Spark ``local[nproc]``, one client, each job started
when the previous one ended. Every job's output is checked against an
independent driver-side JTS oracle.

With ``--trace 0`` three fresh JVMs run one after another, and each
measures its set-up (process start until the session can take a job).
The first two stop there. The third runs the cold job, warm-up jobs for
half of ``--seconds`` (JIT compilation still speeds jobs up there), then
the warm jobs measured for ``--seconds``. With ``--trace 1`` one JVM runs
the cold job and the warm-up, then untraced warm jobs for half of
``--seconds`` and the traced, layer-by-layer job for the other half; the
trace is written to ``<build dir>/work/traces``.

The last line of stdout is the result object; the line before it is the
run record (host, versions, input properties, sample counts).
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("giant_polygons", "pip_contains", "progressive_budget")
# Untraced runs start this many set-up-only JVMs before the job JVM, so
# that setup_s is a median of three.
SETUP_JVMS = 2
# Wall-clock limit for all JVMs of one run, after the build.
RUN_TIMEOUT = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

class RunError(Exception):
    pass


def _terminate(signum, frame):
    # subprocess.run kills and reaps its child on any exception
    raise SystemExit(128 + signum)


def jvm(classes, work, mode, args, log, deadline):
    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = (["java", "-Xmx2g", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", mode] + args)
    spawned = time.time()
    with open(log, "w") as err:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             timeout=max(1.0, deadline - time.time()), cwd=work)
    results = [l[len("RESULT "):] for l in res.stdout.splitlines() if l.startswith("RESULT ")]
    if res.returncode != 0 or (mode != "prepare" and not results):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RunError(f"{mode} exited {res.returncode}; log {log}:\n{tail}")
    return spawned, (json.loads(results[-1]) if results else None)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float,
                    help="input size, 1 = the full corpus (default: Workload.DefaultScale)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    # metric names and units are declared once, in BENCHMARK.json
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(build.ROOT, ".bench_build"))
    work = os.path.join(build_dir, "work")
    for d in ("tmp", "logs", "traces"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    load_start = os.getloadavg()
    try:
        classes = build.build(build_dir)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    cores = os.cpu_count()
    # corpora are cached per seed, and per build so that no stale corpus
    # outlives a change to the generator or the oracle
    with open(os.path.join(classes, ".stamp")) as f:
        data = os.path.join(work, "data", f.read()[:16])
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--data", data, "--work", work, "--cores", str(cores)]
    if a.scale is not None:
        common += ["--scale", repr(a.scale)]
    tag = f"{a.workload}-s{a.seed}"
    log = lambda name: os.path.join(work, "logs", f"{tag}-{name}.log")  # noqa: E731

    deadline = time.time() + RUN_TIMEOUT
    try:
        jvm(classes, work, "prepare", common, log("prepare"), deadline)
        runs = []
        if a.trace:
            trace_out = os.path.join(work, "traces", f"{tag}.json")
            runs.append(jvm(classes, work, "run", common + [
                "--seconds", repr(a.seconds), "--trace", "true", "--trace-out", trace_out],
                log("traced"), deadline))
        else:
            for i in range(SETUP_JVMS):
                runs.append(jvm(classes, work, "setup", common, log(f"setup{i}"), deadline))
            runs.append(jvm(classes, work, "run", common + ["--seconds", repr(a.seconds)],
                            log("run"), deadline))
    except (RunError, subprocess.TimeoutExpired) as e:
        sys.exit(f"benchmark failed: {e}")

    setups = [r["ready_ms"] / 1000.0 - spawned for spawned, r in runs]
    main_run = runs[-1][1]
    attempted = main_run["attempted"]
    failed = main_run["failed"]
    warm = main_run["warm_s"]
    if a.trace:
        layers = main_run["layers"]
        metrics = {m["name"]: metric(float(layers[m["name"]]), m["unit"])
                   for m in spec["per_layer"]}
        samples = {"job_s": len(warm), "trace.job_s": len(main_run["traced_s"])}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "cold_job_s": main_run["cold_s"],
            "job_s": statistics.median(warm),
            "retained_heap_mb": main_run["retained_heap_mb"],
            "ok_frac": (attempted - failed) / attempted,
            "recall_at_budget": main_run["recall"],
            "precision_at_budget": main_run["precision"],
        }
        metrics = {m["name"]: metric(values[m["name"]], m["unit"]) for m in spec["end_to_end"]}
        samples = {"setup_s": len(setups), "cold_job_s": 1, "job_s": len(warm)}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "java": main_run["java"], "spark": main_run["spark"],
        "input": main_run["input"], "samples": samples,
        "failures": main_run["failures"],
        "job_s_all": warm, "warmup_s_all": main_run["warmup_s"], "setup_s_all": setups,
    }
    print("RUN " + json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
