#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_parquet --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (cached), generates the
seeded inputs (cached per seed), runs one JVM that sets up once and then runs the workload in a closed loop for `--seconds`, checks every
unit's output outside the engine, and prints
`{"correct", "attempted", "failed", "metrics"}` as the last line. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones, and the spans are kept under `.bench_build/traces/`.
Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = build.BUILD

# Per-layer metrics, by name, with their units (perfbench/INTERACTIONS.json
# says which end-to-end metric each one should move, and where it should not).
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xmn256m", "-Xss4m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(args, classes, inputs, prepared, work, deadline, phase="run"):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "ckpt"))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CHECKPOINT_DIR"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["GRAFT_HARNESS_CKPT_BASE"] = os.path.join(work, "ckpt")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "perfbench.Main", "--phase", phase, "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inputs, "--prepared", prepared, "--work", work,
        "--run-id", os.path.basename(work), "--spawn-ns", str(time.time_ns())]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result = os.path.join(work, "result.json")
    if code != 0 or (phase == "run" and not os.path.isfile(result)):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")
    if phase == "run":
        with open(result) as f:
            return json.load(f)


def prepare(args, classes, inputs, work, deadline):
    """Directory of the inputs the engine itself generates. They are
    written once per build, by a JVM of their own, so every timed JVM
    starts equally cold."""
    prepared = os.path.join(BUILD, "prepared-" + os.path.basename(classes).split("-", 1)[1])
    done = os.path.join(prepared, "." + args.workload)
    if args.workload in gen.ENGINE_PREPARED and not os.path.isfile(done):
        os.makedirs(prepared, exist_ok=True)
        run_jvm(args, classes, inputs, prepared, os.path.join(work, "prepare"), deadline,
                "prepare")
        open(done, "w").close()
    return prepared


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classes = build.ensure()
    except build.BuildError as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    # Leave room for the checks within the 180 s a run may take; a first
    # run that had to compile gets the time the build left.
    deadline = max(started + 170, time.monotonic() + 60) - 10

    inputs = gen.ensure(args.workload, args.seed)
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepared = prepare(args, classes, inputs, work, deadline)
        res = run_jvm(args, classes, inputs, prepared, work, deadline)
        units = [u for r in res["rounds"] for u in r["units"]]
        t_check = time.monotonic()
        verdicts, quality = check.check(args.workload, inputs, prepared, units)
        s = res["setup"]
        durations = " ".join(f"{u['dur_s']:.3f}" for u in units)
        print(f"perfbench: {args.workload} seed {args.seed}: set-up {s['total_s']:.2f} s "
              f"(boot {s['boot_s']:.2f}, build {s['build_s']:.2f}, register "
              f"{s['register_s']:.2f}, warm-up {s['warmup_s']:.2f}); {len(res['rounds'])} rounds, {len(units)} units in "
              f"{res['measured_s']:.2f} s (units {durations} s); "
              f"checks {time.monotonic() - t_check:.2f} s; "
              f"total {time.monotonic() - started:.1f} s", file=sys.stderr)
        failed = verdicts.count(False)
        for u, ok in zip(units, verdicts):
            if not ok:
                print(f"perfbench: unit {u['name']} failed: {u['err'] or 'output check'}",
                      file=sys.stderr)
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, os.path.basename(work) + ".json"))
            metrics = per_layer(res, units, quality)
        else:
            metrics = end_to_end(res, units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(units), "failed": failed,
                      "metrics": metrics}))
    return 0


def rate(rnd):
    """Rows a round's units delivered per second of unit time. Unit time
    leaves out what a round does between units: for stream_cdc, starting
    and stopping the query (per-layer `streaming.harness_s`)."""
    return sum(u["rows"] for u in rnd["units"]) / sum(u["dur_s"] for u in rnd["units"])


def end_to_end(res, units):
    return {
        "setup_s": metric(res["setup"]["total_s"], "s"),
        # median over rounds, so one round disturbed by the host does not
        # move the run's figure
        "rows_per_s": metric(statistics.median(rate(r) for r in res["rounds"]), "rows/s"),
        "unit_p50_s": metric(statistics.median(u["dur_s"] for u in units), "s"),
        "peak_rss_mb": metric(res["env"]["peak_rss_mb"], "MB"),
    }


def per_layer(res, units, quality):
    env = res["env"]
    setup = res["setup"]

    # each traced round against the mean of its untraced neighbours
    rates = [rate(r) for r in res["rounds"]]
    overhead = statistics.median(
        rates[i] / statistics.mean(rates[i - 1:i] + rates[i + 1:i + 2])
        for i, r in enumerate(res["rounds"]) if r["traced"])
    values = dict(res["layers"])
    values.update(quality)
    values.update({
        "session.build_s": setup["build_s"],
        "sources.register_s": setup["register_s"],
        "setup.boot_s": setup["boot_s"],
        "setup.warmup_s": setup["warmup_s"],
        "jvm.gc_s": env["jvm_gc_s"],
        "jvm.minflt": env["minflt"],
        "jvm.code_cache_mb": env["code_cache_mb"],
        "host.steal_pct": env["steal_pct"],
        "host.iowait_pct": env["iowait_pct"],
        "host.load1": env["load1_end"],
        "host.nproc": env["nproc"],
        "trace.overhead_ratio": overhead,
        "units.count": len(units),
    })
    return {name: metric(float(values.get(name, 0.0)), unit)
            for name, unit in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
