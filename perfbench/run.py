"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness (build.py), generates the
workload's inputs from the seed (gen.py), runs the measuring JVM on a
local[k] Spark session, checks the outputs (check.py) and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything is written under
.bench_build/ at the checkout root.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# tables, size and admission-loop shards of each workload's inputs;
# --size smoke runs every workload at sf0.001
WORKLOADS = {
    "stedi_stream": (["customer", "orders"], "stream", 0),
    "batch_corpus": (["customer", "orders", "lineitem", "documents", "embeddings"], "sf0.01", 0),
    "durable_ingest": (["documents"], "sf0.01", 6),
}
BUDGET_S = 170          # a run, build excluded, must end within this
CHECK_RESERVE_S = 25    # kept for the DuckDB checks after the JVM

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def slots():
    return max(1, min(4, os.cpu_count() or 1))


def jvm(jar, main, args, out):
    """The java command line: graft's session flags, the JDK module
    opens Spark needs, and temp files under `out`."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep peak RSS steady from run to
    # run; no perf-data file, which would go to the system temp dir
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"), main] + args


def run_jvm(jar, opts, timeout):
    args = []
    for k, v in opts.items():
        args += [f"--{k}", str(v)]
    run_logged(jvm(jar, "graftbench.Main", args, opts["out"]), opts["out"], timeout)


def run_logged(cmd, out, timeout):
    """Run `cmd` with its output in out/jvm.log; kill it on timeout or
    when this process is told to stop."""
    log = open(os.path.join(out, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True, cwd=out)

    def stop():
        # the JVM runs in its own session: take it down with us
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _frame):
        stop()
        raise SystemExit(f"stopped by signal {signum}")

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        raise SystemExit(f"JVM exceeded {timeout:.0f} s")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
        log.close()
    if proc.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"JVM exited with {proc.returncode}")


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    return bench, layers


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    a = ap.parse_args(argv)

    bench, layers = declared_metrics()
    jar = build.build()
    t_start = time.monotonic()

    tables, size, epochs = WORKLOADS[a.workload]
    if a.size == "smoke":
        size = "sf0.001"
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        gen.generate(data, a.seed, size, set(tables), epochs)
        jvm_budget = BUDGET_S - CHECK_RESERVE_S - (time.monotonic() - t_start)
        run_jvm(jar, {"workload": a.workload, "data": data, "out": out,
                               "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
                               "slots": slots()}, jvm_budget)
        with open(os.path.join(out, "result.json")) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        failed += sum(check.run(c, data) for c in res["checks"])

        if a.trace:
            wanted = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            wanted = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        got = res["metrics"]
        metrics = {}
        for name, unit in wanted.items():
            if name in got:
                metrics[name] = {"value": got[name]["value"], "unit": unit}
            elif a.trace and layers[name]["workload"] not in ("all", a.workload):
                # a layer this workload never calls into did no work
                metrics[name] = {"value": 0.0, "unit": unit}
            else:
                raise SystemExit(f"metric {name} was not measured")
        extra = sorted(set(got) - set(wanted))
        if extra:
            raise SystemExit(f"undeclared metrics measured: {extra}")
        failed = min(failed, attempted)
        summary = {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics}
        last = os.path.join(ROOT, ".bench_build", "last")
        os.makedirs(last, exist_ok=True)
        with open(os.path.join(last, f"{a.workload}-trace{a.trace}.json"), "w") as fh:
            json.dump({**summary, "failed_frac": failed / max(1, attempted),
                       "extras": res["extras"]}, fh, indent=1)
        if os.path.exists(os.path.join(out, "trace.json")):
            shutil.copy(os.path.join(out, "trace.json"),
                        os.path.join(last, f"{a.workload}-spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
