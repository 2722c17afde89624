"""Smoke test of the benchmark: every workload at sf0.001, untraced and
traced, must check out correct and report exactly the metrics
BENCHMARK.json declares; layers.json must cover every per-layer metric.

    python3 perfbench/tests/smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
WORKLOADS = ["stedi_stream", "batch_corpus", "durable_ingest"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        layers = json.load(fh)
    declared = {0: {m["name"] for m in bench["end_to_end"]},
                1: {m["name"] for m in bench["per_layer"]}}
    assert declared[1] == set(layers), "layers.json and per_layer differ"
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    failures = []
    for w in WORKLOADS:
        for trace in (0, 1):
            r = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", w,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                failures.append(f"{w} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{w} trace={trace}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{w} trace={trace}: {res['attempted']} attempted, {res['failed']} failed")
            if set(res["metrics"]) != declared[trace]:
                failures.append(f"{w} trace={trace}: metrics {sorted(set(res['metrics']) ^ declared[trace])}")
            if not trace:
                zero = [k for k, v in res["metrics"].items() if not v["value"]]
                if zero:
                    failures.append(f"{w}: end-to-end metrics read 0: {zero}")
            print(f"{w} trace={trace}: ok", flush=True)
    if failures:
        print("\n".join(failures))
        sys.exit(1)
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
