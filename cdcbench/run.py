"""CDC pipeline benchmark: one run of one workload.

    python3 cdcbench/run.py --workload snapshot_bulk --seed 1 --seconds 10 --trace 0
    python3 cdcbench/run.py --workload all --seed 1 --seconds 10   # every workload, both modes
    python3 cdcbench/run.py --self-test                            # the benchmark's own tests

Builds the program and the benchmark from source (cdcbench/build.py), then
runs cdcbench.Main in one JVM on local[nproc]. Prints every metric of the
run as `name value unit` lines and, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Work files go to .bench_work/, one artifact per run to .bench_out/.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec, [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


def prepare(with_tests=False):
    """Builds if needed; returns the run classpath."""
    try:
        return build.build(with_tests=with_tests)
    except build.BuildError as e:
        fail(f"build failed: {e}")


def run_one(cp, workload, seed, seconds, trace):
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    result = os.path.join(work, "result.json")
    code, log = build.java(cp, "cdcbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--work", work, "--out", OUT, "--result", result],
        work, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(result):
        fail(log[-6000:] + f"\nrun failed (exit {code})")
    with open(result) as fh:
        res = json.load(fh)
    art = os.path.join(OUT, f"{workload}-seed{seed}-trace{1 if trace else 0}.json")
    with open(art) as fh:
        artifact = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return res, artifact


def report(workload, trace, res, artifact, names):
    """Prints every metric, then returns the result restricted to `names`."""
    print(f"# {workload} trace={int(trace)} correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']} oracle={artifact['oracle']}")
    print(f"# host {json.dumps(artifact['host'], sort_keys=True)}")
    for section in ("end_to_end", "per_layer"):
        for k, v in sorted(artifact[section].items()):
            print(f"{k} {v['value']} {v['unit']}")
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: res["metrics"][n] for n in names}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        cp = prepare(with_tests=True)
        code, log = build.java(cp, "cdcbench.SelfTest", [], os.path.join(WORK, "selftest"), 600)
        print(log)
        sys.exit(code)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found: run from a checkout of the repository")
    spec, e2e, per_layer = declared()
    seconds = a.seconds or spec["run_seconds"]
    cp = prepare()
    if a.workload == "all":
        summary = {}
        for w in [w["name"] for w in spec["workloads"]]:
            for trace in (0, 1):
                res, art = run_one(cp, w, a.seed, seconds, trace)
                out = report(w, trace, res, art, per_layer if trace else e2e)
                summary[f"{w}/trace{trace}"] = out
        ok = all(v["correct"] for v in summary.values())
        print(json.dumps({"correct": ok,
                          "attempted": sum(v["attempted"] for v in summary.values()),
                          "failed": sum(v["failed"] for v in summary.values()),
                          "metrics": {}}))
        return
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    t0 = time.time()
    res, art = run_one(cp, a.workload, a.seed, seconds, bool(a.trace))
    out = report(a.workload, a.trace, res, art, per_layer if a.trace else e2e)
    print(f"# run took {time.time() - t0:.1f}s")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
