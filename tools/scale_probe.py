#!/usr/bin/env python3
"""Scale probe -> BENCH_SCALE.json: does per-query time stay at-or-below
linear when the data grows `FACTOR`x?

Derives a FACTOR-x corpus with graft.ScaleGen (key-shifted replicas;
per-replica text letter-rotation and embedding jitter keep near-dup
candidate work linear in the factor instead of quadratic), benches the
probe queries at base and scaled size, and flags any query whose
time ratio exceeds FACTOR x 1.5 (headroom for fixed per-query overhead
shifting and for iterative operators needing a few more rounds at the
larger diameter). On a fixed 32-core box a compute-bound query should
land near FACTOR x; well below it means fixed overhead dominates.

Usage: python3 tools/scale_probe.py  (from the repo root)
"""
import json
import os
import re
import subprocess
import sys

SRC = os.environ.get("GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
OUT = os.environ.get("GRAFT_SCALE_DIR", "/tmp/graft_scale/sf0.4")
FACTOR = int(os.environ.get("GRAFT_SCALE_FACTOR", "4"))
# the heavy / shuffle-bearing representatives of each operator family:
# relational agg/join/window, dedup (pairwise, LSH, clusters,
# survivors, substring, incremental), ANN build+probe, corpus quality
QUERIES = os.environ.get(
    "GRAFT_SCALE_QUERIES",
    "q01,q03,q07,q19,q26,t01,t02,t03,t15,t17,t21,t24,t25,t26,v01,v05,v09")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def run(cmd, env=None):
    e = dict(os.environ)
    if env:
        e.update(env)
    p = subprocess.run(cmd, shell=True, capture_output=True, text=True, env=e)
    if p.returncode != 0:
        sys.exit(f"FAILED: {cmd}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return p.stdout


def bench(sf_dir):
    out = run('sbt -batch "runMain graft.Bench"', env={
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_BENCH_ONLY": QUERIES,
        "SPARK_GRAFT_CPUS": CPUS,
    })
    m = re.search(r'\{"metric":.*\}', out)
    if not m:
        sys.exit(f"no bench line in output:\n{out[-2000:]}")
    parsed = json.loads(m.group(0))
    # a failing query is recorded by Bench as a near-zero timing with the
    # failure only in "errs" — which would read as a PERFECT ratio here;
    # the probe must never publish a verdict over errored runs
    if parsed.get("errs"):
        sys.exit(f"bench reported query errors at {sf_dir}: {parsed['errs']}")
    return parsed


def main():
    print(f"generating {FACTOR}x corpus at {OUT} ...")
    run(f'sbt -batch "runMain graft.ScaleGen {SRC} {OUT} {FACTOR}"',
        env={"SPARK_GRAFT_CPUS": CPUS})

    print("bench: base scale ...")
    base = bench(SRC)
    print(f"bench: {FACTOR}x scale ...")
    scaled = bench(OUT)

    result = {
        "probe": (f"{FACTOR}x key-shifted replicas of the base sf "
                  "(graft.ScaleGen; per-replica text letter-rotation and "
                  "embedding jitter keep near-dup candidate work linear in "
                  "the factor)"),
        "base_sf_dir": SRC,
        "scaled_dir": OUT,
        "factor": FACTOR,
        "cpus": int(CPUS),
        "method": ("median-of-3 per query at both scales via graft.Bench "
                   "(SPARK_GRAFT_BENCH_ONLY), same JVM warmup; sub-0.2s "
                   "base timings floored to damp scheduling noise"),
        "base_total_sec": round(sum(base["queries"].values()), 4),
        "scaled_total_sec": round(sum(scaled["queries"].values()), 4),
        "base_sec": base["queries"],
        "scaled_sec": scaled["queries"],
        "ratio": {},
        "verdict": {},
    }
    ok = True
    bound = FACTOR * 1.5
    for q, b in base["queries"].items():
        s = scaled["queries"].get(q)
        if s is None:
            continue
        ratio = s / max(b, 0.2)
        result["ratio"][q] = round(ratio, 2)
        verdict = "ok" if ratio <= bound else f"SUPERLINEAR (> {bound:.1f}x)"
        result["verdict"][q] = verdict
        ok = ok and ratio <= bound
    result["all_linear"] = ok
    result["total_ratio"] = round(
        result["scaled_total_sec"] / max(result["base_total_sec"], 1e-9), 2)
    # a 4x refresh must not erase sections owned by the OTHER probes —
    # scale_probe_deep.py owns deep/deep64, and the committed balanced
    # section is kept as a record (r16: a refresh silently dropped it once)
    if os.path.exists("BENCH_SCALE.json"):
        try:
            with open("BENCH_SCALE.json") as f:
                prev = json.load(f)
            for k in prev:
                if k.startswith("deep") or k == "balanced":
                    result[k] = prev[k]
        except (json.JSONDecodeError, OSError) as e:
            # a corrupt/partial previous artifact must not discard this
            # run's freshly-benched result; it only loses the carry-over
            print(f"WARNING: could not carry deep section forward: {e}")
    with open("BENCH_SCALE.json", "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))
    if not ok:
        sys.exit(f"superlinear query at {FACTOR}x - scaling failed")


if __name__ == "__main__":
    main()
