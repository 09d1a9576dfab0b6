"""Paired A/B of the graft benchmark between two checkouts.

Runs N pairs of `python3 graftbench/run.py --workload W --seed S
--seconds T --trace 0`, one run in the parent checkout and one in the
change checkout per pair, with seed S = seed0 + pair index. The side that
runs first alternates: the parent goes first in odd pairs (1st, 3rd, ...).
Each run's result line, with the reported-only metrics of its report
lines, is appended to a JSON-lines file, and the table prints per metric:
the median [q1, q3] of each side, change/parent of the medians and the
pairs the change won.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload llm_ops --pairs 10 --seed0 7101 --out ab-llm_ops.jsonl
    python3 tools/ab_pairs.py --table ab-llm_ops.jsonl   # print again

A metric's direction ("better": lower/higher) comes from the change's
BENCHMARK.json, and for the reported-only metrics from the list below; a
metric with no known direction gets no win count. A run that fails or
prints `"correct": false` is listed, and its pair still counts in the
table with whatever metrics it printed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

# reported-only metrics (graftbench/README.md), not in BENCHMARK.json
EXTRA_BETTER = {
    "failed_frac": "lower", "ann_recall_at_10": "higher", "dedup_recall": "higher",
    "read_p90_ms": "lower", "write_p50_ms": "lower", "write_p90_ms": "lower",
    "write_amp": "lower", "heap_live_peak_mb": "lower",
}


def run_one(checkout, workload, seed, seconds):
    """One benchmark run: its result line as a dict, with the run's exit
    code and wall time added."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "metrics": {}, "error": p.stderr.strip()[-400:]}
    # the report's `metric <name> <value> <unit> (samples=n)` lines add the
    # metrics the result line does not gate (recall, failed_frac, ...)
    for line in lines[:-1]:
        f = line.split()
        if len(f) >= 4 and f[0] == "metric" and f[1] not in result["metrics"]:
            try:
                result["metrics"][f[1]] = {"value": float(f[2]), "unit": f[3]}
            except ValueError:
                pass  # "n/a (too few samples)"
    result["exit"] = p.returncode
    result["wall_s"] = round(time.monotonic() - t0, 1)
    return result


def directions(change):
    better = dict(EXTRA_BETTER)
    bench = Path(change) / "BENCHMARK.json"
    if bench.is_file():
        spec = json.loads(bench.read_text())
        for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
            better[m["name"]] = m["better"]
    return better


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:.0f}" if abs(x) >= 100 else f"{x:.3f}"


def table(rows, better):
    """Markdown table of the pairs in `rows` (dicts with side, pair,
    seed, result)."""
    by_pair = {}
    for r in rows:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs = [p for p in sorted(by_pair) if len(by_pair[p]) == 2]
    seeds = [by_pair[p]["parent"]["seed"] for p in pairs]
    names = sorted({n for p in pairs for s in ("parent", "change")
                    for n in by_pair[p][s]["result"].get("metrics", {})})
    out = [f"pairs: {len(pairs)}, seeds {min(seeds)}–{max(seeds)}" if pairs else "pairs: 0",
           "", "| metric | parent | change | change/parent | wins |", "|---|---|---|---|---|"]
    for n in names:
        vals = [(by_pair[p]["parent"]["result"]["metrics"].get(n, {}).get("value"),
                 by_pair[p]["change"]["result"]["metrics"].get(n, {}).get("value")) for p in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        pa, ch = [a for a, _ in vals], [b for _, b in vals]
        (p1, pm, p3), (c1, cm, c3) = quartiles(pa), quartiles(ch)
        ratio = f"{cm / pm:.3f}" if pm else "—"
        d = better.get(n)
        wins = (f"{sum((b < a) if d == 'lower' else (b > a) for a, b in vals)}/{len(vals)}"
                if d in ("lower", "higher") else "—")
        out.append(f"| {n} | {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] | {fmt(cm)} [{fmt(c1)}, {fmt(c3)}] "
                   f"| {ratio} | {wins} |")
    bad = [f"pair {r['pair']} {r['side']} (seed {r['seed']}): exit {r['result'].get('exit')}, "
           f"correct={r['result'].get('correct')}" for r in rows
           if r["result"].get("exit") not in (0, None) or not r["result"].get("correct")]
    if bad:
        out += ["", "runs that failed or were incorrect:"] + bad
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--table", help="print the table of a JSON-lines file and exit")
    a = ap.parse_args()
    if a.table:
        rows = [json.loads(l) for l in Path(a.table).read_text().splitlines() if l.strip()]
        print(table(rows, directions(a.change or ".")))
        return 0
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required (or --table)")
    out = Path(a.out or f"ab-{a.workload}-{a.seed0}.jsonl")
    rows = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run_one(getattr(a, side), a.workload, seed, a.seconds)
            row = {"pair": i + 1, "side": side, "seed": seed, "result": result}
            rows.append(row)
            with out.open("a") as f:
                f.write(json.dumps(row) + "\n")
            m = result.get("metrics", {})
            print(f"pair {i + 1}/{a.pairs} {side:6} seed {seed}: correct={result.get('correct')} "
                  + " ".join(f"{k}={m[k]['value']}" for k in sorted(m)), file=sys.stderr, flush=True)
    print(table(rows, directions(a.change)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
