#!/usr/bin/env python3
"""Compare two benchmark result sets.

    python3 perfbench/diff.py A_DIR B_DIR

Each directory holds the artifacts `run.py --results DIR` writes
(<workload>-s<seed>-t<trace>.json). A is the base, B the candidate.

* End-to-end metrics (timed runs, --trace 0): per workload, the median
  of each metric over B's runs must not be worse than A's median by
  more than the metric's bound in BENCHMARK.json. The spread of each
  side (quartile distance over median) is printed next to it.
* Structural counts (traced runs, --trace 1): every per-layer metric
  whose unit is a count, bytes or a ratio is compared between A and B
  for each (workload, seed) both sides ran, and each difference is
  printed. A difference is evidence, not a failure: a PR may set out
  to change a count, and on surql `query.exec.jobs`, `query.exec.tasks`
  and `spark.shuffle_bytes` move between runs of the same code (with
  AQE on, whether a stage runs or is cancelled depends on timing).
* Tracing overhead: per workload and side, the traced runs' median op
  time against the timed runs' latency_p50_s.
* Correctness: every run's failed count, per side.

Exits 1 when an end-to-end bound is exceeded or a run failed.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
STRUCTURAL_UNITS = {"count", "bytes", "ratio"}
# counts that differ between runs of the same code (see above)
TIMING_DEPENDENT = {("surql", "query.exec.jobs"), ("surql", "query.exec.tasks"),
                    ("surql", "spark.shuffle_bytes")}


def load(d):
    runs = {}
    for f in sorted(Path(d).glob("*.json")):
        a = json.loads(f.read_text())
        runs.setdefault((a["workload"], int(bool(a["trace"]))), []).append(a)
    return runs


def spread(vals):
    if len(vals) < 2:
        return float("nan")
    q = statistics.quantiles(vals, n=4)
    return (q[2] - q[0]) / statistics.median(vals)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    bad = 0

    print("== correctness")
    for name, runs in (("A", a_runs), ("B", b_runs)):
        for (w, t), rs in sorted(runs.items()):
            failed = sum(r["result"]["failed"] for r in rs)
            att = sum(r["result"]["attempted"] for r in rs)
            flag = "  " if failed == 0 else "!!"
            bad += failed > 0
            print(f"{flag} {name} {w} trace={t}: {failed}/{att} failed over {len(rs)} runs")

    print("== end-to-end (median B vs A, bound from BENCHMARK.json)")
    workloads = sorted({w for (w, t) in list(a_runs) + list(b_runs) if t == 0})
    for w in workloads:
        ra, rb = a_runs.get((w, 0), []), b_runs.get((w, 0), [])
        if not ra or not rb:
            print(f"   {w}: missing on one side")
            continue
        for m in spec["end_to_end"]:
            va = [r["result"]["metrics"][m["name"]]["value"] for r in ra]
            vb = [r["result"]["metrics"][m["name"]]["value"] for r in rb]
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            over = worse > m["bound"]
            bad += over
            print(f"{'!!' if over else '  '} {w:9s} {m['name']:15s} A {ma:.5g} "
                  f"(spread {spread(va):.3f}, n={len(va)})  B {mb:.5g} "
                  f"(spread {spread(vb):.3f}, n={len(vb)})  worse by {worse:+.3f} "
                  f"(bound {m['bound']})")

    print("== structural counts (traced runs, same workload and seed)")
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in sorted({w for (w, t) in list(a_runs) + list(b_runs) if t == 1}):
        by_seed_a = {r["seed"]: r for r in a_runs.get((w, 1), [])}
        by_seed_b = {r["seed"]: r for r in b_runs.get((w, 1), [])}
        common = sorted(set(by_seed_a) & set(by_seed_b))
        if not common:
            print(f"   {w}: no seed traced on both sides")
            continue
        for s in common:
            ma = by_seed_a[s]["result"]["metrics"]
            mb = by_seed_b[s]["result"]["metrics"]
            diffs = [(k, ma[k]["value"], mb[k]["value"]) for k in sorted(ma)
                     if units.get(k) in STRUCTURAL_UNITS and ma[k]["value"] != mb.get(k, {}).get("value")]
            n = sum(1 for k in ma if units.get(k) in STRUCTURAL_UNITS)
            print(f"{'~~' if diffs else '  '} {w} seed {s}: {n - len(diffs)}/{n} counts identical")
            for k, x, y in diffs:
                note = "  (timing-dependent)" if (w, k) in TIMING_DEPENDENT else ""
                print(f"     {k}: A {x} B {y}{note}")

    print("== tracing overhead (traced op median / timed latency_p50_s)")
    for name, runs in (("A", a_runs), ("B", b_runs)):
        for w in sorted({w for (w, t) in runs}):
            timed = [r["result"]["metrics"]["latency_p50_s"]["value"] for r in runs.get((w, 0), [])]
            traced = [r["result"]["metrics"]["trace.op_p50_s"]["value"] for r in runs.get((w, 1), [])]
            if timed and traced:
                ratio = statistics.median(traced) / statistics.median(timed)
                print(f"   {name} {w}: {ratio - 1:+.3f} ({len(traced)} traced, {len(timed)} timed runs)")

    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
