#!/usr/bin/env python3
"""Collect benchmark result sets and compare them.

    python3 perfbench/compare.py collect base.jsonl --seeds 1-10
    python3 perfbench/compare.py collect traced.jsonl --seeds 1-3 --trace
    python3 perfbench/compare.py spread base.jsonl
    python3 perfbench/compare.py compare base.jsonl new.jsonl
    python3 perfbench/compare.py overhead base.jsonl traced.jsonl

`collect` runs perfbench/run.py once per workload and seed (with the
run_seconds of BENCHMARK.json) and appends one JSON line per run; a run
that exits non-zero or prints no result (a crash, a build failure, a run
stopped at its deadline) is recorded as a failed run, never skipped.
`spread` prints, per workload and metric, the median and the distance
between the first and third quartile as a share of the median.
`compare` reports every (workload, end-to-end metric) pair as improved,
unchanged, worse or unresolved under the bounds of BENCHMARK.json, with
each ratio and its base. `overhead` compares a traced set's own
end-to-end values (the trace.* metrics) with an untraced set.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load(path):
    """{(workload, metric): {seed: value}} over the runs in a result set
    that printed a result."""
    out = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if "result" not in rec:
                continue
            for m, v in rec["result"]["metrics"].items():
                out.setdefault((rec["workload"], m), {})[rec["seed"]] = v["value"]
    return out


def failures(path):
    """{workload: [runs, failed runs, failed operations, operations]}: a run
    fails when it printed no result or reported a failed operation."""
    out = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            f = out.setdefault(rec["workload"], [0, 0, 0, 0])
            f[0] += 1
            res = rec.get("result")
            if res is None:
                f[1] += 1
                continue
            f[1] += 1 if res["failed"] else 0
            f[2] += res["failed"]
            f[3] += res["attempted"]
    return out


def iqr_share(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(a):
    s = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    with open(a.out, "a") as fh:
        for seed in seeds(a.seeds):
            for w in workloads:
                started = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(s["run_seconds"]),
                     "--trace", "1" if a.trace else "0"],
                    cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                rec = {"workload": w, "seed": seed, "trace": int(a.trace),
                       "wall_s": round(time.time() - started, 1)}
                try:
                    result = json.loads(lines[-1]) if p.returncode == 0 else None
                except (IndexError, ValueError):
                    result = None
                if result is None:
                    rec["error"] = f"exit {p.returncode}: {p.stderr[-1000:]}"
                    print(f"{w} seed {seed}: FAILED RUN, {rec['error']}", file=sys.stderr)
                else:
                    rec["result"] = result
                    print(f"{w} seed {seed}: correct={result['correct']} "
                          f"failed={result['failed']}/{result['attempted']}",
                          file=sys.stderr)
                fh.write(json.dumps(rec) + "\n")
                fh.flush()


def spread(a):
    walls = {}
    with open(a.set) as fh:
        for line in fh:
            rec = json.loads(line)
            walls.setdefault(rec["workload"], []).append(rec.get("wall_s", 0.0))
    for w, (runs, bad, fops, ops) in sorted(failures(a.set).items()):
        print(f"{w:8} runs {runs}, failed runs {bad}, failed operations {fops}/{ops}, "
              f"wall per run median {statistics.median(walls[w]):.1f} s, "
              f"max {max(walls[w]):.1f} s")
    bounds = {m["name"]: m.get("bound") for m in spec()["end_to_end"]}
    for (w, m), runs in sorted(load(a.set).items()):
        vals = list(runs.values())
        share = iqr_share(vals)
        b = bounds.get(m)
        note = "" if b is None else f"  bound {b}  {'ok' if share <= b else 'WIDER THAN BOUND'}"
        print(f"{w:8} {m:28} median {statistics.median(vals):12.4f}  "
              f"iqr/median {share:.3f}  n={len(vals)}{note}")


def compare(a):
    base, new = load(a.base), load(a.new)
    fb, fn = failures(a.base), failures(a.new)
    workloads = [x["name"] for x in spec()["workloads"]]
    for w in workloads:
        runs, bad, fops, ops = fn.get(w, [0, 0, 0, 0])
        base_bad = fb.get(w, [0, 0])[1]
        # a run that failed or crashed is never dropped: it makes the
        # workload worse, whatever its timings say
        if bad > base_bad:
            print(f"{w:8} {'runs':18} worse: {bad}/{runs} runs failed "
                  f"(base {base_bad}); failed operations {fops}/{ops}")
    for m in spec()["end_to_end"]:
        lower = m["better"] == "lower"
        for w in workloads:
            b, n = base.get((w, m["name"])), new.get((w, m["name"]))
            if not n:
                print(f"{w:8} {m['name']:18} worse: no run of the new set has a result")
                continue
            if not b:
                print(f"{w:8} {m['name']:18} unresolved: no run of the base set has a result")
                continue
            bm, nm = statistics.median(b.values()), statistics.median(n.values())
            ratio = nm / bm
            worse_by = ratio - 1 if lower else 1 - ratio
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            all_better = all(better(x, y) for x in n.values() for y in b.values())
            pairs = [(n[s], b[s]) for s in n if s in b]
            wins = sum(better(x, y) for x, y in pairs)
            if max(iqr_share(list(b.values())), iqr_share(list(n.values()))) > m["bound"] \
                    and not all_better:
                verdict = "unresolved (spread wider than the bound)"
            elif worse_by > m["bound"]:
                verdict = "worse"
            elif pairs and wins >= 0.9 * len(pairs) and \
                    abs(nm - bm) > iqr_share(list(b.values())) * bm:
                verdict = "improved"
            else:
                verdict = "unchanged"
            print(f"{w:8} {m['name']:18} new/base = {ratio:.3f} "
                  f"(base {bm:.4g} {m['unit']}, new {nm:.4g}; "
                  f"wins {wins}/{len(pairs)}; bound {m['bound']})  {verdict}")


def overhead(a):
    base, traced = load(a.base), load(a.traced)
    for (w, m), runs in sorted(base.items()):
        t = traced.get((w, f"trace.{m}"))
        if not t:
            continue
        bm, tm = statistics.median(runs.values()), statistics.median(t.values())
        print(f"{w:8} {m:18} traced/untraced = {tm / bm:.3f} (untraced {bm:.4g}, traced {tm:.4g})")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads")
    c.add_argument("--trace", action="store_true")
    c.set_defaults(fn=collect)
    s = sub.add_parser("spread")
    s.add_argument("set")
    s.set_defaults(fn=spread)
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("new")
    p.set_defaults(fn=compare)
    o = sub.add_parser("overhead")
    o.add_argument("base")
    o.add_argument("traced")
    o.set_defaults(fn=overhead)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
