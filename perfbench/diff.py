#!/usr/bin/env python3
"""Summarize or compare benchmark result sets.

    python3 perfbench/diff.py A            # summarize one result set
    python3 perfbench/diff.py A B          # compare B against A

A result set is a directory of run artifacts as run.py leaves them in
.bench_build/results (one JSON file per run). For each workload and each
end-to-end metric the comparison prints both medians, both quartiles and
a verdict against the metric's bound from BENCHMARK.json:

  better / within / WORSE   the gap between the medians, in the metric's
                            direction, against the bound
  unresolved                the runs of either side spread wider than the
                            bound, and not every run of B beats every run
                            of A

It also prints each workload's own figures (score_s, search_p50_s, ...), the
pooled tail of the per-call latencies, the tracing overhead, the
per-layer movers labelled by kind (scheduler: jobs, driver_s; compute:
task_cpu_s; volume: scan_mb, shuffle_mb), and any seed whose runs
disagree on their output digests.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LAYER_KIND = {"jobs": "scheduler", "driver_s": "scheduler", "task_cpu_s": "compute",
              "scan_mb": "volume", "shuffle_mb": "volume", "wall_s": "wall"}


def load(path):
    runs = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        sys.exit("no run artifacts in %s" % path)
    return runs


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def stats(values):
    v = sorted(x for x in values if x is not None)
    if not v:
        return None
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return {"n": len(v), "median": statistics.median(v), "q1": q[0], "q3": q[2],
            "values": v}


def spread(s):
    return (s["q3"] - s["q1"]) / abs(s["median"]) if s and s["median"] else float("inf")


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if bool(r["trace"]) == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, section, name):
    return [r[section][name]["value"] for r in runs if name in r.get(section, {})]


def fmt(x):
    return "%.4g" % x if isinstance(x, (int, float)) else str(x)


def verdict(a, b, bound, lower_better):
    if a is None or b is None:
        return "missing"
    worse_by = (b["median"] - a["median"]) / abs(a["median"])
    if not lower_better:
        worse_by = -worse_by
    beats = all((y < x) if lower_better else (y > x) for x in a["values"] for y in b["values"])
    if (spread(a) > bound or spread(b) > bound) and not beats:
        return "unresolved"
    if worse_by > bound:
        return "WORSE"
    return "better" if worse_by < 0 else "within"


def tail(samples):
    """Highest percentile with at least ten samples beyond it."""
    v = sorted(samples)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        k = int(len(v) * p / 100.0)
        if len(v) - k - 1 >= 10:
            best = (p, v[k])
    return best


def summarize(runs, spec):
    for wl, rs in sorted(by_workload(runs, False).items()):
        print("== %s: %d timed runs, seeds %s" % (wl, len(rs), sorted({r["seed"] for r in rs})))
        bad = [r for r in rs if not r["correct"] or r["failed"]]
        if bad:
            print("   %d runs FAILED checks: %s" % (len(bad), bad[0].get("failures")))
        for name, m in spec.items():
            s = stats(values(rs, "metrics", name))
            if s:
                print("   %-24s median %-10s q1 %-10s q3 %-10s spread %.1f%% (bound %.0f%%) %s" % (
                    name, fmt(s["median"]), fmt(s["q1"]), fmt(s["q3"]), 100 * spread(s),
                    100 * m["bound"], m["unit"]))
        names = sorted({k for r in rs for k in r.get("named", {})})
        for name in names:
            s = stats(values(rs, "named", name))
            print("   %-24s median %-10s q1 %-10s q3 %s" % (name, fmt(s["median"]), fmt(s["q1"]),
                                                          fmt(s["q3"])))
        for op in sorted({k for r in rs for k in r.get("samples", {})}):
            pooled = [x for r in rs for x in r["samples"].get(op, [])]
            t = tail(pooled)
            if t:
                print("   tail %-19s p%s = %s s over %d calls" % (op, t[0], fmt(t[1]), len(pooled)))
        digests = {}
        for r in rs:
            digests.setdefault(r["seed"], []).append(r.get("digests", []))
        for seed, ds in sorted(digests.items()):
            n = min(len(d) for d in ds)
            if len({tuple(d[:n]) for d in ds}) > 1:
                print("   DIGEST MISMATCH for seed %s across %d runs" % (seed, len(ds)))
    timed = by_workload(runs, False)
    for wl, rs in sorted(by_workload(runs, True).items()):
        print("== %s: %d traced runs" % (wl, len(rs)))
        act = [w + r_ for r in rs for w, r_ in zip(r["samples"]["write_s"], r["samples"]["read_s"])]
        base = [w + r_ for r in timed.get(wl, [])
                for w, r_ in zip(r["samples"]["write_s"], r["samples"]["read_s"])]
        if act and base:
            print("   tracing overhead: traced cycle %s s vs timed median %s s (%+.1f%%)" % (
                fmt(statistics.median(act)), fmt(statistics.median(base)),
                100 * (statistics.median(act) / statistics.median(base) - 1)))
        over = stats(values(rs, "metrics", "trace.overhead_s"))
        if over:
            print("   tracer's own time per cycle: %s s" % fmt(over["median"]))


def compare(a_runs, b_runs, spec):
    a_t, b_t = by_workload(a_runs, False), by_workload(b_runs, False)
    for wl in sorted(set(a_t) | set(b_t)):
        print("== %s: A %d runs, B %d runs" % (wl, len(a_t.get(wl, [])), len(b_t.get(wl, []))))
        for name, m in spec.items():
            a = stats(values(a_t.get(wl, []), "metrics", name))
            b = stats(values(b_t.get(wl, []), "metrics", name))
            v = verdict(a, b, m["bound"], m["better"] == "lower")
            if a and b:
                print("   %-22s A %-10s [%s, %s]  B %-10s [%s, %s]  %+.1f%%  %s" % (
                    name, fmt(a["median"]), fmt(a["q1"]), fmt(a["q3"]), fmt(b["median"]),
                    fmt(b["q1"]), fmt(b["q3"]), 100 * (b["median"] / a["median"] - 1), v))
            else:
                print("   %-22s %s" % (name, v))
        names = sorted({k for r in a_t.get(wl, []) + b_t.get(wl, []) for k in r.get("named", {})})
        for name in names:
            a = stats(values(a_t.get(wl, []), "named", name))
            b = stats(values(b_t.get(wl, []), "named", name))
            if a and b:
                print("   %-22s A %-10s B %-10s %+.1f%%  (not gated)" % (
                    name, fmt(a["median"]), fmt(b["median"]), 100 * (b["median"] / a["median"] - 1)))
    a_l, b_l = by_workload(a_runs, True), by_workload(b_runs, True)
    for wl in sorted(set(a_l) & set(b_l)):
        print("== %s per-layer movers (traced runs, medians)" % wl)
        rows = []
        for name in sorted({k for r in a_l[wl] + b_l[wl] for k in r["metrics"]}):
            a = stats(values(a_l[wl], "metrics", name))
            b = stats(values(b_l[wl], "metrics", name))
            if not a or not b or a["median"] == b["median"]:
                continue
            rel = (b["median"] - a["median"]) / abs(a["median"]) if a["median"] else float("inf")
            counter = name.rsplit(".", 1)[-1]
            kind = LAYER_KIND.get(counter) or name.split(".", 1)[0]
            rows.append((abs(rel), name, kind, a["median"], b["median"], rel))
        for _, name, kind, a, b, rel in sorted(rows, reverse=True)[:25]:
            print("   %-34s %-9s A %-10s B %-10s %+.1f%%" % (name, kind, fmt(a), fmt(b), 100 * rel))


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spec = bench_spec()
    if len(sys.argv) == 2:
        summarize(load(sys.argv[1]), spec)
    else:
        compare(load(sys.argv[1]), load(sys.argv[2]), spec)


if __name__ == "__main__":
    main()
