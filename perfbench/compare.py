#!/usr/bin/env python3
"""Judge a candidate set of benchmark artifacts against a baseline set.

  python3 perfbench/compare.py BASE CAND

BASE and CAND are directories of artifacts written by run.py (its
.bench_build/perfbench/artifacts/), or single artifact files. For every
workload and end-to-end metric in BENCHMARK.json it compares the medians
and flags a change worse than the metric's bound.

It refuses to judge (prints "cannot judge" and exits 2) when the two
sets were not measured alike: a different host fingerprint (cores, the
local[N] in effect, heap, Spark / JDK / Scala versions, input size
class), different input bytes for the same workload and seed, or any
failed operation. Exit 1 means a metric got worse past its bound, 0 that
none did.
"""
import glob
import json
import os
import statistics
import sys

HOST_KEYS = ["nproc", "master", "default_parallelism", "heap_max_mb", "heap",
             "spark_version", "java_version", "scala_version", "size"]


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    arts = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        a["_file"] = f
        arts.append(a)
    return arts


def refusals(base, cand):
    out = []
    everything = base + cand
    for k in HOST_KEYS:
        vals = {json.dumps(a["fingerprint"].get(k)) for a in everything}
        if len(vals) > 1:
            out.append(f"fingerprint '{k}' differs: {sorted(vals)}")
    inputs = {}
    for a in everything:
        fp = a["fingerprint"]
        inputs.setdefault((fp["workload"], fp["seed"]), set()).add(fp["input_bytes"])
    out += [f"input bytes differ for {w} seed {s}: {sorted(v)}"
            for (w, s), v in sorted(inputs.items()) if len(v) > 1]
    out += [f"{a['_file']}: {a['failed']} failed operations"
            for a in everything if a["failed"]]
    return out


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    base, cand = load(argv[0]), load(argv[1])
    if not base or not cand:
        print("cannot judge: an artifact set is empty")
        return 2
    why = refusals(base, cand)
    if why:
        print("cannot judge:")
        for w in why:
            print(f"  {w}")
        return 2
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    worse = False
    workloads = sorted({a["fingerprint"]["workload"] for a in base + cand})
    for w in workloads:
        for m in metrics:
            def vals(arts):
                return [a["metrics"][m["name"]]["value"] for a in arts
                        if a["fingerprint"]["workload"] == w and a["trace"] == 0
                        and m["name"] in a["metrics"]]
            b, c = vals(base), vals(cand)
            if not b or not c:
                continue
            mb, mc = statistics.median(b), statistics.median(c)
            change = (mc - mb) / mb if mb else 0.0
            bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse |= bad
            print(f"{w:10s} {m['name']:12s} {mb:10.3f} -> {mc:10.3f} {m['unit']:3s} "
                  f"{change:+7.1%} (n={len(b)}/{len(c)}, bound {m['bound']:.0%})"
                  + ("  WORSE" if bad else ""))
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
