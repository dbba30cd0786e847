#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop, single-client batch workload
per run, timed from outside the library, with every output checked.

  python3 perfbench/run.py --workload cnj_metas --seed 1 --seconds 20 --trace 0

Run from the repository root (any directory works: paths resolve from
this file). A run

  1. builds the library and the harness from source with sbt (once per
     source tree; later runs reuse the stamped classpath),
  2. generates the workload's inputs from --seed (gen.py),
  3. starts one JVM on the shipped session (GraftSession.builder() at
     local[nproc], no SPARK_GRAFT_* overrides) that sets up several
     times, then runs whole iterations of the workload for --seconds,
  4. checks the outputs (check.py), names every failure, writes a
     fingerprinted artifact under .bench_build/perfbench/artifacts/, and
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; --trace 1 spends half the
budget untraced and half traced (spans at the harness's own call
boundaries, a SparkListener, a QueryExecutionListener and counted file
system calls) and reports the per-layer metrics.

Workloads:
  cnj_metas  graft.cnj.MetasJob.runAll over a seeded 90-court CSV corpus.
  pairs_gen  the Dedup / Similarity blocked-pair families and CorpusStore
             verbs through their registry entries over a seeded corpus.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170.0  # a run must end within 180 s
HEAP = "4g"

SIZES = {
    "full": {"cnj_mb": 4, "cnj_files": 90, "docs": 2500, "vecs": 1000},
    "smoke": {"cnj_mb": 2, "cnj_files": 6, "docs": 500, "vecs": 200},
}
SETUPS = 2  # set-ups per run; setup_s is their median

# The blocked-pair families: candidate blocking, a self-join, verification.
DEDUP = ["dedup_minhash_lsh", "dedup_ngram_jaccard"]
SIMILARITY = ["embed_neardup_blocked"]
FAMILY = {  # registry query -> its per-layer metric prefix
    "dedup_minhash_lsh": "Dedup.minhash_lsh",
    "dedup_ngram_jaccard": "Dedup.ngram_jaccard",
    "embed_neardup_blocked": "Similarity.embed_neardup_blocked",
}
STORE_WRITE = ["corpus_store_read"]
STORE_READ = ["store_ro_pruned_read"]
PAIRS_QUERIES = DEDUP + SIMILARITY + STORE_WRITE + STORE_READ
GROUP = {**{q: "Dedup" for q in DEDUP}, **{q: "Similarity" for q in SIMILARITY},
         **{q: "store_write" for q in STORE_WRITE},
         **{q: "store_read" for q in STORE_READ}}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


CHILDREN = []  # process groups this run started and has not reaped


def _stop_children(*_):
    for p in CHILDREN:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or when this run is stopped. Returns (exit code or "timeout", stdout)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(p)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
        rc = p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        rc = "timeout"
    CHILDREN.remove(p)
    return rc, out


def source_hash():
    """Hash of everything the build compiles: the library and the harness."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    files = []
    for top in tops:
        if os.path.isfile(top):
            files.append(top)
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: the library sources are not here "
                         f"({ROOT}/build.sbt, src/main); nothing to build")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library + harness with sbt")
    t0 = time.time()
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in out.splitlines()
             if ln and not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not lines:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, stamp


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(a, f))
               for a, _, fs in os.walk(d) for f in fs)


def make_inputs(workload, seed, size, work):
    """Generate the run's inputs; for cnj_metas also their expected sums."""
    s = SIZES[size]
    inp = os.path.join(work, "input")
    if workload == "cnj_metas":
        return inp, gen.cnj_corpus(inp, seed, s["cnj_mb"], s["cnj_files"])
    gen.pairs_corpus(inp, seed, s["docs"], s["vecs"])
    return inp, None


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    # the shipped configuration: no harness overrides leak in
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        rc, _ = run_child(cmd, deadline - time.time(), cwd=work, env=env,
                          stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(logf, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["cnj_metas", "pairs_gen"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    load_entry = os.getloadavg()

    cp, stamp = build()
    # the build may take long on the first run; the run budget starts now
    deadline = max(deadline, time.time() + DEADLINE_S - 20)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)  # sweep the last run's outputs
    os.makedirs(work)
    inp, expected = make_inputs(a.workload, a.seed, a.size, work)
    result_file = os.path.join(work, "result.json")
    run_jvm(cp, {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                 "trace": a.trace, "setups": SETUPS, "input": inp, "work": work,
                 "deadline_ms": int((deadline - 25) * 1000), "result": result_file,
                 "queries": ",".join(f"{q}:{GROUP[q]}" for q in PAIRS_QUERIES)}, work, deadline)
    with open(result_file) as f:
        res = json.load(f)

    def failure(o, kind, message):
        return {"op": o["name"], "iter": o["iter"], "phase": o["phase"],
                "kind": kind, "message": message}
    failures = [failure(o, o["error"]["class"], o["error"]["message"])
                for o in res["ops"] if o["error"]]
    runs = [o for o in res["ops"] if o["phase"] in ("timed", "traced")]
    rows = {}
    if a.workload == "cnj_metas":
        ok = [o for o in runs if o["error"] is None]
        for o in ok:
            out = os.path.join(work, "cnj_out", f"{o['phase']}{o['iter']}")
            for output, kind, msg in check.check_cnj_output(out, expected,
                                                            full=(o is ok[-1])):
                failures.append(failure(o, kind, f"{output}: {msg}"))
    else:
        # the files on disk are each query's last run
        last = {o["name"]: o for o in runs}
        results, rows = check.check_pairs(inp, os.path.join(work, "out"))
        failures += [failure(last[name], *bad) for name, bad in results.items() if bad]
    failed = len({(f["op"], f["iter"], f["phase"]) for f in failures})

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace == 0:
        values = {"wall_s": median(res["walls_s"]), "cpu_s": median(res["cpu_s"]),
                  "setup_s": median(res["setup_s"])}
    else:
        values = res["layers"]
        timed = [o for o in runs if o["phase"] == "timed"]

        def per_iter(names):
            by = {}
            for o in timed:
                if o["name"] in names:
                    by[o["iter"]] = by.get(o["iter"], 0.0) + o["seconds"]
            return median(list(by.values()))
        lat = [o["seconds"] for o in timed] if a.workload == "pairs_gen" else []
        values.update({
            "peak_rss_mb": res["peak_rss_mb"],
            "dedup_s": per_iter(DEDUP), "similarity_s": per_iter(SIMILARITY),
            "store_write_s": per_iter(STORE_WRITE),
            "store_read_s": per_iter(STORE_READ),
            "query_p50_s": quantile(lat, 0.5), "query_p90_s": quantile(lat, 0.9),
        })
        for q, fam in FAMILY.items():
            for k in ("plan_s", "exec_s", "shuffle_mb", "spill_mb", "task_skew"):
                if f"{q}.{k}" in values:
                    values[f"{fam}.{k}"] = values.pop(f"{q}.{k}")
            # verified pairs / candidate rows: the checked result's rows
            # over the largest join output of the family's SQL executions
            cand = values.pop(f"{q}.candidate_rows", 0.0)
            if cand and q in rows:
                values[f"{fam}.verify_yield"] = rows[q] / cand
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}

    fingerprint = dict(res["fingerprint"])
    fingerprint.update({
        "git_sha": git_sha(), "source_sha256": stamp, "seed": a.seed,
        "workload": a.workload, "size": a.size,
        "input_bytes": dir_bytes(inp), "loadavg_entry": list(load_entry),
        "heap": HEAP})
    attempted = len(res["ops"])
    artifact = {"fingerprint": fingerprint, "trace": a.trace,
                "seconds": a.seconds, "attempted": attempted, "failed": failed,
                "fail_rate": failed / attempted, "failures": failures,
                "metrics": metrics,
                "raw": {k: res[k] for k in ("setup_s", "session_start_s",
                                            "warmup_s", "walls_s", "cpu_s",
                                            "traced_walls_s", "peak_rss_mb")},
                "spans": res["spans"]}
    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1)
    for fl in failures:
        log(f"FAILED {fl['op']} (iter {fl['iter']}): {fl['kind']}: {fl['message']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
