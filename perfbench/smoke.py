#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

  python3 perfbench/smoke.py

For each workload it runs run.py at --size smoke with --trace 0 and
--trace 1 and asserts that the run is correct and that every metric
BENCHMARK.json names is printed with its unit. Then it corrupts one
output of each workload (a ResumoMetas cell; one row of a checked query
result) and asserts that the checks catch it. Exit 0 when all hold.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 5


def run_once(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(SEED),
                        "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
                       capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} exit {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(workload, trace, line, declared):
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, line
    want = declared["per_layer" if trace else "end_to_end"]
    got = line["metrics"]
    for m in want:
        assert m["name"] in got, f"{workload} trace={trace}: {m['name']} not printed"
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), got[m["name"]]
    assert len(got) == len(want), sorted(set(got) - {m["name"] for m in want})


def corrupt_cnj():
    work = os.path.join(run.BUILD, "work", "cnj_metas")
    outs = sorted(glob.glob(os.path.join(work, "cnj_out", "timed*")))
    assert outs, "no cnj output to corrupt"
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        expected = gen.cnj_corpus(os.path.join(tmp, "in"), SEED,
                                  run.SIZES["smoke"]["cnj_mb"],
                                  run.SIZES["smoke"]["cnj_files"])
        out = os.path.join(tmp, "out")
        shutil.copytree(outs[0], out)
        assert check.check_cnj_output(out, expected) == [], "clean output flagged"
        part = glob.glob(os.path.join(out, "ResumoMetas.csv", "part-*"))[0]
        with open(part, encoding="utf-8") as f:
            lines = f.read().splitlines()
        cells = lines[1].split(";")
        cells[2] = "NA" if cells[2] != "NA" else "1.0"  # meta1 of one court
        lines[1] = ";".join(cells)
        with open(part, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        fails = check.check_cnj_output(out, expected)
        assert fails and fails[0][1] == "wrong_output", fails


def corrupt_pairs():
    import pyarrow.parquet as pq
    work = os.path.join(run.BUILD, "work", "pairs_gen")
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = os.path.join(tmp, "out")
        shutil.copytree(os.path.join(work, "out"), out)
        name = "dedup_ngram_jaccard"
        t = pq.read_table(os.path.join(out, name))
        shutil.rmtree(os.path.join(out, name))
        os.makedirs(os.path.join(out, name))
        pq.write_table(t.slice(1), os.path.join(out, name, "part-0.parquet"))
        results, _ = check.check_pairs(os.path.join(work, "input"), out)
        assert results[name] is not None, "dropped row not caught"
        assert all(v is None for k, v in results.items() if k != name), results


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)
    for workload in ("cnj_metas", "pairs_gen"):
        for trace in (1, 0):
            assert_metrics(workload, trace, run_once(workload, trace), declared)
            print(f"ok  {workload} trace={trace}: every declared metric printed")
        (corrupt_cnj if workload == "cnj_metas" else corrupt_pairs)()
        print(f"ok  {workload}: corrupted output caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
