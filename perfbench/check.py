"""Output checks for the benchmark workloads.

cnj_metas: every iteration's ResumoMetas against an independent model of
the documented semantics (ratio-of-sums metas, factor table with branch
remap and Justiça-Estadual fallback, STJ suppression, stringly 'NA'
output), compared under graft.cnj.ResultParity's rules: cells equal as
strings, except numeric cells exactly one 0.01 quantum apart, which may
number at most max(1, 0.1% of cells).

pairs_gen: every query's result against its DuckDB oracle SQL, with the
comparison rules of scripts/selfcheck.py (columns sorted by name, rows
sorted, exact values, then selfcheck's dtype-sensitive row hash).

Every failure is returned as (operation, kind, message).
"""
import glob
import math
import os
import re
from decimal import Decimal, ROUND_HALF_EVEN

from gen import META_SPECS, STJ_SPECS

# graft.cnj.Factors: per-branch factor table (1000/x kept as expressions).
JE = {"2a": 1000.0 / 8, "2b": 1000.0 / 9, "2c": 1000.0 / 9.5, "2ant": 100.0,
      "4a": 1000.0 / 6.5, "4b": 100.0, "6": 100.0,
      "7a": 1000.0 / 5, "7b": 1000.0 / 5, "8a": 1000.0 / 7.5, "8b": 1000.0 / 9,
      "10a": 1000.0 / 9, "10b": 1000.0 / 10}
BY_BRANCH = {
    "Justiça Estadual": JE,
    "Justiça do Trabalho": {"2a": 1000.0 / 9.4, "2ant": 100.0, "4a": 1000.0 / 7,
                            "4b": 100.0},
    "Justiça Federal": {"2a": 1000.0 / 8.5, "2b": 100.0, "2ant": 100.0,
                        "4a": 1000.0 / 7, "4b": 100.0, "6": 1000.0 / 3.5,
                        "7a": 1000.0 / 3.5, "7b": 1000.0 / 3.5,
                        "8a": 1000.0 / 7.5, "8b": 1000.0 / 9, "10a": 100.0},
    "Justiça Militar da União": {"2a": 1000.0 / 9.5, "2b": 1000.0 / 9.9,
                                 "2ant": 100.0, "4a": 1000.0 / 9.5,
                                 "4b": 1000.0 / 9.9},
    "Justiça Militar Estadual": {"2a": 1000.0 / 9, "2b": 1000.0 / 9.5,
                                 "2ant": 100.0, "4a": 1000.0 / 9.5,
                                 "4b": 1000.0 / 9.9},
    "Tribunal Superior Eleitoral": {"2a": 1000.0 / 7.0, "2b": 1000.0 / 9.9,
                                    "2ant": 100.0, "4a": 1000.0 / 9,
                                    "4b": 1000.0 / 5},
    "Tribunal Superior do Trabalho": {"2a": 1000.0 / 8.5, "2b": 1000.0 / 9.9,
                                      "2ant": 100.0, "4a": 1000.0 / 7,
                                      "4b": 100.0},
    "Superior Tribunal de Justiça": {"2ant": 100.0, "4a": 1000.0 / 9, "4b": 100.0,
                                     "6": 1000.0 / 7.5, "7a": 1000.0 / 7.5,
                                     "7b": 1000.0 / 7.5, "8": 1000.0 / 10,
                                     "10": 1000.0 / 10},
}


def _ramo_usado(ramo, sigla):
    if ramo == "Tribunais Superiores":
        return {"TST": "Tribunal Superior do Trabalho",
                "STJ": "Superior Tribunal de Justiça"}.get(sigla, ramo)
    if ramo == "Justiça Eleitoral":
        return "Tribunal Superior Eleitoral"
    return ramo


def _bround2(x):
    """Spark's bround(x, 2) on a double: half-even on its decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_EVEN))


def _meta(agg, j, d, s, factor, extra=None):
    """calcular_meta over (sum, count) per column; None is NA."""
    def present(c):
        return c in agg and agg[c][1] > 0
    if not (present(j) and present(d) and present(s)) or factor is None:
        return None
    den = agg[d][0]
    if extra is not None:
        den = den + (agg[extra][0] if present(extra) else 0.0)
    den = den - agg[s][0]
    if den == 0:
        return None
    return _bround2(agg[j][0] / den * factor)


def _render(v):
    """graft's plain-decimal rendering of a 2-dp meta; None is 'NA'."""
    if v is None:
        return "NA"
    s = str(Decimal(repr(v)).quantize(Decimal("0.01")))
    s = re.sub(r"(\.\d*?)0+$", r"\1", s)
    return re.sub(r"\.$", ".0", s)


def expected_resumo(expected):
    """Rows (as lists of strings) and header of the expected ResumoMetas."""
    rows = {}
    for (sigla, ramo), agg in expected.items():
        facts = BY_BRANCH.get(_ramo_usado(ramo, sigla), {})
        vals = {"meta1": _meta(agg, "julgados_2025", "casos_novos_2025",
                               "suspensos_2025", 100.0,
                               extra="dessobrestados_2025")}
        for name, j, d, s, key in META_SPECS:
            f = facts.get(key, JE.get(key))
            vals[name] = _meta(agg, j, d, s, f)
        for name, j, d, s, key in STJ_SPECS:
            vals[name] = _meta(agg, j, d, s, facts.get(key))
        for stj, variants in (("meta8_stj", ("meta8a", "meta8b")),
                              ("meta10_stj", ("meta10a", "meta10b"))):
            if vals[stj] is not None:
                for v in variants:
                    vals[v] = None
        rows[(sigla, ramo)] = vals
    metas = sorted(n for n, *_ in META_SPECS)
    stjs = sorted(n for n, *_ in STJ_SPECS)
    header = ["sigla_tribunal", "ramo_justica", "meta1"] + metas + stjs
    out = [[sigla, ramo] + [_render(v[c]) for c in header[2:]]
           for (sigla, ramo), v in sorted(rows.items())]
    return header, out


def _read_csv_dir(path, sep):
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        raise FileNotFoundError(f"no part files under {path}")
    header, rows = None, []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            lines = f.read().splitlines()
        if not lines:
            continue
        header = lines[0].split(sep)
        rows += [ln.split(sep) for ln in lines[1:]]
    return header, rows


def _num(s):
    try:
        return float(s)
    except ValueError:
        return None


def parity(got_header, got, exp_header, exp, quantum=0.01):
    """ResultParity.compare: (hard diffs, boundary cells, details)."""
    details = []
    if got_header != exp_header:
        return 1, 0, [f"header {got_header} != {exp_header}"]
    em = {(r[0], r[1]): r for r in exp}
    hard = boundary = 0
    for g in got:
        e = em.get((g[0], g[1]))
        if e is None:
            hard += 1
            details.append(f"got-only group {g[:2]}")
            continue
        if len(g) != len(e):
            hard += 1
            details.append(f"arity {g[:2]}")
        for i in range(min(len(g), len(e))):
            if g[i] != e[i]:
                x, y = _num(g[i]), _num(e[i])
                if x is not None and y is not None and \
                        quantum * 0.9999 <= abs(x - y) <= quantum * 1.0001:
                    boundary += 1
                else:
                    hard += 1
                    details.append(f"{g[:2]} {exp_header[i]}: got={g[i]} expected={e[i]}")
    missing = set(em) - {(g[0], g[1]) for g in got}
    hard += len(missing)
    details += [f"expected-only group {k}" for k in sorted(missing)]
    if len(got) != len(exp) and hard == 0:
        hard = 1
    return hard, boundary, details


def check_cnj_output(out_dir, expected, full=False):
    """Failures of one runAll output directory (empty list when correct)."""
    fails = []
    try:
        header, got = _read_csv_dir(os.path.join(out_dir, "ResumoMetas.csv"), ";")
        exp_header, exp = expected_resumo(expected)
        hard, boundary, details = parity(header, got, exp_header, exp)
        cells = len(got) * len(header)
        if hard or boundary > max(1, int(cells * 0.001)):
            fails.append(("ResumoMetas", "wrong_output",
                          f"{hard} hard diffs, {boundary} boundary cells: "
                          + "; ".join(details[:3])))
        png = os.path.join(out_dir, "grafico_meta1.png")
        n_chart = sum(1 for r in got if _num(r[2]) is not None)
        if n_chart and not (os.path.isfile(png) and os.path.getsize(png) > 0):
            fails.append(("grafico_meta1", "wrong_output", "chart PNG missing"))
        if full:
            n_rows = sum(agg["__rows__"] for agg in expected.values())
            _, cons = _read_csv_dir(os.path.join(out_dir, "Consolidado.csv"), ";")
            if len(cons) != n_rows:
                fails.append(("Consolidado", "wrong_output",
                              f"{len(cons)} rows, expected {n_rows}"))
    except Exception as e:  # a missing or unreadable output is a failure
        fails.append(("ResumoMetas", type(e).__name__, str(e)[:400]))
    return fails


def check_pairs(input_dir, check_dir):
    """{query: failure or None} for every query dumped under check_dir."""
    import json

    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(input_dir, t + '.parquet')}/*.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)

        def cell(v):
            if isinstance(v, float):
                return None if math.isnan(v) else float(v)
            if hasattr(v, "tolist"):
                return tuple(v.tolist())
            return v
        return df.map(cell)

    def row_hash(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if df.shape[1]:
            df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return pd.util.hash_pandas_object(df, index=True).sum()

    results, rows = {}, {}
    for qdir in sorted(glob.glob(os.path.join(check_dir, "*"))):
        if not os.path.isdir(qdir):
            continue
        name = os.path.basename(qdir)
        try:
            got = pd.read_parquet(qdir)
            rows[name] = len(got)
            if name not in oracles:
                row_hash(got)  # rows-only: must still be hashable
                results[name] = None
                continue
            exp = con.execute(oracles[name]).fetchdf()
            g, e = norm(got), norm(exp)
            if list(g.columns) != list(e.columns):
                raise AssertionError(f"columns {list(g.columns)} vs {list(e.columns)}")
            if len(g) != len(e):
                raise AssertionError(f"rows {len(g)} vs {len(e)}")
            pd.testing.assert_frame_equal(g.reset_index(drop=True),
                                          e.reset_index(drop=True),
                                          check_dtype=False, check_exact=True)
            if row_hash(got) != row_hash(exp):
                raise AssertionError("row hash mismatch")
            results[name] = None
        except Exception as err:
            msg = str(err).strip().splitlines()
            results[name] = (type(err).__name__, (msg[0] if msg else "")[:400])
    return results, rows
