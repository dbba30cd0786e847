"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (seed, size), so the same seed gives
the same bytes. The program under test never sees the generator: it only
reads the files written here.

  cnj_corpus    per-court CNJ CSV files in the paper's shape (one court
                per file, per-file column drift in set and order, blanks,
                junk tokens, literal NaN, malformed rows, every factor
                branch including the 'Tribunais Superiores' and
                'Justiça Eleitoral' remaps). Returns the per-court sums
                and non-null counts the files hold, which check.py turns
                into the expected ResumoMetas.
  pairs_corpus  documents + embeddings parquet dirs in the generative
                model of graft.GenScaledCorpus (Zipf vocabulary growing
                with the corpus, 5% planted near-copies, 1/333 exact
                copies, unit vectors with planted perturbed copies, one
                label per ~200 vectors), non-replicated.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The CNJ column universe (graft.cnj.CnjSchema).
KEY_COLS = ["sigla_tribunal", "ramo_justica"]
META1_COLS = ["julgados_2025", "casos_novos_2025", "suspensos_2025",
              "dessobrestados_2025"]
META_SPECS = [  # (name, julgados, distribuidos, suspensos, factor key)
    ("meta2a", "julgm2_a", "distm2_a", "suspm2_a", "2a"),
    ("meta2b", "julgm2_b", "distm2_b", "suspm2_b", "2b"),
    ("meta2c", "julgm2_c", "distm2_c", "suspm2_c", "2c"),
    ("meta2ant", "julgm2_ant", "distm2_ant", "suspm2_ant", "2ant"),
    ("meta4a", "julgm4_a", "distm4_a", "suspm4_a", "4a"),
    ("meta4b", "julgm4_b", "distm4_b", "suspm4_b", "4b"),
    ("meta6", "julgm6_a", "distm6_a", "suspm6_a", "6"),
    ("meta7a", "julgm7_a", "distm7_a", "suspm7_a", "7a"),
    ("meta7b", "julgm7_b", "distm7_b", "suspm7_b", "7b"),
    ("meta8a", "julgm8_a", "distm8_a", "suspm8_a", "8a"),
    ("meta8b", "julgm8_b", "distm8_b", "suspm8_b", "8b"),
    ("meta10a", "julgm10_a", "distm10_a", "suspm10_a", "10a"),
    ("meta10b", "julgm10_b", "distm10_b", "suspm10_b", "10b"),
]
STJ_SPECS = [
    ("meta8_stj", "julgm8", "dism8", "suspm8", "8"),
    ("meta10_stj", "julgm10", "dism10", "suspm10", "10"),
]
NUMERIC_COLS = META1_COLS + [c for s in META_SPECS + STJ_SPECS for c in s[1:4]]


def _courts():
    """90 courts as (sigla, ramo) covering every factor branch, two of
    them only through the branch remap."""
    c = [(f"TJ{i:02d}", "Justiça Estadual") for i in range(1, 28)]
    c += [(f"TRT{i:02d}", "Justiça do Trabalho") for i in range(1, 25)]
    c += [(f"TRF{i}", "Justiça Federal") for i in range(1, 7)]
    c += [(f"TRE-{i:02d}", "Justiça Eleitoral") for i in range(1, 27)]
    c += [("STM", "Justiça Militar da União")]
    c += [(s, "Justiça Militar Estadual") for s in ("TJMMG", "TJMRS", "TJMSP")]
    c += [("TST", "Tribunais Superiores"), ("STJ", "Tribunais Superiores")]
    c += [("TSE", "Tribunal Superior Eleitoral")]
    assert len(c) == 90
    return c


def cnj_corpus(out_dir, seed, total_mb, n_files=90):
    """Write `n_files` court CSVs totalling ~`total_mb` MB into `out_dir`.

    Returns {(sigla, ramo): {col: (sum, count)}} over the rows the
    reader keeps (well-formed rows; blanks, junk and NaN are nulls), plus
    the number of kept rows under "__rows__".
    Values are whole numbers, so float64 sums are exact in any order.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7001])
    courts = _courts()[:n_files] if n_files <= 90 else _courts()
    # skewed file sizes, like the reference corpus (largest ~13% of it)
    weights = rng.lognormal(0.0, 0.8, len(courts))
    weights /= weights.sum()
    nums = np.array([str(i) for i in range(2000)], dtype=object)
    expected = {}
    for (sigla, ramo), w in zip(courts, weights):
        cols = [c for c in NUMERIC_COLS if rng.random() < 0.7]
        cols = KEY_COLS + cols
        order = rng.permutation(len(cols))
        cols = [cols[i] for i in order]
        n_rows = max(2, int(w * total_mb * 1024 * 1024 / (4.2 * len(cols) + 30)))
        vals = rng.integers(0, 2000, size=(n_rows, len(cols)))
        kind = rng.random(size=(n_rows, len(cols)))
        cells = nums[vals]
        blank = kind < 0.08
        junk = (kind >= 0.08) & (kind < 0.10)
        nan = (kind >= 0.10) & (kind < 0.105)
        cells[blank] = ""
        cells[junk] = "x"
        cells[nan] = "NaN"
        valid = ~(blank | junk | nan)
        ki = [cols.index(k) for k in KEY_COLS]
        cells[:, ki[0]] = sigla
        cells[:, ki[1]] = ramo
        # malformed rows (wrong token count) are skipped by the reader
        bad = rng.random(n_rows) < 0.002
        agg = expected.setdefault((sigla, ramo), {})
        keep = ~bad
        agg["__rows__"] = agg.get("__rows__", 0) + int(keep.sum())
        for j, c in enumerate(cols):
            if c in KEY_COLS:
                continue
            m = valid[:, j] & keep
            s, n = agg.get(c, (0.0, 0))
            agg[c] = (s + float(vals[m, j].sum()), n + int(m.sum()))
        lines = [",".join(r) for r in cells.tolist()]
        for i in np.flatnonzero(bad):
            lines[i] += ",1"
        path = os.path.join(out_dir, f"court_{sigla}.csv")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(",".join(cols) + "\n")
            f.write("\n".join(lines))
            f.write("\n")
    return expected


def _zipf_rank(rnd, v):
    return min(v, max(1, int(np.exp(rnd.random() * np.log(v)))))


def pairs_corpus(out_dir, seed, docs, vecs, parts=8):
    """Write documents.parquet/ and embeddings.parquet/ (each `parts`
    part files) with `docs` documents and `vecs` vectors."""
    vocab = max(1, docs * 4 // 5)  # 4000 words per 5000 documents
    n_labels = max(1, vecs // 200)  # blocks of ~200 vectors
    dim = 64

    def is_exact(i):
        return i % 333 == 332 and not (((i - 1) % 20 == 19) or ((i - 1) % 333 == 332))

    def is_near(i):
        return i % 20 == 19 and (i - 1) % 333 != 332

    def base_tokens(i):
        rnd = random.Random(f"{seed}:doc:{i}")
        k = 10 + rnd.randrange(91)
        return [f"w{_zipf_rank(rnd, vocab)}" if rnd.random() < 0.4 else f"u{i}x{j}"
                for j in range(k)]

    def text(i):
        if is_exact(i):
            return " ".join(base_tokens(i - 1))
        if is_near(i):
            rnd = random.Random(f"{seed}:mut:{i}")
            return " ".join(f"m{i}x{j}" if rnd.random() < 0.1 else t
                            for j, t in enumerate(base_tokens(i - 1)))
        return " ".join(base_tokens(i))

    langs = ["zh", "es", "fr", "de"]
    rows = []
    for i in range(docs):
        rnd = random.Random(f"{seed}:meta:{i}")
        t = text(i)
        lang = "en" if rnd.random() < 0.41 else langs[rnd.randrange(4)]
        rows.append((i, t, lang, f"src{rnd.randrange(20)}", len(t)))

    rng = np.random.default_rng([seed, 7002])
    base = rng.standard_normal((vecs, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    emb = base.copy()
    noise = rng.standard_normal((vecs, dim))
    for i in range(1, vecs):
        if is_exact(i):
            emb[i] = base[i - 1]
        elif is_near(i):
            v = base[i - 1] + 0.1 * noise[i]
            emb[i] = v / np.linalg.norm(v)
    labels = rng.integers(0, n_labels, vecs).astype(np.int32)
    emb = emb.astype(np.float32)

    def write(name, table):
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        n = table.num_rows
        for p in range(parts):
            lo, hi = n * p // parts, n * (p + 1) // parts
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(d, f"part-{p:05d}.parquet"))

    write("documents", pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([r[4] for r in rows], pa.int64()),
    }))
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }))
