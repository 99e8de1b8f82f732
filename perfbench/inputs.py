"""Seeded input generators for the three benchmark workloads.

Everything here is plain Python + NumPy + PyArrow: no Spark, no JVM. The
same (workload, seed, size) always produces byte-identical files, and the
generated inputs are the only thing the measured program receives.

* ``courts_skewed``: the reference corpus shape (87 courts, branch mix and
  525x size spread of ``scripts/bench_metas_corpus.py``, imported, not
  copied), scaled to a fixed total byte count, plus the three dirty files
  the reference skips (empty, header-only, no identity column).
* ``courts_many_files``: many tiny court files spread over 16 distinct
  header variants (column order, optional/extra columns), so header scan,
  per-bucket planning and the N-way union dominate instead of CSV parse.
* ``registry_mix``: the TPC-H-ish parquet tables the registry queries read
  (the schemas and value distributions of the fixtures in TESTDATA.md).
"""

from __future__ import annotations

import os
import random
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from scripts import bench_metas_corpus as shapes  # noqa: E402

MB = 1 << 20
IDENTITY = ["sigla_tribunal", "ramo_justica"]
META1 = ["julgados_2025", "casos_novos_2025", "suspensos_2025"]
META1_OPTIONAL = "dessobrestados_2025"
STJ_EXTRAS = ["julgm8", "dism8", "suspm8", "julgm10", "dism10", "suspm10"]
RAMO_OF_TEMPLATE = {
    "estadual": "Justiça Estadual",
    "trabalho": "Justiça do Trabalho",
    "eleitoral": "Justiça Eleitoral",
    "federal": "Justiça Federal",
    "militar": "Justiça Militar Estadual",
}

# Sizes of the generated inputs. "tiny" is the smoke-test size.
COURTS_SKEWED_BYTES = {"full": 36 * MB, "tiny": 0}
MANY_FILES = {"full": (240, 16), "tiny": (24, 6)}  # (files, header variants)
REGISTRY_SF = {"full": 0.02, "tiny": 0.001}


def _header(template: str, stj: bool = False) -> list[str]:
    """Court CSV header for one of the five branch templates, in the shape
    ``scripts/bench_metas_corpus.py`` writes."""
    cols = IDENTITY + META1 + [META1_OPTIONAL]
    for k in shapes.TRIPLE_KEYS[template]:
        cols += [f"julgm{k}", f"distm{k}", f"suspm{k}"]
    if stj:
        cols += STJ_EXTRAS
    return cols


def _render_rows(
    rng: random.Random, sigla: str, ramo: str, header: list[str], n: int
) -> list[str]:
    rows = []
    for _ in range(n):
        vals = []
        for col in header:
            if col == "sigla_tribunal":
                vals.append(sigla)
            elif col == "ramo_justica":
                vals.append(ramo)
            elif col.startswith("obs_"):
                vals.append(f"nota{rng.randint(0, 99)}")
            else:
                vals.append(str(rng.randint(0, 500)))
        rows.append(",".join(vals))
    return rows


def _write_court(
    path: str,
    header: list[str],
    rows: list[str],
    target_bytes: int,
    min_rows: int = 1,
) -> None:
    """Write ``header`` then cycle ``rows`` until ``target_bytes`` and
    ``min_rows`` are both reached."""
    out = [",".join(header)]
    size = len(out[0].encode()) + 1
    n = 0
    while n < min_rows or size < target_bytes:
        line = rows[n % len(rows)]
        out.append(line)
        size += len(line.encode()) + 1
        n += 1
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("\n".join(out) + "\n")


def _write_dirty_files(dir_: str) -> None:
    """The three file kinds the reference skips (Versao_Np.py:157-159)."""
    open(os.path.join(dir_, "teste_vazio.csv"), "w").close()
    with open(os.path.join(dir_, "teste_so_header.csv"), "w", encoding="utf-8") as fh:
        fh.write(",".join(_header("militar")) + "\n")
    with open(os.path.join(dir_, "teste_sem_identidade.csv"), "w", encoding="utf-8") as fh:
        fh.write("ramo_justica,julgados_2025,casos_novos_2025,suspensos_2025\n")
        fh.write("Justiça Estadual,10,20,1\n")


def courts_skewed(dir_: str, seed: int, size: str) -> None:
    if size == "tiny":
        src = os.path.join(ROOT, "tests", "data", "metas_corpus")
        for name in sorted(os.listdir(src)):
            shutil.copyfile(os.path.join(src, name), os.path.join(dir_, name))
        return
    rng = random.Random(seed)
    courts = shapes._courts()
    scale = COURTS_SKEWED_BYTES[size] / sum(c[3] for c in courts)
    for sigla, ramo, template, nbytes in courts:
        header = _header(template, stj=sigla == "STJ")
        rows = _render_rows(rng, sigla, ramo, header, 64)
        _write_court(
            os.path.join(dir_, f"teste_{sigla}.csv"), header, rows, int(nbytes * scale)
        )
    _write_dirty_files(dir_)


def _header_variants(rng: random.Random, count: int) -> list[tuple[str, list[str]]]:
    """``count`` distinct (template, header) pairs: the five templates with
    the optional Meta-1 column dropped or kept, meta blocks rotated,
    free-text extra columns appended, and the STJ extras on some."""
    seen: set[tuple[str, ...]] = set()
    out: list[tuple[str, list[str]]] = []
    templates = sorted(shapes.TRIPLE_KEYS)
    while len(out) < count:
        template = templates[len(out) % len(templates)]
        keys = list(shapes.TRIPLE_KEYS[template])
        rot = rng.randrange(len(keys))
        keys = keys[rot:] + keys[:rot]
        cols = IDENTITY + META1
        if rng.random() < 0.7:
            cols = cols + [META1_OPTIONAL]
        for k in keys:
            cols += [f"julgm{k}", f"distm{k}", f"suspm{k}"]
        if template == "estadual" and rng.random() < 0.3:
            cols += STJ_EXTRAS
        cols += [f"obs_{i}" for i in range(rng.randrange(3))]
        if rng.random() < 0.5:
            # identity columns need not come first
            cols = cols[2:4] + cols[:2] + cols[4:]
        if tuple(cols) not in seen:
            seen.add(tuple(cols))
            out.append((template, cols))
    return out


def courts_many_files(dir_: str, seed: int, size: str) -> None:
    rng = random.Random(seed)
    n_files, n_headers = MANY_FILES[size]
    variants = _header_variants(rng, n_headers)
    # 4..40 rows per file; the seed shuffles them, the total stays fixed
    row_counts = [4 + i % 37 for i in range(n_files)]
    rng.shuffle(row_counts)
    for i, n_rows in enumerate(row_counts):
        template, header = variants[i % n_headers]
        sigla = f"C{i:05d}"
        rows = _render_rows(rng, sigla, RAMO_OF_TEMPLATE[template], header, n_rows)
        path = os.path.join(dir_, f"teste_{sigla}.csv")
        _write_court(path, header, rows, 0, min_rows=len(rows))
    _write_dirty_files(dir_)


# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(dir_: str, seed: int, size: str) -> None:
    """All ten fixture tables at ``REGISTRY_SF[size]``; the mix reads eight,
    but the DuckDB oracle binds a view to every one."""
    sf = REGISTRY_SF[size]
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    d1995 = 9131  # 1995-01-01 in days since epoch
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": rng.choice(["large ring", "hot bolt", "blue ring", "red gear"], n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(d1995 + rng.integers(0, 2404, n_ord)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(d1995 + 1 + rng.integers(0, 2498, n_line)),
        }),
    }
    # January 2024 (day 19723 since the epoch), in microseconds
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)) + 19723 * 86_400_000_000
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Seed-independent cost shape: every 20th document near-duplicates an
    # earlier one, and the others have a fixed multiset of lengths.
    lengths = rng.permutation(np.arange(n_doc) % 91 + 10)
    texts: list[str] = []
    for i in range(n_doc):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "zh", "es", "fr", "de"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(dir_, f"{name}.parquet"))


GENERATORS = {
    "courts_skewed": courts_skewed,
    "courts_many_files": courts_many_files,
    "registry_mix": registry_tables,
}


def generate(workload: str, dir_: str, seed: int, size: str) -> None:
    """(Re)create ``dir_`` holding the inputs of ``workload`` for ``seed``."""
    shutil.rmtree(dir_, ignore_errors=True)
    os.makedirs(dir_)
    GENERATORS[workload](dir_, seed, size)
