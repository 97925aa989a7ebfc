"""Seeded input generator for the benchmark.

Everything the program reads during a benchmark run comes from here, made
from the workload seed alone: the same seed writes byte-identical files, a
different seed writes different ones.

- ``write_tables``: a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the relational, temporal and
  LLM-data queries read. Rows are written in a seeded order and split over
  several parquet files per table (``<name>.parquet/part-NNN.parquet``).
  Documents carry seeded near-duplicate families so the dedup operators
  have true pairs to find; embeddings are seeded Gaussian clusters, and
  which vectors are the query set (``vec_id < 10``) is seeded too.
- ``CsvBatches``: the daily pt-BR CSV batches of the bronze pipeline —
  UTF-8 BOM, ``;`` separator, quoted fields holding commas, ``1.234,56``
  thousands and decimals, about 1 % unparseable numerics, and a seeded
  share of keys re-sent from earlier batches (the upsert input).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark row column table query scan join hash sort merge "
    "filter group agg window stream batch key value line order part customer "
    "vector fast slow big small"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "cold", "blue", "red", "tiny", "steel", "brass")
PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64
FILES_PER_TABLE = 3


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(out_dir: str, name: str, table: pa.Table, rng: np.random.Generator) -> None:
    """Shuffle the rows and split them over FILES_PER_TABLE parquet files."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, FILES_PER_TABLE + 1).astype(int)
    for i in range(FILES_PER_TABLE):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(d, f"part-{i:03d}.parquet"))


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]")


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-vocabulary documents; about a third belong to near-duplicate
    families (a base document with a few tokens edited per member) and a
    few are exact copies, so dedup output is never empty."""
    texts: list[str] = []
    while len(texts) < n:
        toks = list(rng.choice(VOCAB, size=int(rng.integers(12, 90))))
        texts.append(" ".join(toks))
        if rng.random() < 0.15:
            for _ in range(int(rng.integers(1, 4))):
                edited = list(toks)
                for j in rng.choice(len(edited), size=max(1, len(edited) // 12), replace=False):
                    edited[j] = str(rng.choice(VOCAB))
                texts.append(" ".join(edited))
        if rng.random() < 0.02:
            texts.append(texts[-1])
    return texts[:n]


def write_tables(out_dir: str, seed: int, *, sf: float, docs: int, vectors: int) -> dict:
    """Write every table under ``out_dir``; return row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "tables")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), i32),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    tables["customer"] = pa.table(
        {"c_custkey": pa.array(np.arange(n_cust), i64),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
         "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2), f64),
         "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust), s)})
    tables["supplier"] = pa.table(
        {"s_suppkey": pa.array(np.arange(n_supp), i64),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
         "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    tables["part"] = pa.table(
        {"p_partkey": pa.array(np.arange(n_part), i64),
         "p_name": [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, n_part), r.choice(PART_NOUN, n_part))],
         "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
         "p_type": pa.array(r.choice(PART_TYPES, n_part), s),
         "p_size": pa.array(r.integers(1, 51, n_part), i32),
         "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 2000) / 10, 2), f64)})

    # two thirds of customers place orders, as in TPC-H: the outer join keeps
    # order-less customers
    order_day = r.integers(0, 2404, n_ord)
    tables["orders"] = pa.table(
        {"o_orderkey": pa.array(np.arange(n_ord), i64),
         "o_custkey": pa.array(r.integers(0, max(1, n_cust * 2 // 3), n_ord) * 3 // 2, i64),
         "o_orderstatus": pa.array(r.choice(("F", "O", "P"), n_ord), s),
         "o_totalprice": pa.array(np.round(r.uniform(900, 500_000, n_ord), 2), f64),
         "o_orderdate": pa.array(_days("1995-01-01", order_day), pa.timestamp("us")),
         "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord), s)})

    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = r.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {"l_orderkey": pa.array(okey, i64),
         "l_partkey": pa.array(r.integers(0, n_part, n_li), i64),
         "l_suppkey": pa.array(r.integers(0, n_supp, n_li), i64),
         "l_linenumber": pa.array(lineno, i32),
         "l_quantity": pa.array(qty, f64),
         "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, n_li), 2), f64),
         "l_discount": pa.array(r.integers(0, 11, n_li) / 100, f64),
         "l_tax": pa.array(r.integers(0, 9, n_li) / 100, f64),
         "l_returnflag": pa.array(r.choice(("A", "N", "R"), n_li), s),
         "l_linestatus": pa.array(r.choice(("F", "O"), n_li), s),
         "l_shipdate": pa.array(_days("1995-01-01", order_day[okey] + r.integers(1, 122, n_li)),
                                pa.timestamp("us"))})

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table(
        {"event_id": pa.array(np.arange(n_ev), i64),
         "ts": pa.array(ts0 + np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)), pa.timestamp("us")),
         "user_id": pa.array(r.integers(0, max(1, n_ev // 66), n_ev), i64),
         "event_type": pa.array(r.choice(EVENT_TYPES, n_ev), s),
         "value": pa.array(np.round(r.uniform(0, 200, n_ev), 2), f64),
         "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)]})

    rd = _rng(seed, "documents")
    texts = _docs(rd, docs)
    tables["documents"] = pa.table(
        {"doc_id": pa.array(rd.permutation(docs), i64),
         "text": pa.array(texts, s),
         "lang": pa.array(rd.choice(LANGS, docs, p=LANG_P), s),
         "source": [f"src{i % 20}" for i in range(docs)],
         "n_chars": pa.array([len(t) for t in texts], i64)})

    rv = _rng(seed, "embeddings")
    centers = rv.normal(0, 1, (10, EMB_DIM))
    label = rv.integers(0, 10, vectors)
    emb = centers[label] + rv.normal(0, 0.9, (vectors, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {"vec_id": pa.array(rv.permutation(vectors), i64),
         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
         "label": pa.array(label, i32)})

    for name, t in tables.items():
        _write(out_dir, name, t, _rng(seed, f"order-{name}"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# bronze CSV batches
# --------------------------------------------------------------------------
UFS = ("SP", "RJ", "MG", "BA", "RS", "PR", "PE", "CE", "PA", "SC", "GO", "AM")
TOWN_A = ("Vila", "Cidade", "Porto", "Santa", "São", "Campo", "Nova", "Alto")
TOWN_B = ("Alegre", "Verde", "Bonito", "do Sul", "da Serra", "Grande", "Azul")
CSV_COLUMNS = ("Id", "Ano", "Código Município", "Município", "UF", "População", "IBC")
BRONZE_CONFIG = {
    "columns_normalization": {
        "Id": "id", "Ano": "ano", "Código Município": "codigo_municipio",
        "Município": "municipio", "UF": "uf", "População": "populacao", "IBC": "ibc",
    },
    "schema": {
        "required_columns": ["id", "ano", "codigo_municipio", "municipio", "uf", "populacao", "ibc"],
        "integer_fields": ["id", "ano", "populacao"],
        "string_fields": ["codigo_municipio", "municipio", "uf"],
        "float_fields": ["ibc"],
    },
}


def _pt_br(v: float) -> str:
    """1234.5 -> '1.234,50' (pt-BR thousands and decimal separators)."""
    return f"{v:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")


RESEND_SHARE = 0.05  # share of a batch's records that re-send an earlier id


class CsvBatches:
    """Deterministic daily batches: batch ``i`` depends only on (seed, i).

    From batch 1 on, a RESEND_SHARE of the records re-send ids first sent
    by earlier batches (with new values); all other records carry new ids.
    Batches must be made in order: ``next_id`` counts the distinct ids sent
    so far.
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.next_id = 0

    def make(self, i: int, rows: int) -> tuple[bytes, np.ndarray]:
        """CSV bytes of batch ``i`` with ``rows`` records, and the array of
        its re-sent ids."""
        r = _rng(self.seed, f"csv-{i}")
        n_resend = min(int(rows * RESEND_SHARE), self.next_id)
        fresh = np.arange(self.next_id, self.next_id + rows - n_resend)
        resent = np.sort(r.choice(self.next_id, size=n_resend, replace=False)) if n_resend else fresh[:0]
        self.next_id += len(fresh)
        ids = np.concatenate([fresh, resent])
        ano = r.integers(2015, 2025, rows)
        town = r.integers(0, 5000, rows)
        uf = r.choice(UFS, rows)
        pop = r.integers(800, 2_000_000, rows)
        ibc = r.uniform(0, 99_999, rows)
        bad = r.random(rows) < 0.01
        out = ["\ufeff" + ";".join(CSV_COLUMNS)]  # UTF-8 BOM
        for k in range(rows):
            t = int(town[k])
            name = f"{TOWN_A[t % 8]} {TOWN_B[t % 7]}"
            if t % 3 == 0:
                name = f'"{name}, {uf[k]}"'  # quoted field holding a comma
            num = "n/d" if bad[k] else _pt_br(float(ibc[k]))
            out.append(f"{ids[k]};{ano[k]};{t:07d};{name};{uf[k]};{pop[k]};{num}")
        return ("\n".join(out) + "\n").encode("utf-8"), resent
