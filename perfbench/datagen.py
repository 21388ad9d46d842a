"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- ``write_tables``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads, as one
  Parquet file per table in the layout ``duva_spark.catalog.table_path``
  expects. Row counts scale with ``sf`` like the reference tables (sf0.1:
  600k lineitem rows, 100k events, 5k documents, 2k embeddings).
- ``form_export``: an XLSForm-style CSV export (group-prefixed columns, a
  space-delimited select-multiple, ``n/a`` and empty-string nulls) plus
  the facts a correct full-refresh commit of it must show after shaping.

Everything is vectorised numpy/pyarrow so that generation stays a small,
fixed share of a run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform fixed-decimal amounts with two places, as exact cents / 100."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary, 10-100 words
    each; 5% are near-duplicates of an earlier document (its text plus a
    trailing ``dup``), which the dedup queries are there to find."""
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors in 10 loose clusters (label = cluster)."""
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vec = rng.normal(size=(n, dim)) + 0.6 * centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": label,
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    part_key = np.arange(n_part, dtype=np.int64)
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * _DAY_US, n_ev)
    )
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part_key,
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _choice(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": (90_000 + (part_key % 1000) * 10) / 100.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _choice(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ev_ts, pa.timestamp("us")),
                "user_id": rng.integers(0, 1500, n_ev),
                "event_type": _choice(rng, EVENT_TYPES, n_ev),
                "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 600.0),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write every table to ``out_dir/<name>.parquet``; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows


# --------------------------------------------------------------------------
# form export

SELECT_QUESTION = "services_used"
CHOICES = ["water", "health", "edu", "food", "shelter"]
DISTRICTS = ["central", "east", "north", "south", "west", "lakeside", "hills"]
#: question name (after group flattening) -> label, as the form metadata
#: carries it; include_labels_only renames these columns.
LABELS = {
    "name": "Respondent name",
    "age": "How old are you?",
    "income": "Household income",
    "size": "Household size",
    "consented": "Consent given",
    "district": "District",
}


@dataclass(frozen=True)
class FormExport:
    csv: bytes
    rows: int
    #: column set of the shaped commit, in no particular order
    columns: frozenset[str]
    #: shaped column name -> number of NULL cells the commit must hold
    null_counts: dict[str, int]
    #: shaped select-multiple flag column -> number of rows flagged 1
    flag_counts: dict[str, int]


def shaped_name(flat: str) -> str:
    return LABELS.get(flat, flat)


def form_export(rows: int, seed: int) -> FormExport:
    """A 10-column export of ``rows`` submissions (about 94 bytes a row).

    Columns: ``_id``, ``respondent/name``, ``respondent/age``,
    ``household/income``, ``household/size``, ``consented``,
    ``services_used`` (select-multiple), ``location/district``,
    ``visit_date``, ``_submission_time``. Nulls are written both as
    ``n/a`` and as empty fields; a row that picked no choice leaves the
    select-multiple empty.
    """
    rng = np.random.default_rng([seed, 2])
    n = rows

    def text(values: np.ndarray) -> pa.Array:
        return pc.cast(pa.array(values), pa.string())

    def with_nulls(values: pa.Array, rate: float) -> tuple[pa.Array, int]:
        """Blank out ``rate`` of the cells, half as ``n/a``, half empty."""
        u = rng.random(n)
        out = pc.if_else(pa.array(u < rate / 2), "n/a", values)
        out = pc.if_else(pa.array((u >= rate / 2) & (u < rate)), "", out)
        return out, int((u < rate).sum())

    age, age_nulls = with_nulls(text(rng.integers(15, 95, n)), 0.04)
    cents = rng.integers(0, 25_000_000, n)
    income, income_nulls = with_nulls(
        pc.binary_join_element_wise(
            text(cents // 100), pc.utf8_lpad(text(cents % 100), 2, "0"), "."
        ),
        0.08,
    )
    district, district_nulls = with_nulls(_choice(rng, DISTRICTS, n), 0.03)

    picks = rng.random((n, len(CHOICES))) < np.array([0.5, 0.35, 0.3, 0.2, 0.1])
    mask = picks @ (1 << np.arange(len(CHOICES)))
    subsets = [
        " ".join(c for i, c in enumerate(CHOICES) if m >> i & 1) or None
        for m in range(1 << len(CHOICES))
    ]
    chosen = pa.DictionaryArray.from_arrays(
        pa.array(mask, pa.int32()), pa.array(subsets, pa.string())
    ).cast(pa.string())
    sm_nulls = int((mask == 0).sum())

    day = rng.integers(0, 365, n)
    start_s = np.datetime64("2023-01-01T00:00:00", "s").astype(np.int64)
    visit = pa.array(start_s + day * 86_400, pa.timestamp("s"))
    submitted = pa.array(
        start_s + day * 86_400 + rng.integers(0, 86_400, n), pa.timestamp("s")
    )
    ids = np.arange(1, n + 1, dtype=np.int64)

    table = pa.table(
        {
            "_id": ids,
            "respondent/name": pc.binary_join_element_wise(
                "resp", pc.utf8_lpad(text(ids), 7, "0"), " "
            ),
            "respondent/age": age,
            "household/income": income,
            "household/size": rng.integers(1, 13, n),
            "consented": pa.array(np.where(rng.random(n) < 0.9, "yes", "no")),
            SELECT_QUESTION: chosen,
            "location/district": district,
            "visit_date": text(pc.cast(visit, pa.date32())),
            "_submission_time": pc.binary_join_element_wise(
                pc.replace_substring(text(submitted), " ", "T"), "000+03:00", "."
            ),
        }
    )
    sink = pa.BufferOutputStream()
    pacsv.write_csv(table, sink, pacsv.WriteOptions(quoting_style="none"))
    flat = ["_id", "name", "age", "income", "size", "consented", SELECT_QUESTION,
            "district", "visit_date", "_submission_time"] + CHOICES
    return FormExport(
        csv=sink.getvalue().to_pybytes(),
        rows=n,
        columns=frozenset(shaped_name(c) for c in flat),
        null_counts={
            shaped_name("age"): age_nulls,
            shaped_name("income"): income_nulls,
            shaped_name("district"): district_nulls,
            SELECT_QUESTION: sm_nulls,
        },
        flag_counts={c: int(picks[:, i].sum()) for i, c in enumerate(CHOICES)},
    )


def header_only_export(export: FormExport) -> bytes:
    """The same export with every data row removed."""
    return export.csv.split(b"\n", 1)[0] + b"\n"
