"""Seeded input generation and the numpy oracle the output checks compare to.

Everything here is pure numpy/pyarrow: no Spark session is needed, the same
seed writes byte-identical parquet files, and the expected rule outcomes are
computed from the generated arrays by an implementation independent of the
library under test.

Tables:

- ``lineitem``: TPC-H-shaped line items (the testdata schema plus an
  ``l_rowid`` row identity), with a seeded few-percent of faulted rows, one
  disjoint row set per fault kind (see ``FAULTS``).
- ``orders``: the order keys ``lineitem`` references; orphan line items point
  past its last key.
- ``documents``: a 30-word-vocabulary corpus (the testdata shape) plus seeded
  NULL texts, exact copies and near copies (one word replaced by a per-copy
  salt token), so the curation pipeline's ``null_text``, ``exact_dup`` and
  ``near_dup`` counts are known in advance.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Freshness reference instant (2000-01-01T00:00:00Z) and bound: every clean
#: ship date (1992-01-01 + up to 2400 days) is fresh, the ``stale`` fault
#: (1980-01-01) is not.
NOW_EPOCH = 946684800
MAX_AGE_DAYS = 3000.0
_SHIP_BASE = np.datetime64("1992-01-01", "us")
_STALE_DATE = np.datetime64("1980-01-01", "us")

#: Fault kinds injected into ``lineitem``; each takes ``FAULT_RATE`` of rows.
FAULTS = (
    "null_quantity",
    "null_price",
    "null_flag",
    "quantity_range",
    "discount_range",
    "bad_flag",
    "dup_key",
    "orphan",
    "stale",
)
FAULT_RATE = 0.004

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per table; any integer seed is accepted."""
    return np.random.default_rng([seed % 2**32, stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def dir_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    sorted path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
    )


# -- lineitem / orders ------------------------------------------------------


@dataclass
class LineitemData:
    """Generated columns plus NULL masks, as numpy arrays."""

    n_orders: int
    cols: dict[str, np.ndarray]
    nulls: dict[str, np.ndarray] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return len(self.cols["l_rowid"])

    def slice(self, lo: int, hi: int) -> "LineitemData":
        return LineitemData(
            self.n_orders,
            {k: v[lo:hi] for k, v in self.cols.items()},
            {k: v[lo:hi] for k, v in self.nulls.items()},
        )

    def to_arrow(self) -> pa.Table:
        c, m = self.cols, self.nulls
        return pa.table(
            {
                "l_orderkey": pa.array(c["l_orderkey"], pa.int64()),
                "l_partkey": pa.array(c["l_partkey"], pa.int64()),
                "l_suppkey": pa.array(c["l_suppkey"], pa.int64()),
                "l_linenumber": pa.array(c["l_linenumber"], pa.int32()),
                "l_quantity": pa.array(
                    c["l_quantity"], pa.float64(), mask=m["l_quantity"]
                ),
                "l_extendedprice": pa.array(
                    c["l_extendedprice"], pa.float64(), mask=m["l_extendedprice"]
                ),
                "l_discount": pa.array(c["l_discount"], pa.float64()),
                "l_tax": pa.array(c["l_tax"], pa.float64()),
                "l_returnflag": pa.array(
                    c["l_returnflag"], pa.string(), mask=m["l_returnflag"]
                ),
                "l_linestatus": pa.array(c["l_linestatus"], pa.string()),
                "l_shipdate": pa.array(c["l_shipdate"], pa.timestamp("us")),
                "l_rowid": pa.array(c["l_rowid"], pa.int64()),
            }
        )


def make_lineitem(seed: int, n_orders: int) -> LineitemData:
    """Clean TPC-H-shaped line items for ``n_orders`` orders (1-7 lines
    each), then one disjoint seeded row set per fault kind."""
    rng = _rng(seed, 1)
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    cols = {
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)].astype(object),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)].astype(object),
        "l_shipdate": _SHIP_BASE
        + rng.integers(0, 2400, n).astype("timedelta64[D]").astype("timedelta64[us]"),
        "l_rowid": np.arange(n, dtype=np.int64),
    }
    nulls = {c: np.zeros(n, bool) for c in ("l_quantity", "l_extendedprice", "l_returnflag")}

    k = max(1, int(n * FAULT_RATE))
    perm = rng.permutation(n)
    picked = {f: perm[i * k:(i + 1) * k] for i, f in enumerate(FAULTS)}
    # rows whose key a dup_key row copies: clean, and not faulted otherwise
    dup_sources = perm[len(FAULTS) * k:(len(FAULTS) + 1) * k]

    nulls["l_quantity"][picked["null_quantity"]] = True
    nulls["l_extendedprice"][picked["null_price"]] = True
    nulls["l_returnflag"][picked["null_flag"]] = True
    cols["l_quantity"][picked["quantity_range"]] = rng.choice([0.0, 75.0], k)
    cols["l_discount"][picked["discount_range"]] = 0.5
    cols["l_returnflag"][picked["bad_flag"]] = "X"
    d = picked["dup_key"]
    cols["l_orderkey"][d] = cols["l_orderkey"][dup_sources]
    cols["l_linenumber"][d] = cols["l_linenumber"][dup_sources]
    cols["l_orderkey"][picked["orphan"]] = n_orders + np.arange(k)
    cols["l_shipdate"][picked["stale"]] = _STALE_DATE
    return LineitemData(n_orders, cols, nulls)


def orders_table(seed: int, n_orders: int) -> pa.Table:
    rng = _rng(seed, 2)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15000, n_orders)),
            "o_orderstatus": pa.array(
                np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)].astype(object)
            ),
            "o_totalprice": pa.array(np.round(rng.uniform(800.0, 500000.0, n_orders), 2)),
            "o_orderdate": pa.array(
                _SHIP_BASE
                + rng.integers(0, 2400, n_orders)
                .astype("timedelta64[D]")
                .astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)
                ].astype(object)
            ),
        }
    )


def write_lineitem_tables(
    root: str, seed: int, n_orders: int, *, parts: int, batch_rows: int = 0
) -> LineitemData:
    """Write ``lineitem.parquet/`` (``parts`` files), ``orders.parquet/`` and,
    when ``batch_rows`` is set, ``batches/bNNNN.parquet`` (consecutive
    ``batch_rows``-row slices; a shorter remainder is left out). Returns the
    generated data."""
    data = make_lineitem(seed, n_orders)
    table = data.to_arrow()
    os.makedirs(f"{root}/lineitem.parquet")
    os.makedirs(f"{root}/orders.parquet")
    bounds = np.linspace(0, data.rows, parts + 1).astype(int)
    for i in range(parts):
        _write(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            f"{root}/lineitem.parquet/part-{i:04d}.parquet",
        )
    _write(orders_table(seed, n_orders), f"{root}/orders.parquet/part-0000.parquet")
    if batch_rows:
        os.makedirs(f"{root}/batches")
        for b, lo in enumerate(range(0, data.rows - batch_rows + 1, batch_rows)):
            _write(
                table.slice(lo, batch_rows), f"{root}/batches/b{b:04d}.parquet"
            )
    return data


def expected_rule_outcomes(data: LineitemData) -> dict:
    """What the benchmark's rule set must report on ``data``, computed
    straight from the arrays: the invalid row count and every metric row's
    value keyed by ``(metric_name, column)``."""
    c, m = data.cols, data.nulls
    n = data.rows
    q, disc, flag = c["l_quantity"], c["l_discount"], c["l_returnflag"]
    keys = c["l_orderkey"] * 8 + c["l_linenumber"]
    _, inverse, counts = np.unique(keys, return_inverse=True, return_counts=True)
    ok = {
        "completeness": ~(m["l_quantity"] | m["l_extendedprice"] | m["l_returnflag"]),
        "qty": ~m["l_quantity"] & (q >= 1) & (q <= 50),
        "disc": (disc >= 0) & (disc <= 0.10),
        "flag": ~m["l_returnflag"] & np.isin(flag, ["A", "N", "R"]),
        "unique": counts[inverse] == 1,
        "fk": c["l_orderkey"] < data.n_orders,
        "fresh": c["l_shipdate"].astype(np.int64) / 1e6
        >= NOW_EPOCH - MAX_AGE_DAYS * 86400,
    }
    max_ship = int(c["l_shipdate"].astype(np.int64).max() // 1_000_000)
    metrics = {
        ("completeness_col_ratio", col): float((~m[col]).sum()) / n
        for col in ("l_quantity", "l_extendedprice", "l_returnflag")
    }
    metrics.update(
        {
            ("validity_range", "l_quantity"): float(ok["qty"].sum()) / n,
            ("validity_range", "l_discount"): float(ok["disc"].sum()) / n,
            ("validity_set", "l_returnflag"): float(ok["flag"].sum()) / n,
            ("unique_ratio", "l_orderkey,l_linenumber"): float(len(counts)) / n,
            ("referential_integrity", "l_orderkey"): float(ok["fk"].sum()) / n,
            ("freshness_age", "l_shipdate"): (NOW_EPOCH - max_ship) / 86400.0,
        }
    )
    valid = np.logical_and.reduce(list(ok.values()))
    return {
        "rows": n,
        "invalid": int(n - valid.sum()),
        "invalid_rowids": set(c["l_rowid"][~valid].tolist()),
        "metrics": metrics,
    }


# -- documents ----------------------------------------------------------------


@dataclass
class CorpusExpectation:
    rows: int
    null_text: int
    exact_dup: int
    near_dup: int


def documents_table(
    seed: int, n_base: int, *, null_rate=0.01, exact_rate=0.1, near_rate=0.1
) -> tuple[pa.Table, CorpusExpectation]:
    """``n_base`` distinct random documents, then NULL texts, exact copies
    and near copies of disjoint base documents, appended with larger ids (so
    the base is always the min-id survivor). Near copies replace one word of
    a base of at least 60 words with a salt token: word-3-shingle Jaccard
    >= 55/61 > 0.8, far above any pair of independent random documents."""
    rng = _rng(seed, 3)
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    seen: set[str] = set()
    lengths: list[int] = []
    while len(texts) < n_base:
        n_words = int(rng.integers(10, 101))
        t = " ".join(vocab[rng.integers(0, len(vocab), n_words)])
        if t not in seen:
            seen.add(t)
            texts.append(t)
            lengths.append(n_words)
    n_null = int(n_base * null_rate)
    n_exact = int(n_base * exact_rate)
    n_near = int(n_base * near_rate)
    long_ids = np.flatnonzero(np.array(lengths) >= 60)
    near_src = rng.choice(long_ids, n_near, replace=False)
    rest = np.setdiff1d(np.arange(n_base), near_src)
    exact_src = rng.choice(rest, n_exact, replace=False)
    out: list[str | None] = list(texts)
    out += [None] * n_null
    out += [texts[i] for i in exact_src]
    for j, i in enumerate(near_src):
        words = texts[i].split()
        pos = int(rng.integers(3, len(words) - 3))
        words[pos] = f"salt{seed}x{j}"
        out.append(" ".join(words))
    n = len(out)
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(out, pa.string()),
            "lang": pa.array(langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([0 if t is None else len(t) for t in out], pa.int64()),
        }
    )
    return table, CorpusExpectation(n, n_null, n_exact, n_near)


def write_documents(root: str, seed: int, n_base: int, *, parts: int) -> CorpusExpectation:
    table, expect = documents_table(seed, n_base)
    os.makedirs(f"{root}/documents.parquet")
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        _write(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            f"{root}/documents.parquet/part-{i:04d}.parquet",
        )
    return expect


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
