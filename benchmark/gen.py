"""Seeded input generators for the benchmark workloads.

Everything the engine sees is produced here from ``--seed``: the same
seed and scale give the same bytes.  The generators know nothing about
the engine; they write plain CSV and Parquet files and, for ``ingest``,
model the warehouse table the CDC stream should leave behind so the
benchmark can check the engine's answer.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------
# analytics: TPC-H-shaped star schema (the shape of the engine's
# registry inputs: same tables, columns, value domains)
# --------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days


def _ts_us(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n, dtype=np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    """Two-decimal doubles (exact cents), the domain the engine's
    scaled-integer aggregation assumes."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped tables at scale factor ``sf`` (lineitem
    has 6M x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = max(int(6_000_000 * sf), 2_000)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(_PADJ), n_part)
    noun = rng.integers(0, len(_PNOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(rng, n_part, 900.0, 999.9),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts_us(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts_us(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------
# curation: document shards with injected exact and near duplicates
# --------------------------------------------------------------------

_VOCAB = (
    "a the of and in spark window merge table column vector stream value "
    "data small join filter big group hash customer sort order slow line "
    "part fast row agg key query scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def document_shard(seed: int, shard: int, n_docs: int) -> pa.Table:
    """One shard of ``n_docs`` documents: random texts over a small
    vocabulary (10-100 words), plus ~4% exact copies and ~4% near
    copies (one word changed) of other documents in the shard, so the
    exact and MinHash dedup stages both have work.  Ids are unique and
    shuffled."""
    rng = np.random.default_rng([seed, 2, shard])
    texts: list[str] = []
    n_unique = n_docs - 2 * (n_docs // 25)
    for _ in range(n_unique):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n)))
    for _ in range(n_docs // 25):
        texts.append(texts[int(rng.integers(0, n_unique))])
    for _ in range(n_docs // 25):
        words = texts[int(rng.integers(0, n_unique))].split()
        if len(words) >= 40:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    ids = rng.permutation(n_docs * 3)[:n_docs].astype(np.int64) + shard * n_docs * 3
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


# --------------------------------------------------------------------
# ingest: customer CDC CSV files and the table they should produce
# --------------------------------------------------------------------

#: CSV header as it lands: the reference's mixed-case customers.csv
#: columns, plus the partition column and the CDC delete flag.
CSV_COLUMNS = [
    "CustomerID", "NameStyle", "Title", "FirstName", "MiddleName",
    "LastName", "Suffix", "CompanyName", "SalesPerson", "EmailAddress",
    "Phone", "PasswordHash", "PasswordSalt", "rowguid", "ModifiedDate",
    "C_NationKey", "IsDeleted",
]
_TITLES = ["Mr.", "Ms.", "Sr.", "Sra.", ""]
_FIRST = ["Orlando", "Keith", "Donna", "Janet", "Lucy", "Rosmarie", "Dominic",
          "Kathleen", "Katherine", "Johnny", "Christopher", "David", "John"]
_MIDDLE = ["N.", "", "F.", "M.", "", "J.", "R.", ""]
_LAST = ["Gee", "Harris", "Carreras", "Gates", "Harrington", "Carroll",
         "Gash", "Garza", "Harding", "Caprio", "Beck", "Liu", "Shoop"]
_SUFFIX = ["", "", "", "Jr.", "Sr.", "II"]
_COMPANY = ["A Bike Store", "Progressive Sports", "Advanced Bike Components",
            "Modular Cycle Systems", "Metropolitan Sports Supply",
            "Aerobic Exercise Company", "Associated Bikes", "Rural Cycle Emporium"]
_SALES = ["adventure-works\\pamela0", "adventure-works\\david8",
          "adventure-works\\jillian0", "adventure-works\\garrett1",
          "adventure-works\\shu0", "adventure-works\\linda3"]
_HOT_NATIONS = (3, 11, 17)


@dataclass
class IngestStream:
    """A CDC feed over a bounded key space.  ``initial`` is the table
    the warehouse starts from; ``next_file`` yields each landed file's
    CSV text and advances ``expected`` (key -> row tuple in the order
    of ``CSV_COLUMNS`` without the delete flag, ``None`` for values
    that land NULL)."""

    seed: int
    n_keys: int
    rows_per_file: int
    bad_frac: float = 0.01
    expected: dict[int, tuple] = field(default_factory=dict)
    files: int = 0

    def __post_init__(self):
        self._rng = np.random.default_rng([self.seed, 3])
        self._nation = self._rng.integers(0, 25, self.n_keys)
        weight = np.where(np.isin(self._nation, _HOT_NATIONS), 8.0, 1.0)
        self._p = weight / weight.sum()
        for k in range(0, self.n_keys, 2):
            self.expected[k] = self._row(k)[0]

    def initial(self) -> list[tuple]:
        return [self.expected[k] for k in sorted(self.expected)]

    def _row(self, key: int) -> tuple[tuple, list[str]]:
        """(expected table row, CSV fields) for a fresh image of ``key``."""
        r = self._rng
        first = _FIRST[r.integers(len(_FIRST))]
        last = _LAST[r.integers(len(_LAST))]
        title, middle, suffix = (
            x[r.integers(len(x))] for x in (_TITLES, _MIDDLE, _SUFFIX)
        )
        company = _COMPANY[r.integers(len(_COMPANY))]
        sales = _SALES[r.integers(len(_SALES))]
        email = f"{first.lower()}{key}@adventure-works.com"
        phone = f"{r.integers(100, 1000)}-555-{r.integers(0, 10000):04d}"
        pwhash = "pw" + "".join(chr(97 + c) for c in r.integers(0, 26, 20))
        salt = "s" + "".join(chr(65 + c) for c in r.integers(0, 26, 7))
        guid = "{:08x}-{:04x}-{:04x}-{:04x}-{:012x}".format(
            *(int(r.integers(0, 16**w)) for w in (8, 4, 4, 4, 12))
        )
        day = int(r.integers(_days(dt.date(2005, 1, 1)), _days(dt.date(2009, 1, 1))))
        sec = int(r.integers(0, 86_400))
        when = _EPOCH + dt.timedelta(days=day, seconds=sec)
        namestyle = bool(r.integers(0, 2))
        ns_csv = "True" if namestyle else "False"
        when_csv = when.strftime("%Y-%m-%d %H:%M:%S")
        when_us = (day * 86_400 + sec) * 1_000_000
        # A few values that will not cast: they land NULL (try_cast).
        if r.random() < self.bad_frac:
            ns_csv, namestyle = "unknown", None
        if r.random() < self.bad_frac:
            when_csv, when_us = "N/A", None
        nation = int(self._nation[key])
        csv = [str(key), ns_csv, title, first, middle, last, suffix, company,
               sales, email, phone, pwhash, salt, guid, when_csv, str(nation)]
        row = (key, namestyle, title or None, first, middle or None, last,
               suffix or None, company, sales, email, phone, pwhash, salt,
               guid, when_us, nation)
        return row, csv

    def next_file(self) -> tuple[str, int]:
        """The next landed CSV file (text, data rows): distinct keys,
        drawn mostly from the hot partitions; live keys are updated or
        (15%) deleted, absent keys inserted."""
        r = self._rng
        n = self.rows_per_file
        keys = r.choice(self.n_keys, size=n, replace=False, p=self._p)
        lines = [",".join(CSV_COLUMNS)]
        for k in keys.tolist():
            row, csv = self._row(k)
            delete = k in self.expected and r.random() < 0.15
            if delete:
                del self.expected[k]
            else:
                self.expected[k] = row
            lines.append(",".join(csv + ["true" if delete else "false"]))
        self.files += 1
        return "\n".join(lines) + "\n", n

    def checksum(self) -> tuple[int, int]:
        """(row count, checksum) of the expected table — see
        :func:`row_checksum`."""
        return len(self.expected), sum(row_checksum(r) for r in self.expected.values())


def _text(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row_checksum(row: tuple) -> int:
    """CRC-32 of the row's fields joined by ``|``, NULLs skipped — the
    Python twin of Spark's ``crc32(concat_ws('|', ...))`` with
    booleans as ``true``/``false`` and timestamps as epoch micros."""
    return zlib.crc32("|".join(_text(v) for v in row if v is not None).encode())
