"""Seeded input generators for the engine benchmark.

Everything the benchmark feeds the engine is made here from one seed:
the star-schema + corpus tables the registry queries read, the
990-shaped XML fixture the reference ETL job ingests, and the CDC
batches the lakehouse workload writes. The same seed gives the same
bytes; the engine only ever sees the generated files and frames.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated star schema. Small on purpose: at these
# sizes a query's cost is its planning, job scheduling and worker
# round-trips, which is where this engine spends most of its time.
TABLE_ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "events": 2000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["error", "view", "purchase", "click", "signup"]
_LANGS = ["en", "es", "fr", "zh", "de"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector dup index shard cache plan"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def gen_tables(out_dir: str, seed: int, rows: dict | None = None) -> str:
    """Write the ten engine tables (TPC-H-shaped star schema plus
    ``events``, ``documents`` and ``embeddings``) as one parquet file
    each under ``out_dir``, with the column names and types the
    engine's ``tables.load`` expects. Returns ``out_dir``."""
    n = dict(TABLE_ROWS, **(rows or {}))
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, s),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out_dir}/nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), s),
    }), f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64),
    }), f"{out_dir}/supplier.parquet")

    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))], s
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(_PTYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(price, f64),
    }), f"{out_dir}/part.parquet")

    no = n["orders"]
    odate = _days(rng, no, "1995-01-01", 2404)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2), f64),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no), s),
    }), f"{out_dir}/orders.parquet")

    lines_per = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    nl = len(lok)
    lpart = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(lpart, i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[lpart], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl), s),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, nl).astype("timedelta64[D]"),
                               pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, ne).astype(
        "timedelta64[us]"
    )
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
    }), f"{out_dir}/events.parquet")

    # corpus: seeded words in a fixed duplicate layout (every 20th doc
    # from 11 an exact copy, every 10th from 3 a one-word edit, of the
    # doc three positions back) with position-fixed lengths, so the
    # dedup and clustering work of a pass does not change with the seed
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and i % 20 == 11:
            texts.append(texts[i - 3])
        elif i >= 10 and i % 10 == 3:
            words = texts[i - 3].split()
            j = len(words) // 2
            words[j] = _VOCAB[(_VOCAB.index(words[j]) + 1) % len(_VOCAB)]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, 20 + (i * 37) % 70)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, nd, p=_LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out_dir}/documents.parquet")

    nv = n["embeddings"]
    centers = rng.normal(0.0, 0.12, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = (centers[labels] + rng.normal(0.0, 0.06, (nv, 64))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }), f"{out_dir}/embeddings.parquet")
    return out_dir


# ---------------------------------------------------------------------------
# 990-shaped XML fixture for the reference job (manifest -> flatten ->
# CitiesCount)

_CITIES = [
    "Berkeley", "Madison", "Oakland", "Chicago", "Austin", "Denver",
    "Portland", "Boston", "Seattle", "Atlanta", "Tucson", "Omaha",
    "Fresno", "Tulsa", "Reno", "Boise", "Albany", "Dayton", "Akron",
    "Salem", "Provo", "Eugene", "Tacoma", "Mobile", "Macon",
    "Toledo", "Peoria", "Duluth", "Fargo", "Helena",
]
_BROKEN = "<Return><CityNm>Oops</Return>"


def _case(rng, city: str) -> str:
    r = rng.random()
    return city.upper() if r < 0.2 else city.lower() if r < 0.4 else city


def gen_xml_fixture(
    out_dir: str,
    seed: int,
    n_files: int = 1000,
    zipf_s: float = 1.1,
    malformed_share: float = 0.02,
) -> tuple[str, dict[str, int], int]:
    """Write ``n_files`` 990-shaped returns plus a manifest. Filer and
    preparer cities are Zipf-distributed (exponent ``zipf_s``) over a
    fixed city list with mixed letter case, and about
    ``malformed_share`` of the files are truncated XML. Returns
    ``(manifest_path, expected CitiesCount tally, malformed count)``;
    the tally is the generator's own count of lower-cased ``CityNm``
    values over the well-formed files."""
    rng = np.random.default_rng([seed, 2])
    xml_dir = os.path.join(out_dir, "xml")
    os.makedirs(xml_dir, exist_ok=True)
    w = 1.0 / np.arange(1, len(_CITIES) + 1) ** zipf_s
    w /= w.sum()
    tally: Counter = Counter()
    broken = 0
    lines = []
    for i in range(n_files):
        name = f"r{i:05d}.xml"
        if rng.random() < malformed_share:
            content = _BROKEN
            broken += 1
        else:
            filer, prep = (_CITIES[k] for k in rng.choice(len(_CITIES), 2, p=w))
            filer, prep = _case(rng, filer), _case(rng, prep)
            tally[filer.lower()] += 1
            tally[prep.lower()] += 1
            officers = "\n".join(
                f"      <OfficerGrp><PersonNm>officer {i}-{j}</PersonNm>"
                f"<CompensationAmt>{int(rng.integers(0, 99991))}</CompensationAmt>"
                f"<AddressLine1Txt>unit {j} building {i % 40}</AddressLine1Txt>"
                "</OfficerGrp>"
                for j in range(20)
            )
            content = (
                '<?xml version="1.0" encoding="utf-8"?>\n'
                '<Return xmlns="http://www.irs.gov/efile" returnVersion="2016v3.0">\n'
                "  <ReturnHeader>\n"
                f"    <Filer><USAddress><CityNm>{filer}</CityNm>"
                "<StateAbbreviationCd>CA</StateAbbreviationCd></USAddress></Filer>\n"
                f"    <PreparerFirmGrp><USAddress><CityNm>{prep}</CityNm>"
                "</USAddress></PreparerFirmGrp>\n"
                "  </ReturnHeader>\n"
                "  <ReturnData>\n    <IRS990>\n"
                f"      <TotalRevenueAmt>{int(rng.integers(0, 10**7))}</TotalRevenueAmt>\n"
                f"{officers}\n"
                "    </IRS990>\n  </ReturnData>\n</Return>\n"
            )
        with open(os.path.join(xml_dir, name), "w") as f:
            f.write(content)
        lines.append(f"file:xml/{name}")
    manifest = os.path.join(out_dir, "manifest.txt")
    with open(manifest, "w") as f:
        f.write("\n".join(lines) + "\n")
    return manifest, dict(tally), broken


# ---------------------------------------------------------------------------
# CDC batches for the lakehouse workload

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.string()),
])


class CdcGenerator:
    """Seeded generator of the ``orders`` table and the change batches
    applied to it, round by round. It tracks the live key set itself,
    so every update and delete names a live key and every insert a new
    one, and each batch's logical change count is known up front.

    Key skew: updates and deletes draw live keys with Zipf weights over
    key rank (exponent ``key_skew``), so low keys are hot."""

    def __init__(
        self,
        seed: int,
        n_rows: int = 40_000,
        update_share: float = 0.01,
        insert_share: float = 0.0025,
        delete_share: float = 0.0025,
        append_share: float = 0.01,
        mor_delete_share: float = 0.0025,
        key_skew: float = 0.8,
        lookup_keys: int = 50,
    ) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.n_rows = n_rows
        self.update_share = update_share
        self.insert_share = insert_share
        self.delete_share = delete_share
        self.append_share = append_share
        self.mor_delete_share = mor_delete_share
        self.key_skew = key_skew
        self.lookup_keys = lookup_keys
        self.next_key = n_rows
        self.live: set[int] = set(range(n_rows))

    def _rows(self, keys) -> pd.DataFrame:
        k = len(keys)
        rng = self.rng
        dates = np.datetime64("1995-01-01") + rng.integers(0, 2400, k).astype("timedelta64[D]")
        return pd.DataFrame({
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": rng.integers(0, 15_000, k).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], k),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, k), 2),
            "o_orderdate": dates.astype(str),
        })

    def base(self) -> pd.DataFrame:
        return self._rows(np.arange(self.n_rows))

    def _pick_live(self, k: int) -> np.ndarray:
        keys = np.array(sorted(self.live), dtype=np.int64)
        w = 1.0 / np.arange(1, len(keys) + 1) ** self.key_skew
        # permute ranks so the hot keys spread over the key space
        w = w[self.rng.permutation(len(keys))]
        return self.rng.choice(keys, size=min(k, len(keys)), replace=False, p=w / w.sum())

    def _new_keys(self, k: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + k, dtype=np.int64)
        self.next_key += k
        return keys

    def round(self) -> dict:
        """One round of changes: a ``merge`` batch (op column U/I/D), an
        ``append`` batch of new keys, ``mor_delete`` keys, ``lookup``
        keys (half live, half never written) and a ``range`` [lo, hi] on
        the key. ``cdf_rows`` is the change-feed row count the round's
        commits must produce."""
        n = len(self.live)
        touched = self._pick_live(
            int(n * self.update_share) + int(n * self.delete_share)
        )
        n_upd = int(n * self.update_share)
        upd, dele = touched[:n_upd], touched[n_upd:]
        ins = self._new_keys(int(n * self.insert_share))
        merge = pd.concat([
            self._rows(upd).assign(op="U"),
            self._rows(ins).assign(op="I"),
            self._rows(dele).assign(op="D"),
        ], ignore_index=True)
        self.live.difference_update(dele.tolist())
        self.live.update(ins.tolist())
        append = self._rows(self._new_keys(int(n * self.append_share)))
        self.live.update(append["o_orderkey"].tolist())
        mor = self._pick_live(int(n * self.mor_delete_share))
        self.live.difference_update(mor.tolist())
        half = self.lookup_keys // 2
        lookup = np.concatenate([
            self._pick_live(self.lookup_keys - half),
            self.next_key + 10**6 + self.rng.integers(0, 10**6, half),
        ])
        width = self.n_rows // 20
        lo = int(self.rng.integers(0, self.next_key - width))
        return {
            "merge": merge,
            "append": append,
            "mor_delete": pd.DataFrame({"o_orderkey": mor.astype(np.int64)}),
            "lookup": pd.DataFrame({"o_orderkey": np.unique(lookup).astype(np.int64)}),
            "range": (lo, lo + width),
            "cdf_rows": 2 * len(upd) + len(ins) + len(dele) + len(append) + len(mor),
        }


def parquet_bytes(df: pd.DataFrame) -> int:
    """Size of ``df`` as one zstd parquet buffer — the byte base of the
    write- and space-amplification ratios."""
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), sink, compression="zstd")
    return sink.getvalue().size
