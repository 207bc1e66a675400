"""The input generators are deterministic per seed."""

import hashlib
import os

import pandas as pd

from enginebench import gen


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_tables_deterministic(tmp_path):
    a = gen.gen_tables(str(tmp_path / "a"), 7)
    b = gen.gen_tables(str(tmp_path / "b"), 7)
    c = gen.gen_tables(str(tmp_path / "c"), 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))


def test_xml_fixture_deterministic(tmp_path):
    m1, tally1, bad1 = gen.gen_xml_fixture(str(tmp_path / "a"), 3, n_files=300)
    m2, tally2, bad2 = gen.gen_xml_fixture(str(tmp_path / "b"), 3, n_files=300)
    _, tally3, _ = gen.gen_xml_fixture(str(tmp_path / "c"), 4, n_files=300)
    assert (tally1, bad1) == (tally2, bad2)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert tally1 != tally3
    # two cities per well-formed file, Zipf head on top
    assert sum(tally1.values()) == 2 * (300 - bad1)
    assert max(tally1, key=tally1.get) == "berkeley"
    with open(m1) as f:
        assert len(f.read().split()) == 300


def test_cdc_batches_deterministic_and_valid():
    g1, g2 = gen.CdcGenerator(5, n_rows=2000), gen.CdcGenerator(5, n_rows=2000)
    pd.testing.assert_frame_equal(g1.base(), g2.base())
    live = set(range(2000))
    for _ in range(3):
        r1, r2 = g1.round(), g2.round()
        for k in ("merge", "append", "mor_delete", "lookup"):
            pd.testing.assert_frame_equal(r1[k], r2[k])
        assert r1["range"] == r2["range"]
        m = r1["merge"]
        assert not m["o_orderkey"].duplicated().any()
        assert set(m.loc[m.op.isin(["U", "D"]), "o_orderkey"]) <= live
        assert not set(m.loc[m.op == "I", "o_orderkey"]) & live
        live -= set(m.loc[m.op == "D", "o_orderkey"])
        live |= set(m.loc[m.op == "I", "o_orderkey"]) | set(r1["append"]["o_orderkey"])
        assert set(r1["mor_delete"]["o_orderkey"]) <= live
        live -= set(r1["mor_delete"]["o_orderkey"])
        assert live == g1.live
    other = gen.CdcGenerator(6, n_rows=2000)
    other.base()
    assert not other.round()["merge"].equals(gen.CdcGenerator(5, n_rows=2000).round()["merge"])
