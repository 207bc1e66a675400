"""The benchmark workloads.

A workload sets up its inputs, then yields passes: each pass is a
list of ``Op``s, run in order by the single closed-loop client in
``run.py``. An op's ``build`` is the call into the engine (for a
registry query, the query function; for a lakehouse write, the whole
write); when it returns a DataFrame, the runner executes it into the
``noop`` sink. ``verify`` checks an op's output once per run, outside
every timing; ``after`` is untimed bookkeeping run after every op. Every engine call goes through the engine's public
functions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import duckdb
import pandas as pd

from enginebench import gen

# Registry queries of the read-only workload: relational queries (JVM
# codegen, shuffles, joins) and LLM-corpus operators (Arrow/pandas
# workers, eager driver-side jobs). A run has a tight wall-clock budget
# (session start and the cold first pass take most of it), so the list
# keeps one cheap query per relational layer and, for the operators,
# two cheap ones plus connected components, whose cost is almost all
# eager driver-side jobs. (The star-contraction twin costs 15 s more
# per run, most of it cold, and its warm time alone spread over 20%
# between runs.)
#
# The order is fixed: with a seeded order, interference between
# neighbouring queries (JIT, a streaming query winding down) moved the
# pass time by up to 15% between seeds.
QUERIES = [
    "agg_having",
    "join_asof_event",
    "join_q18_large_orders",
    "dedup_exact_hash",
    "dedup_cluster_components",
    "sim_cosine_topk",
    "stream_tumbling_count",
]

XML_FILES = 1000
LAKE_ROWS = 10_000
LAKE_FILES = 4
LAKE_BLOOM_BITS = 32768


class VerifyError(AssertionError):
    """An op's output differs from the expected result."""


@dataclass
class Op:
    name: str
    module: str
    build: Callable[[], object]
    verify: Callable[[object], None] | None = None
    after: Callable[[object], None] | None = None


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form, as the repository's oracle
    tests build it: columns sorted by name, floats printed to six
    decimals, everything else stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else f"{v:.6f}")
        else:
            out[c] = col.map(
                lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
            )
    return out.sort_values(by=list(out.columns), ignore_index=True)


def assert_same(actual: pd.DataFrame, expected: pd.DataFrame, what: str) -> None:
    a, e = canonicalize(actual), canonicalize(expected)
    if list(a.columns) != list(e.columns):
        raise VerifyError(f"{what}: columns {list(a.columns)} != {list(e.columns)}")
    if len(a) != len(e):
        raise VerifyError(f"{what}: {len(a)} rows != expected {len(e)}")
    if not a.equals(e):
        raise VerifyError(f"{what}: values differ from the expected result")


class Workload:
    name = ""
    # run an untimed, checked pass before the timed ones; without it the
    # first timed pass is checked, after each op and outside its timing
    warmup = True

    def __init__(self, spark, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.duck = None

    def setup_inputs(self, out_dir: str) -> None:
        """Generate this workload's inputs under ``out_dir`` and load the
        DuckDB twin. Called several times (fresh dirs) so set-up time is
        a median; the last call's inputs are used."""
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time engine set-up after the inputs exist."""

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def start_timed(self) -> None:
        """Called between the warm-up pass and the timed passes."""

    def finish(self) -> dict:
        """Final checks after the timed passes; returns extra per-layer
        values."""
        return {}

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()


class EtlCorpus(Workload):
    """The reference ETL job (manifest -> XML flatten -> CitiesCount)
    and registry queries over generated tables, each checked against
    its DuckDB oracle. Read-only; never touches the lakehouse."""

    name = "etl_corpus"

    def __init__(self, spark, seed: int, rows: dict | None = None) -> None:
        super().__init__(spark, seed)
        from apache_spark_irs_form_990_spark import registry

        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.rows = rows

    def setup_inputs(self, out_dir: str) -> None:
        from apache_spark_irs_form_990_spark.tables import TABLES

        self.data_dir = gen.gen_tables(os.path.join(out_dir, "tables"), self.seed, self.rows)
        self.xml_root = os.path.join(out_dir, "xml990")
        self.manifest, self.tally, _ = gen.gen_xml_fixture(
            self.xml_root, self.seed, n_files=XML_FILES
        )
        self.close()
        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )

    def _ingest_op(self) -> Op:
        from apache_spark_irs_form_990_spark.sources import xml_ingest

        def build():
            flat = xml_ingest.read_xml_manifest(self.spark, self.manifest, self.xml_root)
            return xml_ingest.cities_count(flat)

        def verify(df) -> None:
            # the malformed files hold a CityNm too, so a parser that
            # did not skip them would miscount here
            if {r["City"]: r["Count"] for r in df.collect()} != self.tally:
                raise VerifyError("cities_count differs from the generator's tally")

        return Op("ingest_cities_count", "xml_ingest", build, verify)

    def _query_op(self, name: str) -> Op:
        fn = self.queries[name]

        def verify(df) -> None:
            assert_same(df.toPandas(), self.duck.execute(self.oracles[name]).fetchdf(), name)

        module = fn.__module__.rsplit(".", 1)[-1]
        return Op(name, module, lambda: fn(self.spark, self.data_dir), verify)

    def pass_ops(self) -> list[Op]:
        return [self._ingest_op()] + [self._query_op(q) for q in QUERIES]


class LakehouseCdc(Workload):
    """Writes beside reads on the commit-log table ``orders``.

    A pass is one round of merge / append / streaming-tail drain /
    merge-on-read delete / point lookup / range scan, then the change
    feed over the pass's commits, a compaction and a vacuum. A DuckDB
    table replays every generated batch; it is the expected state.

    No warm-up pass: set-up (the table's create and the streaming tail's
    start) already pays the JVM's and the Python workers' first-use
    costs, and a run has no time for a second full round, so the timed
    pass is the first round after set-up."""

    name = "lakehouse_cdc"
    warmup = False

    def __init__(self, spark, seed: int, n_rows: int = LAKE_ROWS) -> None:
        super().__init__(spark, seed)
        self.n_rows = n_rows
        self.query = None
        self.attempt_log: list = []
        self.seen: set[str] = set()  # every file ever found under the table
        self.change_bytes = 0
        self.bytes_written = 0
        self.counts: dict[str, float] = {}

    # -- set-up -------------------------------------------------------
    def setup_inputs(self, out_dir: str) -> None:
        self.cdc = gen.CdcGenerator(self.seed, n_rows=self.n_rows)
        self.base = self.cdc.base()
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "orders")
        self.close()
        self.duck = duckdb.connect()
        self.duck.register("base_df", self.base)
        self.duck.execute("CREATE TABLE t AS SELECT * FROM base_df")
        self.duck.unregister("base_df")

    def prepare(self) -> None:
        """Create the table (commit 0), then start the streaming tail
        consumer on the commits after it."""
        from apache_spark_irs_form_990_spark.sources import lakehouse, lakehouse_stream

        lakehouse.create_table(
            self.spark,
            self.path,
            self.spark.createDataFrame(self.base),
            key="o_orderkey",
            n_files=LAKE_FILES,
            bloom_m_bits=LAKE_BLOOM_BITS,
        )
        self.tail_expected = 0
        self.sink = f"bench_tail_{os.getpid()}"
        self.query = (
            lakehouse_stream.tail_stream(
                self.spark, self.path, startingVersion="1", skipChangeCommits="true"
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(self.sink)
            .option("checkpointLocation", os.path.join(self.out_dir, "tail_ckpt"))
            .start()
        )
        self.query.processAllAvailable()
        self._new_bytes()

    def start_timed(self) -> None:
        """Write and space accounting covers the timed passes only."""
        self.change_bytes = self.bytes_written = 0
        self.counts = {}

    # -- bookkeeping (untimed) ----------------------------------------
    def _new_bytes(self) -> int:
        """Bytes of the files that appeared under the table directory
        since the last call."""
        size = 0
        for d, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.seen:
                    self.seen.add(p)
                    size += os.path.getsize(p)
        self.bytes_written += size
        return size

    def _count(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + v

    def _commit_stats(self, kind: str, version: int) -> None:
        from apache_spark_irs_form_990_spark.sources import lakehouse

        now = set(lakehouse.snapshot_files(self.path, version))
        before = set(lakehouse.snapshot_files(self.path, version - 1))
        self._count(f"{kind}.files_added", len(now - before))
        self._count(f"{kind}.files_removed", len(before - now))
        self._count(f"{kind}.bytes_written", self._new_bytes())

    def _replay(self, sql: str, **frames: pd.DataFrame) -> None:
        for name, df in frames.items():
            self.duck.register(name, df)
        self.duck.execute(sql)
        for name in frames:
            self.duck.unregister(name)

    def _expect(self, where: str) -> pd.DataFrame:
        return self.duck.execute(f"SELECT * FROM t WHERE {where}").fetchdf()

    def _verify_snapshot(self, what: str) -> None:
        from apache_spark_irs_form_990_spark.sources import lakehouse

        snap = lakehouse.read_snapshot(self.spark, self.path).toPandas()
        assert_same(snap, self.duck.execute("SELECT * FROM t").fetchdf(), f"snapshot {what}")

    def _verify_tail(self, _=None) -> None:
        n = self.spark.table(self.sink).count()
        if n != self.tail_expected:
            raise VerifyError(f"tail sink has {n} rows, expected {self.tail_expected}")

    # -- ops ----------------------------------------------------------
    def pass_ops(self) -> list[Op]:
        from apache_spark_irs_form_990_spark.sources import lakehouse

        sp, path = self.spark, self.path
        rnd = self.cdc.round()
        self.change_bytes += sum(
            gen.parquet_bytes(rnd[k]) for k in ("merge", "append", "mor_delete")
        )
        lo, hi = rnd["range"]
        keys = rnd["lookup"]
        key_list = ",".join(str(k) for k in keys["o_orderkey"])
        first = {}

        def merge_after(v):
            first["version"] = v
            self._commit_stats("merge", v)
            self._replay(
                "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM m);"
                "INSERT INTO t SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "o_orderdate FROM m WHERE op IN ('U', 'I')",
                m=rnd["merge"],
            )

        def append_after(v):
            self._commit_stats("append", v)
            self._replay("INSERT INTO t SELECT * FROM a", a=rnd["append"])
            self.tail_expected += len(rnd["append"])

        def delete_after(v):
            self._commit_stats("mor_delete", v)
            self._replay(
                "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM d)",
                d=rnd["mor_delete"],
            )

        def lookup_after(_):
            live = self.duck.execute(
                f"SELECT count(*) FROM t WHERE o_orderkey IN ({key_list})"
            ).fetchone()[0]
            self._count("lookup.rows", live)

        def lookup_verify(df) -> None:
            assert_same(df.toPandas(), self._expect(f"o_orderkey IN ({key_list})"), "read_keys")

        def range_verify(df) -> None:
            assert_same(
                df.toPandas(), self._expect(f"o_orderkey BETWEEN {lo} AND {hi}"), "read_where_range"
            )

        def cdf_verify(df) -> None:
            n = df.count()
            if n != rnd["cdf_rows"]:
                raise VerifyError(f"change feed has {n} rows, batches made {rnd['cdf_rows']}")

        return [
            Op("merge", "lakehouse",
               lambda: lakehouse.merge_into(sp, path, sp.createDataFrame(rnd["merge"]),
                                            attempt_log=self.attempt_log),
               after=merge_after),
            Op("append", "lakehouse",
               lambda: lakehouse.append_table(sp, path, sp.createDataFrame(rnd["append"])),
               after=append_after),
            Op("tail_drain", "lakehouse_stream", lambda: self.query.processAllAvailable(),
               self._verify_tail),
            Op("mor_delete", "lakehouse",
               lambda: lakehouse.delete_keys_mor(sp, path, sp.createDataFrame(rnd["mor_delete"])),
               after=delete_after),
            Op("lookup", "lakehouse",
               lambda: lakehouse.read_keys(sp, path, sp.createDataFrame(keys)),
               lookup_verify, after=lookup_after),
            Op("range_scan", "lakehouse",
               lambda: lakehouse.read_where_range(sp, path, "o_orderkey", lo, hi),
               range_verify),
            Op("cdf_read", "lakehouse",
               lambda: lakehouse.read_changes(sp, path, first["version"]), cdf_verify),
            Op("compact", "lakehouse",
               lambda: lakehouse.compact_table(sp, path, n_files=LAKE_FILES),
               lambda _: self._verify_snapshot("after compaction"),
               after=lambda v: self._commit_stats("compact", v)),
            Op("vacuum", "lakehouse",
               lambda: lakehouse.vacuum_table(path, retain_last=1) and None,
               after=lambda _: self._new_bytes()),
        ]

    def finish(self) -> dict:
        """Final snapshot and tail checks, then the byte ratios."""
        self._verify_snapshot("at the end of the run")
        self._verify_tail()
        live = self.duck.execute("SELECT * FROM t").fetchdf()
        table_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.path) for f in fs
        )
        return {
            "write_amp": self.bytes_written / self.change_bytes,
            "space_amp": table_bytes / gen.parquet_bytes(live),
            "merge_replans": sum(1 for e, _ in self.attempt_log if e == "replan"),
        }

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        super().close()


WORKLOADS = {w.name: w for w in (EtlCorpus, LakehouseCdc)}


def make(name: str, spark, seed: int, small: bool = False) -> Workload:
    """Instantiate workload ``name``; ``small`` shrinks the inputs for
    the benchmark's own smoke test."""
    cls = WORKLOADS[name]
    if not small:
        return cls(spark, seed)
    if cls is LakehouseCdc:
        return cls(spark, seed, n_rows=2000)
    return cls(spark, seed, rows={k: max(20, v // 10) for k, v in gen.TABLE_ROWS.items()})
