"""The benchmark's three workloads: their ops, their inputs and the checks
on their outputs.

An op is one call into the engine's public surface. It returns either a
DataFrame, which the runner then executes with a noop sink, or nothing
(a landing or a merge that commits eagerly). Every op names its layer: the
engine module that defines the callable, without the package prefix.

Checks run outside the timed region in two halves. ``observe`` turns an
op's output into a small Python value right after the op ran (that may
start Spark jobs of its own); ``verdicts`` compares the observations
against expectations once all passes are done, so DuckDB never runs while
memory is being sampled.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PKG = "atlas_migration_repo_spark"


@dataclass(frozen=True)
class Op:
    name: str
    fn: Callable  # the engine callable the op times; names the layer
    call: Callable[[], Any]
    observe: Callable[[Any], Any] | None = None

    @property
    def layer(self) -> str:
        return self.fn.__module__.removeprefix(PKG + ".")

    @property
    def func(self) -> str:
        return f"{self.layer}.{self.fn.__qualname__}"


class CheckFailed(Exception):
    pass


# -- order-insensitive comparison (the registry's oracle gate) ----------------


def _norm_value(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells canonicalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple((x is None, str(x)) for x in row))
    return [cols[i] for i in order], out


def compare_rows(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> None:
    g_cols, g_rows = normalize(*got)
    w_cols, w_rows = normalize(*want)
    if g_cols != w_cols:
        raise CheckFailed(f"columns {g_cols} != expected {w_cols}")
    if len(g_rows) != len(w_rows):
        raise CheckFailed(f"{len(g_rows)} rows != expected {len(w_rows)}")
    bad = sum(a != b for a, b in zip(g_rows, w_rows))
    if bad:
        first = next(i for i, (a, b) in enumerate(zip(g_rows, w_rows)) if a != b)
        raise CheckFailed(
            f"{bad} rows differ; first: {g_rows[first]} != expected {w_rows[first]}"
        )


def collect_rows(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


def oracle_con(sf_dir: str):
    import duckdb

    from atlas_migration_repo_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _registry_op(spark, sf_dir: str, name: str, observe=None) -> Op:
    from atlas_migration_repo_spark.registry import QUERIES

    qd = QUERIES[name]
    return Op(name, qd.fn, lambda: qd.fn(spark, sf_dir), observe)


# -- workloads ----------------------------------------------------------------


class Workload:
    """One closed loop of ops. ``sf`` sizes its generated inputs."""

    name = ""
    sf = 0.0
    why = ""
    # about one steady pass's wall time on a 4-core machine; it sets how
    # many steady passes a run of --seconds makes (run.steady_passes)
    nominal_pass_s = 1.0

    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.seed = seed

    def prepare(self) -> None:
        """Untimed, once, after the inputs exist."""

    def start_pass(self, index: int) -> None:
        """Untimed, before each pass."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def table_root(self) -> str | None:
        """Directory the workload lands tables under (None: it lands none)."""
        return None

    def landed_source_bytes(self) -> int:
        return 0

    def verdicts(self, observed: dict[tuple[int, str], Any]) -> dict[tuple[int, str], str | None]:
        """(pass, op) → None if the observation is right, else why not."""
        raise NotImplementedError

    def corrupt(self) -> str:
        """Damage one expectation (self-test); returns the op it affects."""
        raise NotImplementedError


class OracleChecked(Workload):
    """Ops whose outputs are compared with their registry oracle SQL run by
    DuckDB over the same generated parquet."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def _oracle_verdicts(self, observed, names) -> dict:
        from atlas_migration_repo_spark.registry import QUERIES

        con = oracle_con(self.sf_dir)
        try:
            for n in names:
                if n not in self._expected:
                    self._expected[n] = oracle_rows(con, QUERIES[n].oracle)
        finally:
            con.close()
        out = {}
        for (p, n), got in observed.items():
            if n in names:
                try:
                    compare_rows(got, self._expected[n])
                    out[(p, n)] = None
                except CheckFailed as e:
                    out[(p, n)] = str(e)
        return out

    def _corrupt_oracle(self, name: str) -> str:
        cols, rows = self._expected[name]
        first = list(rows[0])
        i = next(i for i, v in enumerate(first) if isinstance(v, (int, float)))
        first[i] = first[i] + 1
        self._expected[name] = (cols, [tuple(first)] + list(rows[1:]))
        return name


OLAP_OPS = (
    "agg_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "join_multiway",
    "topk_per_group",
)


class OlapTpch(OracleChecked):
    name = "olap_tpch"
    sf = 0.1
    nominal_pass_s = 2.5
    why = "TPC-H-shaped scans, joins, aggregates and shuffles in operators/; plan construction is the only Python work"

    def ops(self) -> list[Op]:
        return [_registry_op(self.spark, self.sf_dir, n, collect_rows) for n in OLAP_OPS]

    def verdicts(self, observed):
        return self._oracle_verdicts(observed, OLAP_OPS)

    def corrupt(self) -> str:
        return self._corrupt_oracle(OLAP_OPS[0])


LLM_OPS = (
    "dedup_exact",
    "text_tfidf",
    "tokenizer_bpe_encode",
    "sim_knn_join",
    "quality_logreg_score",
    "decontaminate_corpus",
)


def _fp_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 4) + 0.0  # -0.0 → 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_fp_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _fp_value(x)) for k, x in v.items()))
    return v


def fingerprint(df) -> tuple[int, str]:
    """Order-insensitive (row count, digest of the sorted rows). Floats are
    rounded to 4 places so summation order cannot change the digest."""
    rows = sorted(repr(_fp_value(tuple(r))) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


class LlmCorpus(Workload):
    """Approximate ops with no oracle: each output must be non-empty and
    fingerprint the same on every pass of the run."""

    name = "llm_corpus"
    sf = 0.005
    nominal_pass_s = 7.5
    why = "Arrow and Python workers plus eager driver-side fits in llm/, few relational joins: the mirror of olap_tpch"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self._reference: dict[str, tuple[int, str]] = {}

    def ops(self) -> list[Op]:
        return [_registry_op(self.spark, self.sf_dir, n, fingerprint) for n in LLM_OPS]

    def verdicts(self, observed):
        out = {}
        for (p, n), fp in sorted(observed.items()):
            ref = self._reference.setdefault(n, fp)
            if fp[0] == 0:
                out[(p, n)] = "empty output"
            elif fp != ref:
                out[(p, n)] = f"fingerprint {fp} != first pass {ref}"
            else:
                out[(p, n)] = None
        return out

    def corrupt(self) -> str:
        n = LLM_OPS[0]
        rows, digest = self._reference[n]
        self._reference[n] = (rows, digest[::-1])
        return n


# The change batch is this share of the orders keys, split between
# updates, inserts and deletes; most of it lands in the latest months.
CDC_SHARE = 0.05
CDC_SPLIT = {"update": 0.6, "insert": 0.2, "delete": 0.2}
CDC_RECENT_DAYS = 90
CDC_RECENT_SHARE = 0.8
# the rest of the updated and deleted rows fall in the year before that
CDC_OLDER_DAYS = 365

# Tables are landed range-clustered on the order date into this many files,
# as the engine's own landings are, so that a merge which rewrites only the
# files holding changed keys writes less than the whole table.
LAND_FILES = 8

# (table label, source table, format, key column, checked value column)
MIGRATE_TABLES = (
    ("orders_delta", "orders", "delta", "o_orderkey", "o_totalprice"),
    ("orders_hudi", "orders", "hudi", "o_orderkey", "o_totalprice"),
    ("orders_tablelog", "orders", "tablelog", "o_orderkey", "o_totalprice"),
)

MIGRATE_SINKS = ("sink_tablelog_txn",)


def snapshot_sql(table: str, key: str, value: str) -> str:
    """One row that pins a table's content: row count, key set and a
    checksum of the value column, all in exact integer/decimal arithmetic."""
    k = f"CAST({key} AS DECIMAL(38,0))"
    return (
        f"SELECT COUNT(*) AS n, COUNT(DISTINCT {key}) AS nk, SUM({k}) AS sk, "
        f"SUM({k} * {k}) AS sk2, SUM(CAST({value} AS DECIMAL(38,2))) AS sv "
        f"FROM {table}"
    )


def _snapshot_tuple(row) -> tuple[int, ...]:
    n, nk, sk, sk2, sv = row
    return (int(n), int(nk), int(sk or 0), int(sk2 or 0), int((sv or 0) * 100))


def make_change_batch(orders_path: str, out_dir: str, seed: int) -> tuple[str, str]:
    """Write the seeded CDC batch next to the inputs: ``cdc_upserts.parquet``
    (updated and new orders rows, the orders schema) and
    ``cdc_deletes.parquet`` (deleted keys)."""
    rng = np.random.default_rng(seed + 1_000_003)
    orders = pq.read_table(orders_path)
    n = orders.num_rows
    keys = orders["o_orderkey"].to_numpy()
    dates = orders["o_orderdate"].to_numpy()
    recent = dates >= dates.max() - np.timedelta64(CDC_RECENT_DAYS, "D")
    older = ~recent & (
        dates >= dates.max() - np.timedelta64(CDC_RECENT_DAYS + CDC_OLDER_DAYS, "D")
    )
    n_change = max(10, round(CDC_SHARE * n))
    n_upd = round(n_change * CDC_SPLIT["update"])
    n_del = round(n_change * CDC_SPLIT["delete"])
    n_ins = n_change - n_upd - n_del

    def pick(mask: np.ndarray, k: int) -> np.ndarray:
        pool = np.flatnonzero(mask)
        return rng.choice(pool, min(k, len(pool)), replace=False)

    n_touch = n_upd + n_del
    n_recent = round(n_touch * CDC_RECENT_SHARE)
    rows = np.concatenate([pick(recent, n_recent), pick(older, n_touch - n_recent)])
    rng.shuffle(rows)
    upd_rows, del_rows = np.sort(rows[:n_upd]), np.sort(rows[n_upd:])

    updates = orders.take(pa.array(upd_rows))
    i = updates.schema.get_field_index("o_totalprice")
    updates = updates.set_column(
        i, "o_totalprice", pa.array(np.round(rng.uniform(1000, 500000, len(upd_rows)), 2))
    )
    template = orders.take(pa.array(rng.choice(np.flatnonzero(recent), n_ins)))
    new_keys = np.arange(int(keys.max()) + 1, int(keys.max()) + 1 + n_ins, dtype=np.int64)
    inserts = template.set_column(
        template.schema.get_field_index("o_orderkey"), "o_orderkey", pa.array(new_keys)
    ).set_column(
        i, "o_totalprice", pa.array(np.round(rng.uniform(1000, 500000, n_ins), 2))
    )
    ups_path = os.path.join(out_dir, "cdc_upserts.parquet")
    del_path = os.path.join(out_dir, "cdc_deletes.parquet")
    pq.write_table(pa.concat_tables([updates, inserts]), ups_path)
    pq.write_table(pa.table({"o_orderkey": pa.array(keys[del_rows])}), del_path)
    return ups_path, del_path


class MigrateCdc(OracleChecked):
    """The reference's job: bulk-land, apply one CDC batch, run the
    streaming CDC sinks, read every table back. Each pass starts from
    empty table directories."""

    name = "migrate_cdc"
    sf = 0.005
    nominal_pass_s = 9.0
    why = "write-heavy: lands, merges and streams into Delta, Hudi and TableLog, then reads back what it wrote"

    def prepare(self) -> None:
        from atlas_migration_repo_spark.api import AtlasEngine

        self.root = os.path.join(self.work_dir, "tables")
        self.ups_path, self.del_path = make_change_batch(
            os.path.join(self.sf_dir, "orders.parquet"), self.sf_dir, self.seed
        )
        self.engine = AtlasEngine(spark=self.spark, sf_dir=self.sf_dir)
        self._snapshots: dict[str, tuple[int, ...]] = {}

    def table_root(self) -> str:
        return self.root

    def _path(self, label: str) -> str:
        return os.path.join(self.root, label)

    def _src(self, table: str) -> str:
        return os.path.join(self.sf_dir, f"{table}.parquet")

    def landed_source_bytes(self) -> int:
        landed = sum(os.path.getsize(self._src(src)) for _, src, *_ in MIGRATE_TABLES)
        # the upserts reach each orders table once, the deletes the Hudi one
        orders_tables = sum(src == "orders" for _, src, *_ in MIGRATE_TABLES)
        return (landed + orders_tables * os.path.getsize(self.ups_path)
                + os.path.getsize(self.del_path))

    def start_pass(self, index: int) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def ops(self) -> list[Op]:
        from atlas_migration_repo_spark.sources.delta_interop import merge_delta, write_delta
        from atlas_migration_repo_spark.sources.hudi_interop import (
            delete_hudi,
            upsert_hudi,
            write_hudi,
        )
        from atlas_migration_repo_spark.sources.table_log import TableLog

        spark, read = self.spark, self.spark.read.parquet

        def clustered(table: str):
            return read(self._src(table)).repartitionByRange(LAND_FILES, "o_orderdate")

        ops: list[Op] = []
        for label, src, fmt, key, _ in MIGRATE_TABLES:
            path = self._path(label)
            if fmt == "delta":
                call = lambda p=path, t=src: write_delta(clustered(t), p)  # noqa: E731
                ops.append(Op(f"land {label}", write_delta, call))
            elif fmt == "hudi":
                call = lambda p=path, t=src, k=key: write_hudi(clustered(t), p, record_key=k)  # noqa: E731
                ops.append(Op(f"land {label}", write_hudi, call))
            else:
                call = lambda p=path, t=src: TableLog(p).append(clustered(t))  # noqa: E731
                ops.append(Op(f"land {label}", TableLog.append, call))
        ups, dels = self.ups_path, self.del_path
        ops += [
            Op("merge orders_delta", merge_delta,
               lambda: merge_delta(spark, self._path("orders_delta"), read(ups), "o_orderkey")),
            Op("upsert orders_hudi", upsert_hudi,
               lambda: upsert_hudi(read(ups), self._path("orders_hudi"))),
            Op("delete orders_hudi", delete_hudi,
               lambda: delete_hudi(read(dels), self._path("orders_hudi"))),
            Op("merge orders_tablelog", TableLog.merge,
               lambda: TableLog(self._path("orders_tablelog")).merge(spark, read(ups), "o_orderkey")),
        ]
        ops += [_registry_op(spark, self.sf_dir, n, collect_rows) for n in MIGRATE_SINKS]
        read_table = type(self.engine).read_table
        for label, _, _, key, value in MIGRATE_TABLES:
            ops.append(Op(
                f"read {label}", read_table,
                lambda p=self._path(label): self.engine.read_table(p),
                lambda df, k=key, v=value: self._observe_table(df, k, v),
            ))
        return ops

    def _observe_table(self, df, key: str, value: str) -> tuple[int, ...]:
        view = "__perfbench_readback"
        df.createOrReplaceTempView(view)
        try:
            return _snapshot_tuple(self.spark.sql(snapshot_sql(view, key, value)).first())
        finally:
            self.spark.catalog.dropTempView(view)

    def _expected_snapshots(self) -> dict[str, tuple[int, ...]]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW ups AS SELECT * FROM read_parquet('{self.ups_path}')")
            con.execute(f"CREATE VIEW dels AS SELECT * FROM read_parquet('{self.del_path}')")
            for src in {s for _, s, *_ in MIGRATE_TABLES}:
                con.execute(
                    f"CREATE VIEW {src} AS SELECT * FROM read_parquet('{self._src(src)}')"
                )
            # merge_delta and TableLog.merge upsert; the Hudi table also
            # takes the deletes
            con.execute(
                "CREATE VIEW orders_upserted AS SELECT * FROM orders WHERE o_orderkey "
                "NOT IN (SELECT o_orderkey FROM ups) UNION ALL SELECT * FROM ups"
            )
            con.execute(
                "CREATE VIEW orders_deleted AS SELECT * FROM orders_upserted WHERE "
                "o_orderkey NOT IN (SELECT o_orderkey FROM dels)"
            )
            view = {"orders_delta": "orders_upserted", "orders_hudi": "orders_deleted",
                    "orders_tablelog": "orders_upserted"}
            return {
                label: _snapshot_tuple(
                    con.execute(snapshot_sql(view.get(label, src), key, value)).fetchone()
                )
                for label, src, _, key, value in MIGRATE_TABLES
            }
        finally:
            con.close()

    def verdicts(self, observed):
        out = self._oracle_verdicts(observed, MIGRATE_SINKS)
        if not self._snapshots:
            self._snapshots = self._expected_snapshots()
        for (p, n), got in observed.items():
            label = n.removeprefix("read ")
            if label in self._snapshots:
                want = self._snapshots[label]
                out[(p, n)] = None if got == want else (
                    f"(rows, keys, key sum, key sum of squares, value cents) "
                    f"{got} != expected {want}"
                )
        return out

    def corrupt(self) -> str:
        label = MIGRATE_TABLES[0][0]
        n, *rest = self._snapshots[label]
        self._snapshots[label] = (n + 1, *rest)
        return f"read {label}"


# Every layer the workloads touch, in a fixed order, with the counters the
# traced run reports for it (zeros on a workload that does not touch it).
# No layer spills at these input sizes, so spill bytes are left out; the
# sources.* calls commit eagerly and return no DataFrame, so they have no
# exec phase; reads through the api never shuffle.
_COUNTERS = ("build_s", "exec_s", "eager_jobs", "tasks", "task_run_s", "busy_ratio",
             "shuffle_bytes")
_SOURCES = tuple(c for c in _COUNTERS if c != "exec_s") + ("bytes_written",)
LAYERS: dict[str, tuple[str, ...]] = {
    **{layer: _COUNTERS for layer in (
        "operators.aggregates", "operators.goldens", "operators.goldens2",
        "operators.joins", "operators.windows",
        "llm.dedup", "llm.text", "llm.tokenizer", "llm.similarity", "llm.quality_model",
        "llm.pipeline",
    )},
    **{layer: _SOURCES for layer in (
        "sources.delta_interop", "sources.hudi_interop", "sources.table_log",
    )},
    "streaming.sinks": _COUNTERS,
    "api": tuple(c for c in _COUNTERS if c != "shuffle_bytes"),
}

WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (OlapTpch, LlmCorpus, MigrateCdc)
}
