"""The benchmark's workloads and the ops they are made of.

An op is one build (the public entry point called, before any action)
plus one full materialization. Registry ops materialize through Spark's
``noop`` sink while timed, so no column work can be pruned the way
``count()`` prunes it; in the warm pass they are collected to Arrow
instead and compared with their DuckDB oracle.

The ingest ops pump seeded ``orders`` batches through ``pipe.dispatch``
(``read_parquet`` -> ``LakeTable.upsert``) into a bucketed lake table; a
commit that leaves the table at ``COMPACT_AT_FILES`` files or more is
followed by a ``compact`` op. The table is checked at the end of the run
against a last-write-wins computation in DuckDB over the same batches.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from fabrix_spark import pipe
from fabrix_spark.queries import REGISTRY
from fabrix_spark.sources.files import read_parquet
from fabrix_spark.sources.lake import LakeTable, compact

# the small-file level ``compact`` is written for: the "many-small-files"
# lake of the ``lake_compact_scan`` query and of
# tests/test_lake.py::test_compact_shrinks_file_count has 40 files
COMPACT_AT_FILES = 40
# a batch is one tenth of ``orders``, the size of the update set of the
# ``lake_ivm_maintain`` query (keys % 10 == 4)
BATCH_FRACTION = 0.1
# the bucket count of the signature-store lake the incremental dedup
# queries upsert into (``queries._prebuilt_sigstore``)
BUCKETS = 16


@dataclass
class Ctx:
    """What an op needs: the session, the input tables and, for the
    ingest workload, the lake under test."""

    spark: object
    sf_dir: str
    oracles: object
    lake: "LakeIngest | None" = None


class RegistryOp:
    """A registry query function (``fabrix_spark.queries.REGISTRY``)."""

    writes_lake = False

    def __init__(self, name: str):
        if name not in REGISTRY:
            raise KeyError(f"unknown registry query {name!r}")
        self.name = name

    def land(self, ctx: Ctx) -> None:
        pass

    def build(self, ctx: Ctx):
        return REGISTRY[self.name].fn(ctx.spark, ctx.sf_dir)

    def materialize(self, ctx: Ctx, df, collect: bool) -> tuple[pa.Table | None, dict]:
        if collect:
            return df.toArrow(), {}
        df.write.format("noop").mode("overwrite").save()
        return None, {}

    def expected(self, ctx: Ctx) -> pa.Table | None:
        sql = REGISTRY[self.name].oracle
        return None if sql is None else ctx.oracles.query(sql)


class _LakeOp:
    """An op on the lake under test (``Ctx.lake``); checked once, at the
    end of the run, against DuckDB's last-write-wins result."""

    writes_lake = True

    def land(self, ctx: Ctx) -> None:
        pass

    def build(self, ctx: Ctx):
        return None

    def expected(self, ctx: Ctx) -> None:
        return None


class UpsertOp(_LakeOp):
    """Land the next seeded batch (untimed), then upsert it. Each
    upsert rewrites every bucket it touches (all ``BUCKETS`` for a batch)
    and adds one file per bucket, so the compacted table (one file per
    bucket) reaches ``COMPACT_AT_FILES`` on every second commit: with two
    upserts per pass, every pass compacts once and the passes are alike."""

    name = "ingest_upsert"

    def land(self, ctx: Ctx) -> None:
        ctx.lake.land()

    def materialize(self, ctx: Ctx, df, collect: bool) -> tuple[None, dict]:
        return None, ctx.lake.commit()


class CompactOp(_LakeOp):
    """Small-file compaction of the lake under test; scheduled by the
    runner after a commit that leaves the lake due for it, never by
    itself."""

    name = "ingest_compact"

    def materialize(self, ctx: Ctx, df, collect: bool) -> tuple[None, dict]:
        return None, ctx.lake.compact()


COMPACT = CompactOp()


class LakeIngest:
    """A bucketed lake table of ``orders`` fed by seeded upsert batches.

    Each batch samples ``BATCH_FRACTION`` of the rows of ``orders``:
    about half keep their key and get a new price and status (updates),
    the rest get keys past the table's maximum (inserts). The even mix
    is a choice, not taken from a measured feed: it runs the replace and
    the insert side of the merge on equal shares of the batch."""

    KEY = "o_orderkey"

    def __init__(self, ctx: Ctx, root: Path, seed: int):
        self.spark = ctx.spark
        self.source = os.path.join(ctx.sf_dir, "orders.parquet")
        self.root = root
        self.batch_dir = root / "batches"
        self.batch_dir.mkdir(parents=True)
        self.table = LakeTable(ctx.spark, str(root / "orders"), index=self.KEY, buckets=BUCKETS)
        self.orders = pq.read_table(self.source)
        self.rng = np.random.default_rng(seed)
        self.batch_rows = round(self.orders.num_rows * BATCH_FRACTION)
        self.next_key = int(pc.max(self.orders[self.KEY]).as_py()) + 1
        self.n_batches = 0
        self._landed: tuple[Path, float] | None = None
        self.commit_s: list[float] = []

    def build(self) -> None:
        """The fixture: the whole ``orders`` table as the lake's first
        version, through the same pump."""
        pipe.dispatch(
            self.spark,
            lambda s: read_parquet(s, self.source),
            lambda fx: self.table.save(fx, "replace"),
        )

    def land(self) -> None:
        rng, n = self.rng, self.batch_rows
        batch = self.orders.take(rng.choice(self.orders.num_rows, n, replace=False))
        keys = batch[self.KEY].to_numpy().copy()
        new = rng.random(n) < 0.5
        keys[new] = np.arange(self.next_key, self.next_key + int(new.sum()))
        self.next_key += int(new.sum())
        price = np.round(batch["o_totalprice"].to_numpy() * rng.uniform(0.9, 1.1, n), 2)
        status = np.array(["F", "O", "P"])[rng.integers(0, 3, n)]
        for col, values in ((self.KEY, keys), ("o_totalprice", price), ("o_orderstatus", status)):
            i = batch.schema.get_field_index(col)
            batch = batch.set_column(i, col, pa.array(values, type=batch.schema.field(i).type))
        self.n_batches += 1
        path = self.batch_dir / f"b{self.n_batches:06d}.parquet"
        pq.write_table(batch, path)
        self._landed = (path, time.perf_counter())

    def commit(self) -> dict:
        path, landed = self._landed
        self._landed = None
        upsert_s = 0.0

        def write(fx) -> None:
            nonlocal upsert_s
            t0 = time.perf_counter()
            self.table.upsert(fx)
            upsert_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        pipe.dispatch(self.spark, lambda s: read_parquet(s, str(path)), write)
        t1 = time.perf_counter()
        self.commit_s.append(t1 - landed)
        return {
            "pipe.dispatch_s": t1 - t0,
            "lake.upsert_s": upsert_s,
            "landed_bytes": path.stat().st_size,
        }

    def compact(self) -> dict:
        t0 = time.perf_counter()
        compact(self.spark, self.table.path)
        return {"lake.compact_s": time.perf_counter() - t0}

    def files(self) -> int:
        return sum(1 for _ in Path(self.table.current_dir()).rglob("*.parquet"))

    def compaction_due(self) -> bool:
        return self.files() >= COMPACT_AT_FILES

    def actual(self) -> pa.Table:
        return self.table.read().df.toArrow()

    def expected(self, con) -> pa.Table:
        """Last write wins per key, over the base table then every landed
        batch in landing order, computed by DuckDB."""
        tbl = con.execute(
            f"""
            SELECT * EXCLUDE (_seq, _rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY {self.KEY} ORDER BY _seq DESC) AS _rn
              FROM (
                SELECT *, '' AS _seq FROM read_parquet('{self.source}')
                UNION ALL BY NAME
                SELECT * EXCLUDE (filename), filename AS _seq
                FROM read_parquet('{self.batch_dir}/*.parquet', filename = true)
              )
            ) WHERE _rn = 1
            """
        ).arrow()
        return tbl.read_all() if isinstance(tbl, pa.RecordBatchReader) else tbl


@dataclass(frozen=True)
class Workload:
    """A workload's ops; why it holds them is said in BENCHMARK.json."""

    ops: tuple
    # an untraced run measures at least this many whole passes, and
    # passes until --seconds have elapsed
    passes: int


def _registry(*names: str) -> tuple:
    return tuple(RegistryOp(n) for n in names)


def workloads() -> dict[str, Workload]:
    return {
        "relational": Workload(
            ops=_registry(
                "adt_groupby_agg",
                "adt_join_filter",
                "adt_window_topk",
                "adt_agg_window_subquery",
                "q1_pricing_summary",
                "q3_top_revenue_orders",
                "q6_revenue_forecast",
                "w_topk_orders_per_customer",
                "g_rollup",
            ),
            passes=3,
        ),
        "curation": Workload(
            ops=(UpsertOp(), UpsertOp())
            + _registry(
                "stream_ivm_replay",
                "d_jaccard_pairs",
                "sim_cosine_topk",
                "t_quality",
            ),
            passes=2,
        ),
    }
