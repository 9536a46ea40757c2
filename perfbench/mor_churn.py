"""The merge-on-read churn cycle: reads and small writes sharing one table.

The table is the seeded ``orders`` (``sources.mor`` base, keyed by
``o_orderkey``). A cycle is ten ops in a fixed order (``CYCLE``): six reads
(``mor_read`` plus a key-range filter, or a per-status aggregate,
alternately), two 50-row ``mor_upsert`` batches, one 20-key ``mor_delete``,
and then the maintenance policy's ``mor_compact``, which counts in
``ops_per_s`` but not in the latency percentiles. The seed draws the keys,
prices and ranges: written keys are skewed toward a hot set and toward
recent keys (upserts past the highest key insert new orders). The order is
fixed because read cost depends on how many fragments a read sees: a seeded
order would make runs differ in work, not just in keys.

Read cost grows with the live fragment count and compaction resets it, so
a change that makes reads cheaper by making writes or compaction dearer, or
the reverse, shows in the cycle's per-layer numbers. Every read is checked
against a mirror of the applied upserts and deletes: row count, key sum and
price checksum. The ``batch`` workload opens every pass with one cycle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from f1_lakehouse_spark.sources import mor
from f1_lakehouse_spark.tables import load_table, table_path
from perfbench.harness import Ctx, median, percentile

KEY = "o_orderkey"
UPSERT_ROWS = 50
NEW_ROWS = 10
DELETE_KEYS = 20
HOT_KEYS = 300
RECENT_KEYS = 2000
RANGE_WIDTH = 2000

METRICS = {
    "mor.read_p50_ms": "ms",
    "mor.read_p90_ms": "ms",
    "mor.write_p50_ms": "ms",
    "mor.write_p90_ms": "ms",
    "mor.upsert_ms": "ms",
    "mor.delete_ms": "ms",
    "mor.read_frags_0_ms": "ms",
    "mor.read_frags_1_ms": "ms",
    "mor.read_frags_2_ms": "ms",
    "mor.read_frags_3plus_ms": "ms",
    "mor.fragments_at_read_mean": "count",
    "mor.fragments_at_read_max": "count",
    "mor.compact_s": "s",
    "mor.compactions": "count",
    "mor.compact_bytes_rewritten_mb": "MB",
    "mor.space_amp": "ratio",
    "mor.jobs_per_read": "jobs/op",
    "mor.jobs_per_write": "jobs/op",
}


class Mirror:
    """The table's expected contents: key -> row, updated by every write the
    benchmark applies, in the order it applies them."""

    def __init__(self, rows: pd.DataFrame):
        self.rows = rows.set_index(KEY, drop=False)

    def upsert(self, batch: pd.DataFrame) -> None:
        b = batch.set_index(KEY, drop=False)
        self.rows = pd.concat([self.rows.drop(b.index, errors="ignore"), b])

    def delete(self, keys) -> None:
        self.rows = self.rows.drop(list(keys), errors="ignore")

    @staticmethod
    def cents(prices) -> np.ndarray:
        return np.round(np.asarray(prices, dtype=np.float64) * 100).astype(np.int64)

    def range_summary(self, lo: int, hi: int) -> tuple[int, int, int]:
        """(rows, key sum, price-cents sum) over keys in [lo, hi)."""
        r = self.rows[(self.rows[KEY] >= lo) & (self.rows[KEY] < hi)]
        return len(r), int(r[KEY].sum()), int(self.cents(r["o_totalprice"]).sum())

    def status_summary(self) -> dict[str, tuple[int, int]]:
        """status -> (rows, price-cents sum)."""
        c = self.cents(self.rows["o_totalprice"])
        out = {}
        for status, idx in self.rows.groupby("o_orderstatus").indices.items():
            out[status] = (len(idx), int(c[idx].sum()))
        return out


# one cycle: reads see 0, 1, 1, 2, 2 and 3 live fragments; the compaction
# after the third commit resets the count
CYCLE = (
    "read", "upsert", "read", "read", "delete", "read", "read", "upsert", "read", "compact",
)


def _cents():
    return F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")


def range_read(spark, table_dir: str, lo: int, hi: int) -> tuple[int, int, int]:
    """(rows, key sum, price-cents sum) over keys in [lo, hi)."""
    row = (
        mor.mor_read(spark, table_dir, KEY)
        .filter((F.col(KEY) >= lo) & (F.col(KEY) < hi))
        .agg(F.count("*").alias("n"), F.sum(KEY).alias("keys"), _cents())
        .collect()[0]
    )
    return row["n"], int(row["keys"] or 0), int(row["cents"] or 0)


def status_read(spark, table_dir: str) -> dict[str, tuple[int, int]]:
    """status -> (rows, price-cents sum)."""
    rows = (
        mor.mor_read(spark, table_dir, KEY)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _cents())
        .collect()
    )
    return {r["o_orderstatus"]: (r["n"], int(r["cents"])) for r in rows}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def live_fragments(table_dir: str) -> int:
    """Committed fragment files in the live generation."""
    gen_dir = os.path.dirname(mor.base_dir(table_dir))
    n = 0
    for sub in ("inserts", "deletes"):
        p = os.path.join(gen_dir, sub)
        if os.path.isdir(p):
            n += sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    return n


class MorChurn:

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.table_dir = ""
        self.mirror: Mirror | None = None
        self.schema = None
        self.compact_bytes: list[int] = []
        self.next_key = 0
        self.hot = np.array([], dtype=np.int64)

    def stage(self) -> None:
        """Write the MoR base and load the mirror."""
        spark, d = self.ctx.spark, self.ctx.data_dir
        self.table_dir = os.path.join(self.ctx.work, f"mor-{os.path.basename(d)}")
        orders = load_table(spark, d, "orders")
        self.schema = orders.schema
        mor.mor_write_base(orders, self.table_dir)
        self.mirror = Mirror(pq.read_table(table_path(d, "orders")).to_pandas())
        self.next_key = int(self.mirror.rows[KEY].max()) + 1
        keys = self.mirror.rows[KEY].to_numpy()
        self.hot = keys[np.random.default_rng(self.ctx.seed).choice(len(keys), HOT_KEYS, replace=False)]

    # --- write batches ------------------------------------------------------

    def _written_keys(self, rng: np.random.Generator, n: int) -> list[int]:
        """Half from the live hot keys, half from the highest live keys."""
        present = self.mirror.rows.index
        hot = self.hot[np.isin(self.hot, present)]
        recent = np.sort(present.to_numpy())[-RECENT_KEYS:]
        pick = np.concatenate(
            [rng.choice(hot, n // 2, replace=False), rng.choice(recent, n - n // 2, replace=False)]
        )
        return sorted({int(k) for k in pick})

    def _upsert_batch(self, rng: np.random.Generator, first_new_key: int) -> pd.DataFrame:
        """Up to 40 live rows with new prices, plus ten new orders keyed
        from ``first_new_key``."""
        keys = self._written_keys(rng, UPSERT_ROWS - NEW_ROWS)
        batch = self.mirror.rows.loc[keys].reset_index(drop=True)
        batch["o_totalprice"] = np.round(rng.uniform(1000.0, 500_000.0, len(batch)), 2)
        new = batch.iloc[:NEW_ROWS].copy()
        new[KEY] = np.arange(first_new_key, first_new_key + len(new))
        return pd.concat([batch, new], ignore_index=True)

    # --- ops ------------------------------------------------------------------

    def _read(self, i: int, rng: np.random.Generator):
        spark, tr, table_dir = self.ctx.spark, self.ctx.tracer, self.table_dir
        frags = live_fragments(table_dir)
        if i % 2 == 0:
            lo = int(rng.integers(0, self.next_key))
            hi = lo + RANGE_WIDTH
            want = self.mirror.range_summary(lo, hi)

            def call():
                with tr.span("mor.read"):
                    return range_read(spark, table_dir, lo, hi)

        else:
            want = self.mirror.status_summary()

            def call():
                with tr.span("mor.read"):
                    return status_read(spark, table_dir)

        self.ctx.run_op("read", call, lambda got: None if got == want else f"{got} != {want}", frags=frags)

    def _upsert(self, rng: np.random.Generator) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        batch = self._upsert_batch(rng, self.next_key)
        self.next_key += NEW_ROWS

        def call():
            rows = spark.createDataFrame(batch, schema=self.schema)
            with tr.span("mor.upsert"):
                return mor.mor_upsert(spark, self.table_dir, KEY, rows)

        op = self.ctx.run_op(
            "upsert", call, lambda n: None if n == len(batch) else f"upserted {n} != {len(batch)}"
        )
        if op.ok:
            self.mirror.upsert(batch)

    def _delete(self, rng: np.random.Generator) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        keys = self._written_keys(rng, DELETE_KEYS)
        present = int(self.mirror.rows.index.isin(keys).sum())

        def call():
            with tr.span("mor.delete"):
                return mor.mor_delete(spark, self.table_dir, KEY, F.col(KEY).isin(keys))

        op = self.ctx.run_op(
            "delete", call, lambda n: None if n == present else f"deleted {n} != {present}"
        )
        if op.ok:
            self.mirror.delete(keys)

    def _compact(self, rng: np.random.Generator) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer

        def call():
            with tr.span("mor.compact"):
                mor.mor_compact(spark, self.table_dir, KEY)

        def check(_):
            # the bytes the fold rewrote: the new generation's base
            self.compact_bytes.append(dir_bytes(mor.base_dir(self.table_dir)))
            return None

        self.ctx.run_op("compact", call, check, in_latency=False)

    def run_cycle(self, rng: np.random.Generator) -> None:
        reads = 0
        for kind in CYCLE:
            if kind == "read":
                self._read(reads, rng)
                reads += 1
            else:
                {"upsert": self._upsert, "delete": self._delete, "compact": self._compact}[kind](rng)

    # --- per-layer numbers -------------------------------------------------------

    def layer_metrics(self, counts) -> dict[str, float]:
        ops = self.ctx.ops

        def ms(kinds) -> list[float]:
            return [op.seconds * 1000 for op in ops if op.kind in kinds]

        def mean(xs) -> float:
            return sum(xs) / len(xs) if xs else 0.0

        reads, writes = ms(("read",)), ms(("upsert", "delete"))
        frags = [op.info["frags"] for op in ops if op.kind == "read"]
        out = {
            "mor.read_p50_ms": median(reads),
            "mor.read_p90_ms": percentile(reads, 90),
            "mor.write_p50_ms": median(writes),
            "mor.write_p90_ms": percentile(writes, 90),
            "mor.upsert_ms": mean(ms(("upsert",))),
            "mor.delete_ms": mean(ms(("delete",))),
            "mor.fragments_at_read_mean": mean(frags),
            "mor.fragments_at_read_max": float(max(frags)),
            "mor.compact_s": mean(ms(("compact",))) / 1000,
            "mor.compactions": float(sum(1 for op in ops if op.kind == "compact")),
            "mor.compact_bytes_rewritten_mb": sum(self.compact_bytes) / 1e6,
            "mor.space_amp": dir_bytes(self.table_dir) / dir_bytes(mor.base_dir(self.table_dir)),
            "mor.jobs_per_read": mean([c[0] for c, op in zip(counts, ops) if op.kind == "read"]),
            "mor.jobs_per_write": mean([c[0] for c, op in zip(counts, ops) if op.kind in ("upsert", "delete")]),
        }
        for label, lo, hi in (("0", 0, 0), ("1", 1, 1), ("2", 2, 2), ("3plus", 3, 10**9)):
            out[f"mor.read_frags_{label}_ms"] = mean(
                [op.seconds * 1000 for op in ops if op.kind == "read" and lo <= op.info["frags"] <= hi]
            )
        return out
