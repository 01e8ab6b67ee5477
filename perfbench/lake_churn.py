"""lake_churn: writes beside reads on a range-clustered snapshot table.

Set-up builds the table from generated rows (``write_snapshot`` of a
range-clustered frame, then a catalog ``register``); the runner times
several builds and keeps the last. Every pass starts from an untimed
copy of that pristine table and runs, timed:

    snapshot.pruned_read   read_snapshot with a key range the stats prune
    catalog.metadata_agg   COUNT/MIN/MAX/SUM/AVG through SnapshotCatalog.sql,
                           answered from metadata (no input files)
    sqldml.merge           MERGE INTO through the catalog: updates and inserts
    snapshot.append        five append_snapshot commits
    snapshot.delete        delete_where on a key range inside one append
    compact.binpack        binpack_snapshot folding the small generations
    snapshot.changes       read_changes since the pristine version
    snapshot.scan          full read_snapshot scan grouped by order status

The reads that need the clustered layout or the registered view run
before the merge rewrites the table; the others run after the writes.
Every answer is checked against a numpy model of the same operations.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from big_data_spark.catalog import SnapshotCatalog
from big_data_spark.io.compact import binpack_snapshot
from big_data_spark.io.snapshot import (
    append_snapshot,
    delete_where,
    latest_manifest,
    read_changes,
    read_snapshot,
    write_snapshot,
)

# Measured passes after the first. The pass wall still drifts down over
# them as the JIT settles; more passes did not narrow the spread between
# runs, which comes from whole runs being slow on a shared host.
PASSES = 3
BASE_ROWS = 1_000_000
BASE_FILES = 32
APPENDS = 5
APPEND_ROWS = 20_000
MERGE_ROWS = 10_000  # half update existing keys, half insert new ones
PRUNE_WIDTH = BASE_ROWS // 64
# Between an append generation (~0.3 MB) and the merged table (~15 MB).
SMALL_BYTES = 4 << 20
TABLE = "perfbench_orders"
SOURCE = "perfbench_merge_source"

READ_STAGES = (
    "snapshot.pruned_read",
    "catalog.metadata_agg",
    "snapshot.changes",
    "snapshot.scan",
)
WRITE_STAGES = ("snapshot.append", "sqldml.merge", "snapshot.delete", "compact.binpack")
STAGES = READ_STAGES + WRITE_STAGES
TABLE_STATS = ("snapshot.written_mb", "snapshot.files", "snapshot.manifest_kb")


def _cents():
    return F.round(F.col("o_totalprice") * 100).cast("long")


def _rows(rng: np.random.Generator, keys: np.ndarray) -> dict[str, np.ndarray]:
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, 150_001, n, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
        "cents": rng.integers(100, 50_000_000, n, dtype=np.int64),
    }


def _write_parquet(rows: dict[str, np.ndarray], path: str) -> None:
    table = pa.table(
        {
            "o_orderkey": rows["o_orderkey"],
            "o_custkey": rows["o_custkey"],
            "o_orderstatus": rows["o_orderstatus"].astype(str),
            "o_totalprice": rows["cents"] / 100.0,
        }
    )
    pq.write_table(table, path, row_group_size=1 << 17)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Model:
    """The expected answer of every read, from the generated rows."""

    def __init__(self, seed: int, indir: str):
        rng = np.random.default_rng(seed)
        n, a, m = BASE_ROWS, APPEND_ROWS, MERGE_ROWS // 2
        base = _rows(rng, np.arange(n))
        _write_parquet(base, os.path.join(indir, "base.parquet"))
        self.appends, appended = [], []
        for j in range(APPENDS):
            rows = _rows(rng, n + j * a + np.arange(a))
            path = os.path.join(indir, f"append{j}.parquet")
            _write_parquet(rows, path)
            self.appends.append(path)
            appended.append(rows)
        updated = np.sort(rng.choice(n, m, replace=False))
        inserted = n + APPENDS * a + np.arange(m)
        source = _rows(rng, np.concatenate([updated, inserted]))
        self.source = os.path.join(indir, "merge_source.parquet")
        _write_parquet(source, self.source)
        lo = int(rng.integers(0, n - PRUNE_WIDTH))
        self.prune = (lo, lo + PRUNE_WIDTH - 1)
        # Delete a quarter of the third append batch.
        self.delete = (n + 2 * a + a // 4, n + 2 * a + a // 2)

        cust, cents = base["o_custkey"], base["cents"]
        self.pruned = (PRUNE_WIDTH, int(cents[lo : lo + PRUNE_WIDTH].sum()))
        self.metadata = (n, 0, n - 1, int(cust.sum()), float(cust.mean()))
        base_sums = (n, int(base["o_orderkey"].sum()), int(cents.sum()))

        # Final table: the base with the merge's updates, the merge's
        # inserts and the appends, minus the deleted range.
        merged = {c: base[c].copy() for c in ("cents", "o_orderstatus")}
        for c in merged:
            merged[c][updated] = source[c][:m]
        self.after_merge = (n + m, int(merged["cents"].sum() + source["cents"][m:].sum()))
        final = {
            c: np.concatenate(
                [merged[c] if c in merged else base[c], source[c][m:]]
                + [r[c] for r in appended]
            )
            for c in ("o_orderkey", "o_orderstatus", "cents")
        }
        keys = final["o_orderkey"]
        keep = ~((keys >= self.delete[0]) & (keys < self.delete[1]))
        self.deleted = int((~keep).sum())
        final = {c: v[keep] for c, v in final.items()}
        # Per order status: (rows, key sum, price sum in cents).
        self.final = {}
        for st in np.unique(final["o_orderstatus"]):
            sel = final["o_orderstatus"] == st
            self.final[str(st)] = (
                int(sel.sum()),
                int(final["o_orderkey"][sel].sum()),
                int(final["cents"][sel].sum()),
            )
        totals = tuple(sum(v[i] for v in self.final.values()) for i in range(3))
        self.net_change = tuple(f - b for f, b in zip(totals, base_sums))


class Workload:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.indir = os.path.join(work, "in")
        self.model: Model | None = None
        self.catalog = None
        self.pristine: str | None = None
        self.pristine_files = 0
        self.base_sid = 0
        self.table: str | None = None
        self.answers: dict = {}
        self.attempted = 0
        self._setups = 0

    def generate(self) -> None:
        os.makedirs(self.indir, exist_ok=True)
        self.model = Model(self.seed, self.indir)

    def setup(self, spark) -> None:
        """Build and register the pristine table (timed as set-up)."""
        old = self.pristine
        self.pristine = os.path.join(self.work, f"pristine{self._setups}")
        self._setups += 1
        base = spark.read.parquet(os.path.join(self.indir, "base.parquet"))
        write_snapshot(base.repartitionByRange(BASE_FILES, "o_orderkey"), self.pristine)
        self.catalog = SnapshotCatalog(spark, versions="lazy")
        self.catalog.register(TABLE, self.pristine)
        if old is not None:
            shutil.rmtree(old)

    def ready(self, spark) -> None:
        """Untimed bookkeeping after the last set-up."""
        spark.read.parquet(self.model.source).createOrReplaceTempView(SOURCE)
        self.base_sid = latest_manifest(spark, self.pristine)["snapshot_id"]
        self.pristine_files = len(read_snapshot(spark, self.pristine).inputFiles())
        self._pristine_bytes = _dir_bytes(self.pristine)

    @staticmethod
    def phases(tl, start: float, end: float) -> tuple[float, float]:
        """(read_s, commit_s): the read and the write operations."""
        return (
            sum(tl.walls.get(s, 0.0) for s in READ_STAGES),
            sum(tl.walls.get(s, 0.0) for s in WRITE_STAGES),
        )

    def prepare(self, k: int) -> None:
        if self.table is not None:
            shutil.rmtree(self.table)
        self.table = os.path.join(self.work, f"pass{k}")
        shutil.copytree(self.pristine, self.table)
        self.catalog.register(TABLE, self.table)
        self.answers = {}

    def run(self, spark, tl, traced: bool) -> list[tuple[str, str]]:
        m, t, cat = self.model, self.table, self.catalog
        lo, hi = m.prune

        def pruned_read():
            df = read_snapshot(spark, t, predicate={"o_orderkey": (lo - 0.5, hi + 0.5)})
            self.answers["pruned_df"] = df
            return df.agg(F.count(F.lit(1)), F.sum(_cents())).collect()[0]

        def metadata_agg():
            df = cat.sql(
                "SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi, "
                f"SUM(o_custkey) AS s, AVG(o_custkey) AS a FROM {TABLE}"
            )
            self.answers["metadata_df"] = df
            return df.collect()[0]

        def append():
            return [append_snapshot(spark.read.parquet(p), t) for p in m.appends]

        def changes():
            feed = read_changes(spark, t, self.base_sid)
            return {
                r["_change_type"]: (r[1], r[2], r[3])
                for r in feed.groupBy("_change_type")
                .agg(F.count(F.lit(1)), F.sum("o_orderkey"), F.sum(_cents()))
                .collect()
            }

        def scan():
            return {
                r[0]: (r[1], r[2], r[3])
                for r in read_snapshot(spark, t)
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)), F.sum("o_orderkey"), F.sum(_cents()))
                .collect()
            }

        ops = [
            ("snapshot.pruned_read", pruned_read),
            ("catalog.metadata_agg", metadata_agg),
            (
                "sqldml.merge",
                lambda: cat.sql(
                    f"MERGE INTO {TABLE} AS t USING {SOURCE} AS s "
                    "ON t.o_orderkey = s.o_orderkey "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
                ),
            ),
            ("snapshot.append", append),
            (
                "snapshot.delete",
                lambda: delete_where(
                    spark, t, f"o_orderkey >= {m.delete[0]} AND o_orderkey < {m.delete[1]}"
                ),
            ),
            ("compact.binpack", lambda: binpack_snapshot(spark, t, small_bytes=SMALL_BYTES)),
            ("snapshot.changes", changes),
            ("snapshot.scan", scan),
        ]
        self.attempted = 0
        for label, op in ops:
            self.attempted += APPENDS if label == "snapshot.append" else 1
            try:
                self.answers[label] = tl.span(label, op)
            except Exception as e:  # noqa: BLE001 — a failed operation is counted
                return [(label, repr(e))]
        return []

    def check(self, spark) -> list[tuple[str, str]]:
        """Untimed: every answer against the model, and each operation
        doing the work its name says."""
        m, got, errors = self.model, self.answers, []

        def expect(label, ok, what):
            if not ok:
                errors.append((label, what))

        if "snapshot.pruned_read" in got:
            r = got["snapshot.pruned_read"]
            expect("snapshot.pruned_read", (r[0], r[1]) == m.pruned, f"{tuple(r)} != {m.pruned}")
            opened = len(got["pruned_df"].inputFiles())
            expect(
                "snapshot.pruned_read",
                opened < self.pristine_files,
                f"opened {opened} of {self.pristine_files} files",
            )
        if "catalog.metadata_agg" in got:
            r = got["catalog.metadata_agg"]
            n, lo, hi, s, a = m.metadata
            expect(
                "catalog.metadata_agg",
                (r["n"], r["lo"], r["hi"], r["s"]) == (n, lo, hi, s)
                and abs(r["a"] - a) <= 1e-9 * a,
                f"{tuple(r)} != {m.metadata}",
            )
            files = got["metadata_df"].inputFiles()
            expect("catalog.metadata_agg", not files, f"scanned {len(files)} files")
        if "sqldml.merge" in got:
            # The merge's own version: updated prices and inserted rows.
            sid = got["sqldml.merge"]["snapshot_id"]
            r = tuple(
                read_snapshot(spark, self.table, as_of=sid)
                .agg(F.count(F.lit(1)), F.sum(_cents()))
                .collect()[0]
            )
            expect("sqldml.merge", r == m.after_merge, f"{r} != {m.after_merge}")
        if "snapshot.delete" in got:
            d = got["snapshot.delete"]["deleted_rows"]
            expect("snapshot.delete", d == m.deleted, f"deleted {d} != {m.deleted}")
        if "compact.binpack" in got:
            f = got["compact.binpack"]["folded"]
            expect("compact.binpack", f >= 2, f"folded {f} generations")
        if "snapshot.changes" in got:
            feed = got["snapshot.changes"]
            ins = feed.get("insert", (0, 0, 0))
            dele = feed.get("delete", (0, 0, 0))
            net = tuple(i - d for i, d in zip(ins, dele))
            expect("snapshot.changes", net == m.net_change, f"net {net} != {m.net_change}")
        if "snapshot.scan" in got:
            r = got["snapshot.scan"]
            expect("snapshot.scan", r == m.final, f"{r} != {m.final}")
        self.answers = {}
        return errors

    def table_stats(self, spark) -> dict[str, float]:
        manifests = os.path.join(self.table, "_manifests")
        return {
            "snapshot.written_mb": (_dir_bytes(self.table) - self._pristine_bytes) / 1e6,
            "snapshot.files": len(read_snapshot(spark, self.table).inputFiles()),
            "snapshot.manifest_kb": _dir_bytes(manifests) / 1e3,
        }
