"""``dml_mix``: writes beside reads on one growing table.

Set-up writes a seeded ``lineitem`` (30k orders, ~120k rows) as a
Delta table with deletion vectors and the change data feed on,
partitioned on ``l_returnflag``, and builds an aggregate MV over it.
Each timed cycle, with ~1% seeded batches keyed on
``(l_orderkey, l_linenumber)``: append, read, DELETE, UPDATE, MERGE
upsert (half the source rows match; the source of every even cycle
goes through a deterministic Python-UDF projection), MV refresh, read.
Cycle 0 and every 5th cycle after it also run OPTIMIZE (small files
only) and VACUUM. Checkpoints fire inside commits at the default
interval of 10.

There is no warm-up cycle: a cycle costs ~15-25 s, so the run budget
allows one timed cycle after set-up, and that cycle pays first-use
costs (JIT, codegen, Python workers) the same way on every run.
Set-up's write and MV build warm the write path.

A DuckDB :class:`Replica` applies the same seeded ops; every read's
count and sums are compared with it, and at the end the full table
(per-column sums plus an integer checksum) and the MV.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 30_000
BATCH = 0.01            # share of the orders one batch touches
READ_SHARE = 0.05       # share of the key space one read covers
PARTITION = "l_returnflag"
GROUP_COLS = ["l_returnflag", "l_linestatus"]
SUM_COLS = ["l_quantity", "l_extendedprice"]
VALUE_COLS = ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
              "l_discount", "l_tax", "l_linestatus", "l_shipdate"]
TABLE_CONF = {
    "delta.enableDeletionVectors": "true",
    "delta.enableChangeDataFeed": "true",
}
MAINTENANCE_EVERY = 5
INIT_COMMITS = 8
SMALL_FILE = 256 * 1024
CHECKSUM = (
    "l_orderkey * 7 + l_linenumber * 13 + CAST(ROUND(l_quantity * 100) AS BIGINT) * 31"
    " + CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 3"
    " + CAST(ROUND(l_discount * 100) AS BIGINT) * 17"
)


def read_sql(where: str) -> str:
    """Aggregate compared on every read (exact: decimal sums)."""
    return (
        "SELECT COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS q, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS p "
        f"FROM li WHERE {where}"
    )


class Replica:
    """The DuckDB oracle: one table ``li`` that receives the same
    seeded appends, deletes, updates and merges as the Delta table."""

    def __init__(self, table: pa.Table):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("init_t", table)
        self.con.execute("CREATE TABLE li AS SELECT * FROM init_t")
        self.con.unregister("init_t")

    def append(self, batch: pa.Table) -> None:
        self.con.register("b", batch)
        self.con.execute("INSERT INTO li SELECT * FROM b")
        self.con.unregister("b")

    def delete(self, where: str) -> int:
        n = self.con.execute(f"SELECT COUNT(*) FROM li WHERE {where}").fetchone()[0]
        self.con.execute(f"DELETE FROM li WHERE {where}")
        return n

    def update(self, sets: dict[str, str], where: str) -> int:
        n = self.con.execute(f"SELECT COUNT(*) FROM li WHERE {where}").fetchone()[0]
        body = ", ".join(f"{c} = {e}" for c, e in sets.items())
        self.con.execute(f"UPDATE li SET {body} WHERE {where}")
        return n

    def merge(self, src: pa.Table) -> tuple[int, int]:
        """Upsert on (l_orderkey, l_linenumber): matched rows take the
        source's value columns, unmatched source rows are inserted."""
        self.con.register("s", src)
        on = "li.l_orderkey = s.l_orderkey AND li.l_linenumber = s.l_linenumber"
        matched = self.con.execute(
            f"SELECT COUNT(*) FROM li JOIN s ON {on}").fetchone()[0]
        sets = ", ".join(f"{c} = s.{c}" for c in VALUE_COLS + [PARTITION])
        self.con.execute(f"UPDATE li SET {sets} FROM s WHERE {on}")
        inserted = self.con.execute(
            f"INSERT INTO li SELECT * FROM s WHERE NOT EXISTS "
            f"(SELECT 1 FROM li WHERE {on})").fetchone()[0]
        self.con.unregister("s")
        return matched, inserted

    def read(self, where: str) -> tuple:
        return tuple(self.con.execute(read_sql(where)).fetchone())

    def rows_from(self, lo: int, n: int) -> pa.Table:
        """Up to ``n`` live rows with ``l_orderkey >= lo``, in key order:
        a batch of existing keys for MERGE to match."""
        return self.con.execute(
            f"SELECT * FROM li WHERE l_orderkey >= {lo} "
            f"ORDER BY l_orderkey, l_linenumber LIMIT {n}"
        ).arrow()

    def checksum(self) -> tuple:
        return tuple(self.con.execute(
            f"SELECT COUNT(*), CAST(SUM({CHECKSUM}) AS VARCHAR), "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR), "
            "CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS VARCHAR), "
            "COUNT(DISTINCT l_linestatus || l_returnflag) FROM li"
        ).fetchone())

    def mv(self) -> dict:
        rows = self.con.execute(
            "SELECT l_returnflag, l_linestatus, COUNT(*), SUM(l_quantity), "
            "SUM(l_extendedprice) FROM li GROUP BY 1, 2"
        ).fetchall()
        return {(r[0], r[1]): tuple(r[2:]) for r in rows}


def spark_read(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("string").alias("q"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("string").alias("p"),
    ).collect()[0]
    return (r["n"], r["q"], r["p"])


def _norm(t: tuple) -> tuple:
    """None sums (empty reads) and DuckDB/Spark decimal spellings."""
    from decimal import Decimal

    return tuple(Decimal(x) if isinstance(x, str) else x for x in t)


def _udf_projection(df):
    """A deterministic Python UDF over a value column (identity on
    cent-valued doubles), the source shape the MERGE source-persist
    skip lets through."""
    from pyspark.sql import functions as F

    cents = F.udf(lambda x: None if x is None else round(x, 2), "double")
    return df.withColumn("l_tax", cents(F.col("l_tax")))


def _walk(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class DmlMix:
    name = "dml_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.path = os.path.join(ctx.workdir, "dml", "lineitem")
        self.mv_path = os.path.join(ctx.workdir, "dml", "lineitem_mv")
        self.stage = os.path.join(ctx.workdir, "dml", "stage")
        self.next_key = N_ORDERS
        self.seen: dict[str, int] = {}
        self.written = {"data": 0, "dv": 0, "log": 0}
        self.sent_bytes = 0
        self.rows_changed = 0
        self.rows_written_changed = 0
        self.first_timed_version = None
        self.vacuum_deleted = 0
        self.dv_files = self.dv_bytes = 0
        self.n_batches = 0

    # -- helpers --------------------------------------------------- #

    def _stage(self, table: pa.Table, name: str):
        """Write ``table`` as parquet and return a DataFrame over it
        (untimed: the op times the engine, not input staging)."""
        os.makedirs(self.stage, exist_ok=True)
        p = os.path.join(self.stage, f"{name}-{self.n_batches}.parquet")
        self.n_batches += 1
        pq.write_table(table, p)
        from pyspark.sql import functions as F

        df = self.ctx.spark.read.parquet(p)
        return df.withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))

    def _account(self, op) -> None:
        """Bytes this op wrote (new files under both tables), and
        whether it produced a checkpoint."""
        for root in (self.path, self.mv_path):
            for p, size in _walk(root).items():
                if p in self.seen:
                    continue
                self.seen[p] = size
                if op is None:  # set-up
                    continue
                name = os.path.basename(p)
                if "_delta_log" in p:
                    self.written["log"] += size
                    if ".checkpoint" in name:
                        op.info["checkpoint"] = True
                elif name.startswith("deletion_vector"):
                    self.written["dv"] += size
                elif not name.startswith("."):
                    self.written["data"] += size

    def _key_range(self, share: float) -> tuple[int, int]:
        w = max(1, int(self.next_key * share))
        lo = int(self.ctx.rng.integers(0, self.next_key - w))
        return lo, lo + w

    # -- set-up ---------------------------------------------------- #

    def setup(self) -> None:
        from deltalake_datafusion_spark.delta.mv import build_aggregate_mv
        from deltalake_datafusion_spark.delta.writer import write_delta

        import datagen

        ctx = self.ctx
        table = datagen.lineitem_table(ctx.rng, N_ORDERS)
        self.replica = Replica(table)
        # loaded as INIT_COMMITS appends of key-ordered slices: a write
        # makes one file per partition value, so this gives data files
        # over narrow key ranges (key-range predicates prune, DML
        # touches a few files), and cycle 0's third commit lands on
        # checkpoint version 10 (the default interval)
        step = -(-table.num_rows // INIT_COMMITS)
        for k in range(INIT_COMMITS):
            snap = write_delta(
                ctx.spark, self._stage(table.slice(k * step, step), "init"),
                self.path, partition_by=[PARTITION], configuration=TABLE_CONF)
        self.first_timed_version = snap.version + 1
        build_aggregate_mv(ctx.spark, self.path, self.mv_path, GROUP_COLS,
                           SUM_COLS)
        self._account(None)

    # -- ops -------------------------------------------------------- #

    def _append(self) -> None:
        from deltalake_datafusion_spark.delta.writer import write_delta

        import datagen

        ctx = self.ctx
        n = int(N_ORDERS * BATCH)
        batch = datagen.lineitem_table(ctx.rng, n, key_base=self.next_key)
        self.next_key += n
        df = self._stage(batch, "append")
        with ctx.tracer.op("append") as op:
            write_delta(ctx.spark, df, self.path, mode="append")
        self._account(op)
        if op.ok:
            self.replica.append(batch)
            self.sent_bytes += batch.nbytes

    def _read(self) -> None:
        from deltalake_datafusion_spark.delta.scan import read_delta

        ctx = self.ctx
        lo, hi = self._key_range(READ_SHARE)
        where = f"l_orderkey >= {lo} AND l_orderkey < {hi}"
        with ctx.tracer.op("read") as op:
            got = spark_read(read_delta(ctx.spark, self.path, predicate=where))
        if op.ok:
            want = self.replica.read(where)
            ctx.check(_norm(got) == _norm(want),
                      f"read {where}: spark {got} vs replica {want}")

    def _delete(self) -> None:
        from deltalake_datafusion_spark.delta.ops import delete_delta

        ctx = self.ctx
        lo, hi = self._key_range(BATCH)
        where = f"l_orderkey >= {lo} AND l_orderkey < {hi}"
        with ctx.tracer.op("delete") as op:
            res = delete_delta(ctx.spark, self.path, where)
        self._account(op)
        if op.ok:
            n = self.replica.delete(where)
            ctx.check(res["rows_deleted"] == n,
                      f"delete {where}: {res['rows_deleted']} rows, replica {n}")
            self.rows_changed += n

    def _update(self) -> None:
        from deltalake_datafusion_spark.delta.ops import update_delta

        ctx = self.ctx
        lo, hi = self._key_range(BATCH * 2)
        where = (f"l_orderkey >= {lo} AND l_orderkey < {hi} "
                 "AND l_linenumber <= 2")
        sets = {"l_quantity": "l_quantity + 1", "l_discount": "0.04"}
        with ctx.tracer.op("update") as op:
            update_delta(ctx.spark, self.path, sets, where)
        self._account(op)
        if op.ok:
            n = self.replica.update(sets, where)
            self.rows_changed += n
            self.rows_written_changed += n

    def _merge(self, i: int) -> None:
        from deltalake_datafusion_spark.delta.ops import merge_delta

        import datagen

        ctx = self.ctx
        n_new = int(N_ORDERS * BATCH) // 2
        fresh = datagen.lineitem_table(ctx.rng, n_new, key_base=self.next_key)
        self.next_key += n_new
        lo, _ = self._key_range(BATCH)
        matched = self.replica.rows_from(lo, fresh.num_rows)
        # >= 1 line per order, so this has at least as many rows
        upd = datagen.lineitem_table(ctx.rng, matched.num_rows)
        upd = upd.slice(0, matched.num_rows)
        cols = {}
        for c in fresh.column_names:
            if c in ("l_orderkey", "l_linenumber", PARTITION):
                cols[c] = matched.column(c).cast(fresh.schema.field(c).type)
            else:
                cols[c] = upd.column(c)
        src = pa.concat_tables([pa.table(cols).select(fresh.column_names), fresh])
        df = self._stage(src, "merge")
        if i % 2 == 0:
            df = _udf_projection(df)
        cond = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
        with ctx.tracer.op("merge") as op:
            merge_delta(ctx.spark, self.path, df, on=cond,
                        when_matched_update={c: f"s.{c}" for c in VALUE_COLS},
                        when_not_matched_insert=True)
        self._account(op)
        if op.ok:
            m, ins = self.replica.merge(src)
            self.sent_bytes += src.nbytes
            self.rows_changed += m + ins
            self.rows_written_changed += m + ins

    def _mv_refresh(self) -> None:
        from deltalake_datafusion_spark.delta.mv import refresh_aggregate_mv

        ctx = self.ctx
        with ctx.tracer.op("mv_refresh") as op:
            refresh_aggregate_mv(ctx.spark, self.path, self.mv_path,
                                 GROUP_COLS, SUM_COLS)
        self._account(op)

    def _note_dvs(self) -> None:
        """Deletion vectors the following read has to apply (OPTIMIZE
        later in the cycle purges them, so the end state would show
        none). Untimed, between ops."""
        from deltalake_datafusion_spark.delta.snapshot import load_snapshot

        snap = load_snapshot(self.path, spark=self.ctx.spark)
        dvs = [f.dv for f in snap.files if f.dv is not None]
        self.dv_files, self.dv_bytes = len(dvs), sum(d.size_in_bytes for d in dvs)

    def _maintain(self) -> None:
        from deltalake_datafusion_spark.delta.ops import optimize_delta
        from deltalake_datafusion_spark.delta.vacuum import vacuum

        ctx = self.ctx
        with ctx.tracer.op("optimize") as op:
            optimize_delta(ctx.spark, self.path, small_file_threshold=SMALL_FILE)
        self._account(op)
        with ctx.tracer.op("vacuum") as op:
            n = vacuum(ctx.spark, self.path, retain_hours=0,
                       enforce_retention_duration=False).count()
        if op.ok:
            self.vacuum_deleted += n
        self._account(op)

    def cycle(self, i: int) -> None:
        self._append()
        self._read()
        self._delete()
        self._update()
        self._merge(i)
        self._mv_refresh()
        self._note_dvs()
        self._read()
        if i % MAINTENANCE_EVERY == 0:
            self._maintain()

    # -- end-of-run checks and write accounting --------------------- #

    def finish(self) -> dict:
        from pyspark.sql import functions as F

        from deltalake_datafusion_spark.delta.scan import read_delta
        from deltalake_datafusion_spark.delta.snapshot import load_snapshot

        ctx = self.ctx
        with ctx.tracer.op("final_check", timed=False):
            df = read_delta(ctx.spark, self.path)
            r = df.agg(
                F.count(F.lit(1)),
                F.sum(F.expr(CHECKSUM)).cast("string"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("string"),
                F.sum(F.col("l_tax").cast("decimal(18,2)")).cast("string"),
                F.countDistinct(F.concat("l_linestatus", "l_returnflag")),
            ).collect()[0]
            got = tuple(r)
            mv_rows = read_delta(ctx.spark, self.mv_path).collect()
        want = self.replica.checksum()
        ctx.check(_norm(got) == _norm(want),
                  f"final table: spark {got} vs replica {want}")
        want_mv = self.replica.mv()
        got_mv = {
            (row["l_returnflag"], row["l_linestatus"]): (
                row["mv_count"],
                row["mv_sum_l_quantity"], row["mv_sum_l_extendedprice"])
            for row in mv_rows
        }
        ctx.check(set(got_mv) == set(want_mv)
                  and all(got_mv[k][0] == want_mv[k][0]
                          and all(abs(a - b) <= 1e-6 * max(1.0, abs(b))
                                  for a, b in zip(got_mv[k][1:], want_mv[k][1:]))
                          for k in want_mv),
                  f"final MV: spark {got_mv} vs replica {want_mv}")

        snap = load_snapshot(self.path, spark=ctx.spark, with_files=False)
        out = {
            "dv.files_with_dv": self.dv_files,
            "dv.bytes": self.dv_bytes,
            "vacuum.files_deleted": self.vacuum_deleted,
        }
        out.update(self._log_metrics(snap.version))
        written = sum(self.written.values())
        out["write_amp"] = written / self.sent_bytes if self.sent_bytes else 0.0
        out["written_bytes"] = dict(self.written)
        return out

    def _log_metrics(self, last_version: int) -> dict:
        """Per-cycle file counts from the commits of the timed phase
        (``add``/``remove`` actions and ``commitInfo.operationMetrics``)."""
        import json

        files_added = bytes_added = removed = dml_added = dml_out_rows = 0
        log = os.path.join(self.path, "_delta_log")
        for v in range(self.first_timed_version, last_version + 1):
            try:
                with open(os.path.join(log, f"{v:020d}.json")) as fh:
                    actions = [json.loads(line) for line in fh if line.strip()]
            except OSError:
                continue
            op_name = ""
            for a in actions:
                if "commitInfo" in a:
                    op_name = a["commitInfo"].get("operation", "")
                    m = a["commitInfo"].get("operationMetrics") or {}
                    if op_name in ("DELETE", "UPDATE", "MERGE", "OPTIMIZE"):
                        removed += int(m.get("numRemovedFiles", 0))
                        dml_added += int(m.get("numAddedFiles", 0))
                    if op_name in ("DELETE", "UPDATE", "MERGE"):
                        dml_out_rows += int(m.get("numOutputRows", 0))
                elif "add" in a:
                    files_added += 1
                    bytes_added += a["add"].get("size", 0) or 0
        cycles = max(1, self.ctx.notes.get("cycles", 1))
        copied = max(0, dml_out_rows - self.rows_written_changed)
        return {
            "writer.files_added": files_added / cycles,
            "writer.bytes_added": bytes_added / cycles,
            "writer.log_bytes": self.written["log"] / cycles,
            "ops.files_removed": removed / cycles,
            "ops.files_added": dml_added / cycles,
            "ops.rows_copied_per_row_changed": (
                copied / self.rows_changed if self.rows_changed else 0.0),
        }
