"""lake_etl: the reference's medallion pattern on a feature branch.

Why this workload: the write-path layers — storage with MERGE, dev-branch
isolation, ``@etl`` schema checks, plan-derived lineage and the stream
drain — do the work here and the query library barely runs, so writes
sit beside ``query_mix``'s reads.

Set-up seeds a temporary lake from sf0.1 under a mount point and
selects the ``ENVIRONMENT_VARIABLE`` isolation provider with a feature
branch context, so ``storage.configure()`` returns an ``IsolatedStorage``
with a ``DataLineageLogger`` attached. Each pass runs three ``@etl`` ops
in seeded order:

* ``ingest``: a ``StreamFileInput`` → ``StreamFileOutput`` drain of a fixed
  events batch into a fresh target;
* ``silver``: bronze orders ⋈ lineitem, joined and aggregated in plain
  PySpark, written by a ``FileOutput`` in overwrite mode;
* ``upsert``: a ``MergeOutput`` applying a seeded orders batch of
  updates, inserts and deletes; inserts equal deletes, so the table keeps
  its row count.

After every op the benchmark checks its output against DuckDB, that the
sandbox lineage log gained exactly one row for the write, and that no
production file changed.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

from perfbench.common import diff, duck_result, median
from perfbench.ops import Op, check, timed

CONTEXT = "feature/perfbench"
N_UPDATES = N_INSERTS = N_DELETES = 500
OPS = ("ingest", "silver", "upsert")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority")

SILVER_SQL = """
SELECT o.o_orderstatus, o.o_orderpriority,
       count(DISTINCT o.o_orderkey) AS n_orders,
       count(*) AS n_lines,
       sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM read_parquet('{orders}') o JOIN read_parquet('{lineitem}') l
  ON l.l_orderkey = o.o_orderkey
GROUP BY ALL
"""


def _schemas():
    from pyspark.sql import types as T

    orders = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ])
    lineitem = T.StructType([  # the columns silver needs: a subset is enough
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
    ])
    events = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    silver = T.StructType([
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("n_orders", T.LongType()),
        T.StructField("n_lines", T.LongType()),
        T.StructField("revenue", T.DoubleType()),
    ])
    return orders, lineitem, events, silver


def _seed_table(src: str, dest_dir: str) -> None:
    os.makedirs(dest_dir, exist_ok=True)
    shutil.copyfile(src, os.path.join(dest_dir, "part-00000.parquet"))


def _written(path: str) -> str | None:
    """DuckDB's glob for the parquet files the engine wrote under
    ``path``, or None when it wrote none."""
    pattern = os.path.join(path, "*.parquet")
    return pattern if glob.glob(pattern) else None


def _parts(path: str) -> dict[str, tuple[int, int]]:
    """Data files under ``path``: relative name → (bytes, mtime ns)."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                st = os.stat(os.path.join(d, f))
                out[os.path.relpath(os.path.join(d, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


class LakeEtl:
    warmup_passes = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.mnt = os.path.join(ctx.work_dir, "mnt")
        self.iso = os.path.join(self.mnt, "jorvik_isolation", CONTEXT)
        self.inbox = os.path.join(ctx.work_dir, "inbox")

    # -- fixtures -------------------------------------------------------

    def setup(self) -> None:
        """Seed the lake and configure isolated, lineage-tracked storage."""
        from jorvik_spark import storage
        from jorvik_spark.data_lineage.observer import DataLineageLogger
        from jorvik_spark.storage.isolation_providers import CONTEXT_ENV_VAR

        d, mnt = self.ctx.data_dir, self.mnt
        _seed_table(f"{d}/orders.parquet", f"{mnt}/bronze/orders")
        _seed_table(f"{d}/lineitem.parquet", f"{mnt}/bronze/lineitem")
        _seed_table(f"{d}/events.parquet", f"{mnt}/landing/events")
        _seed_table(f"{d}/orders.parquet", f"{mnt}/gold/orders")
        _seed_table(f"{d}/orders.parquet", f"{self.iso}/gold/orders")
        os.makedirs(self.inbox, exist_ok=True)

        os.environ[CONTEXT_ENV_VAR] = CONTEXT
        conf = self.ctx.spark.conf
        conf.set("io.jorvik.storage.mount_point", mnt)
        conf.set("io.jorvik.storage.isolation_provider", "ENVIRONMENT_VARIABLE")
        conf.set("io.jorvik.data_lineage.log_path", f"{mnt}/_lineage/log")
        st = storage.configure()
        observers = getattr(getattr(st, "storage", None), "output_observers", [])
        if not isinstance(st, storage.IsolatedStorage) or not any(
                isinstance(o, DataLineageLogger) for o in observers):
            raise RuntimeError(f"storage.configure() gave {st!r}, not a lineage-tracked "
                               "IsolatedStorage")

        self.orders_schema, self.lineitem_schema, self.events_schema, self.silver_schema = \
            _schemas()
        self.load_keys()

    def load_keys(self) -> None:
        """The seeded key permutation the merge batches draw from."""
        import pyarrow.parquet as pq

        d = self.ctx.data_dir
        self.keys = pq.read_table(f"{d}/orders.parquet", columns=["o_orderkey"]) \
            .column(0).to_pylist()
        self.ctx.rng("keys").shuffle(self.keys)
        self.next_key = max(self.keys) + 1
        self.n_events = pq.ParquetFile(f"{d}/events.parquet").metadata.num_rows

    def prepare(self) -> None:
        """Oracles and the check baselines, outside ``setup_s``."""
        import duckdb

        self.duck = con = duckdb.connect()
        con.execute(f"CREATE TABLE gold AS SELECT * FROM read_parquet('{self.mnt}/gold/orders/*')")
        self.silver_oracle = duck_result(con, SILVER_SQL.format(
            orders=f"{self.mnt}/bronze/orders/*", lineitem=f"{self.mnt}/bronze/lineitem/*"))
        self.production = self.snapshot_production()
        self.lineage_rows: dict[str, int] = {}

    # -- inputs ---------------------------------------------------------

    def batch_rows(self, pass_id: int) -> list[dict]:
        """The seeded merge batch of one pass: deletes from the front of a
        seeded key permutation, updates from its back, inserts under keys
        never used before. Deletes are flagged by status ``D``."""
        import datetime

        rng = self.ctx.rng("batch", pass_id)
        deletes = self.keys[pass_id * N_DELETES:(pass_id + 1) * N_DELETES]
        end = len(self.keys) - pass_id * N_UPDATES
        updates = self.keys[end - N_UPDATES:end]
        inserts = range(self.next_key + pass_id * N_INSERTS,
                        self.next_key + (pass_id + 1) * N_INSERTS)

        def row(key, status):
            return {
                "o_orderkey": key,
                "o_custkey": rng.randrange(15000),
                "o_orderstatus": status or rng.choice(STATUSES),
                "o_totalprice": round(rng.uniform(1000, 500000), 2),
                "o_orderdate": datetime.datetime(1995, 1, 1)
                + datetime.timedelta(days=rng.randrange(2400)),
                "o_orderpriority": rng.choice(PRIORITIES),
            }

        return ([row(k, "D") for k in deletes] + [row(k, None) for k in updates]
                + [row(k, None) for k in inserts])

    def write_batch(self, pass_id: int) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.inbox, f"batch_{pass_id}.parquet")
        schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                            ("o_orderdate", pa.timestamp("us")),
                            ("o_orderpriority", pa.string())])
        pq.write_table(pa.Table.from_pylist(self.batch_rows(pass_id), schema), path)
        return path

    # -- the pass -------------------------------------------------------

    def order(self, pass_id: int) -> list[str]:
        ops = list(OPS)
        self.ctx.rng("order", pass_id).shuffle(ops)
        return ops

    def run_pass(self, pass_id: int, traced: bool) -> tuple[list[Op], dict]:
        tr = self.ctx.tracer
        self.drop_previous_ingest(pass_id)
        batch = self.write_batch(pass_id)
        layers = {"bytes_written": 0, "files_written": 0, "jobs": 0}
        ops = []
        for name in self.order(pass_id):
            op = Op(name, pass_id)
            tr.op = name
            group = f"perfbench-{pass_id}-{name}"
            before = _parts(self.iso) if traced else None
            with tr.job_group(self.ctx.spark, group):
                if name == "ingest":
                    self.ingest(op, pass_id)
                elif name == "silver":
                    self.silver(op)
                else:
                    self.upsert(op, pass_id, batch, layers)
            check(op, self.check_lineage(name, pass_id))
            check(op, self.check_production())
            if traced:
                after = _parts(self.iso)
                new = {k: v for k, v in after.items() if before.get(k) != v
                       and not k.startswith("_")}
                layers["bytes_written"] += sum(v[0] for v in new.values())
                layers["files_written"] += len(new)
                layers["jobs"] += tr.jobs(self.ctx.spark, group)
            ops.append(op)
        return ops, layers

    def ingest(self, op: Op, pass_id: int) -> None:
        from jorvik_spark import StreamFileInput, StreamFileOutput, etl

        tr, mnt = self.ctx.tracer, self.mnt
        target, ckpt = self.ingest_paths(pass_id)

        @etl(inputs=StreamFileInput(f"{mnt}/landing/events", schema=self.events_schema),
             outputs=StreamFileOutput(target, checkpoint=ckpt, schema=self.events_schema))
        def job(events):
            with tr.span("pipelines.etl.transform"):
                if self.ctx.inject == "ingest":
                    return events.filter("event_id % 100 <> 0")
                return events

        def body():
            (query,) = job.run()
            with tr.span("streaming.drain"):
                try:
                    query.processAllAvailable()
                finally:
                    query.stop()

        timed(op, body)
        if op.error:
            return
        files = _written(self.iso_of(target))
        got = files and self.duck.execute(
            f"SELECT count(*) FROM read_parquet('{files}')").fetchone()[0]
        if got != self.n_events:
            check(op, f"ingest wrote {got} rows, expected {self.n_events}")

    def silver(self, op: Op) -> None:
        from pyspark.sql import functions as F

        from jorvik_spark import FileInput, FileOutput, etl
        from jorvik_spark.storage.isolation_providers import CONTEXT_ENV_VAR

        tr, mnt = self.ctx.tracer, self.mnt

        @etl(inputs=[FileInput(f"{mnt}/bronze/orders", schema=self.orders_schema),
                     FileInput(f"{mnt}/bronze/lineitem", schema=self.lineitem_schema)],
             outputs=FileOutput(f"{mnt}/silver/order_revenue", mode="overwrite",
                                schema=self.silver_schema))
        def job(orders, lineitem):
            with tr.span("pipelines.etl.transform"):
                if self.ctx.inject == "silver":
                    orders = orders.filter("o_orderpriority <> '5-LOW'")
                return (
                    lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
                    .groupBy("o_orderstatus", "o_orderpriority")
                    .agg(F.countDistinct("o_orderkey").alias("n_orders"),
                         F.count(F.lit(1)).alias("n_lines"),
                         F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                         .alias("revenue"))
                )

        conf = self.ctx.spark.conf
        if self.ctx.inject == "lineage":
            conf.unset("io.jorvik.data_lineage.log_path")
        if self.ctx.inject == "production":
            os.environ[CONTEXT_ENV_VAR] = "main"
        try:
            timed(op, job.run)
        finally:
            conf.set("io.jorvik.data_lineage.log_path", f"{mnt}/_lineage/log")
            os.environ[CONTEXT_ENV_VAR] = CONTEXT
        if op.error:
            return
        files = _written(f"{self.iso}/silver/order_revenue")
        if not files:
            check(op, "no silver output in the sandbox")
        else:
            got = duck_result(self.duck, f"SELECT * FROM read_parquet('{files}')")
            check(op, diff(got, self.silver_oracle))

    def upsert(self, op: Op, pass_id: int, batch: str, layers: dict) -> None:
        from jorvik_spark import FileInput, etl
        from jorvik_spark.pipelines import MergeOutput

        tr = self.ctx.tracer
        table = f"{self.iso}/gold/orders"
        delete = None if self.ctx.inject == "merge" else "incremental.o_orderstatus = 'D'"

        @etl(inputs=FileInput(batch, schema=self.orders_schema),
             outputs=MergeOutput(f"{self.mnt}/gold/orders",
                                 merge_condition="full.o_orderkey = incremental.o_orderkey",
                                 delete_condition=delete, schema=self.orders_schema))
        def job(incremental):
            with tr.span("pipelines.etl.transform"):
                return incremental

        before = _parts(table)
        timed(op, job.run)
        self.replay(batch)
        if op.ok:
            check(op, self.check_gold(table))
        new = [k for k, v in _parts(table).items() if before.get(k) != v]
        layers["merge_rows_written"] = self.rows_in(table, new)

    # -- checks ---------------------------------------------------------

    def replay(self, batch: str) -> None:
        """Apply the batch to DuckDB's copy of the table: the oracle."""
        b = f"read_parquet('{batch}')"
        sets = ", ".join(f"{c} = b.{c}" for c in ORDER_COLS[1:])
        con = self.duck
        con.execute(f"DELETE FROM gold WHERE o_orderkey IN "
                    f"(SELECT o_orderkey FROM {b} WHERE o_orderstatus = 'D')")
        con.execute(f"UPDATE gold SET {sets} FROM {b} AS b "
                    "WHERE gold.o_orderkey = b.o_orderkey AND b.o_orderstatus <> 'D'")
        con.execute(f"INSERT INTO gold SELECT * FROM {b} WHERE o_orderstatus <> 'D' "
                    "AND o_orderkey NOT IN (SELECT o_orderkey FROM gold)")

    def check_gold(self, table: str) -> str:
        cols = ", ".join(c if c != "o_orderdate" else "CAST(o_orderdate AS TIMESTAMP)"
                         for c in ORDER_COLS)
        files = _written(table)
        if not files:
            return "no merged table in the sandbox"
        got = f"SELECT {cols} FROM read_parquet('{files}')"
        want = f"SELECT {cols} FROM gold"
        extra, missing = (self.duck.execute(
            f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            for a, b in ((got, want), (want, got)))
        if extra or missing:
            return f"merged table differs from the replay: {extra} extra, {missing} missing rows"
        return ""

    def table_rows(self) -> int:
        return self.duck.execute(
            f"SELECT count(*) FROM read_parquet('{self.iso}/gold/orders/*.parquet')").fetchone()[0]

    def check_lineage(self, name: str, pass_id: int) -> str:
        """The sandbox log must gain exactly one row for this op's output."""
        out = {"ingest": self.ingest_paths(pass_id)[0],
               "silver": f"{self.mnt}/silver/order_revenue",
               "upsert": f"{self.mnt}/gold/orders"}[name]
        out = self.iso_of(out)
        log = _written(f"{self.iso}/_lineage/log")
        if not log:
            return "no sandbox lineage log"
        rows = self.duck.execute(
            f"SELECT data_sources FROM read_parquet('{log}') "
            "WHERE output_path = ?", [out]).fetchall()
        seen = self.lineage_rows.get(out, 0)
        self.lineage_rows[out] = len(rows)
        if len(rows) != seen + 1:
            return f"lineage rows for {out}: {len(rows)}, expected {seen + 1}"
        if name == "silver":
            sources = " ".join(rows[-1][0] or [])
            if "bronze/orders" not in sources or "bronze/lineitem" not in sources:
                return f"silver lineage does not name the bronze sources: {sources}"
        return ""

    def snapshot_production(self) -> dict[str, str]:
        out = {}
        skip = os.path.join(self.mnt, "jorvik_isolation")
        for d, dirs, files in os.walk(self.mnt):
            if d == skip or d.startswith(skip + os.sep):
                continue
            for f in files:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, self.mnt)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    def check_production(self) -> str:
        now = self.snapshot_production()
        if now != self.production:
            changed = sorted(set(now.items()) ^ set(self.production.items()))
            self.production = now  # report each change once
            return f"production paths changed: {[c[0] for c in changed][:3]}"
        return ""

    # -- helpers --------------------------------------------------------

    def iso_of(self, path: str) -> str:
        return path.replace(self.mnt, os.path.join(self.mnt, "jorvik_isolation", CONTEXT), 1)

    def ingest_paths(self, pass_id: int) -> tuple[str, str]:
        return (f"{self.mnt}/raw/events/run_{pass_id}",
                f"{self.mnt}/_checkpoints/events/run_{pass_id}")

    def drop_previous_ingest(self, pass_id: int) -> None:
        """Keep the sandbox small: the last pass's stream output and
        checkpoint are not read again."""
        for p in self.ingest_paths(pass_id - 1):
            shutil.rmtree(self.iso_of(p), ignore_errors=True)

    def rows_in(self, table: str, names: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(os.path.join(table, n)).metadata.num_rows for n in names)

    def trace_probe(self) -> tuple[list[Op], dict]:
        return [], {}

    @staticmethod
    def layer_metrics(ops: list[Op], passes: list[dict], tracer) -> dict:
        def per_pass(fn):
            return median([fn(p["pass_id"]) for p in passes])

        def total(*names, **kw):
            return lambda pid: sum(sum(tracer.durations(n, pid, **kw)) for n in names)

        changed = N_UPDATES + N_INSERTS + N_DELETES
        lineage = "data_lineage.update"
        return {
            "streaming.drain_s": per_pass(total("streaming.drain")),
            "storage.basic.read_s": per_pass(total(
                "storage.basic.read", "storage.basic.readStream", exclude_under=lineage)),
            "storage.basic.write_s": per_pass(total(
                "storage.basic.write", "storage.basic.writeStream",
                exclude_under=lineage, minus_children=lineage)),
            "storage.basic.merge_s": per_pass(total(
                "storage.basic.merge", exclude_under=lineage, minus_children=lineage)),
            "storage.basic.exists_s": per_pass(total("storage.basic.exists")),
            "storage.basic.exists_calls": per_pass(
                lambda pid: len(tracer.durations("storage.basic.exists", pid))),
            "storage.isolation.overhead_s": per_pass(total("storage.isolation.", self_time=True)),
            "data_lineage.update_s": per_pass(total(lineage)),
            "pipelines.etl.verify_s": per_pass(total("pipelines.etl.verify")),
            "pipelines.etl.transform_s": per_pass(total("pipelines.etl.transform")),
            "pipelines.etl.jobs": median([p["jobs"] for p in passes]),
            "storage.basic.bytes_written": median([p["bytes_written"] for p in passes]),
            "storage.basic.files_written": median([p["files_written"] for p in passes]),
            "storage.basic.merge_rewrite_ratio": median(
                [p["merge_rows_written"] / changed for p in passes]),
        }
